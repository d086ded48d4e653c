#!/usr/bin/env python
"""Capture the physical plans of the three index families' lifecycle
flows into ``<out_dir>/<family>_<flow>.txt``.

Usage: python scripts/capture_index_plans.py <out_dir> <work_dir> <sf_dir>

``<sf_dir>`` holds the ``documents.parquet`` / ``embeddings.parquet``
fixtures (the Tier-1 tests use the sf0.001 set). For each family
(minhash, srp, simhash) the script builds an index over a fixed split
of those documents / embeddings, then appends a shard, probes it and
compacts into a target. Every frame the flow hands to ``saveAsTable``
or to ``plans.scale.materialize`` (its ``localCheckpoint`` or
``checkpoint``) is recorded with its ``explain("formatted")`` text,
plus the probe's returned frame, so a refactor of the lifecycle can be
diffed flow by flow. Expression IDs, RDD ids and the work-dir /
warehouse / fixture paths are normalized so two runs of the same code
produce identical files. The package is imported from
the checkout the script lives in.
"""

from __future__ import annotations

import os
import re
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# python workers (the SRP GEMM signer) unpickle the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from pyspark.sql import DataFrameWriter  # noqa: E402
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

from aind_protein_data_transformation_spark.operators import (  # noqa: E402
    dedup,
    embedding_index,
    simhash_index,
)
from aind_protein_data_transformation_spark.session import get_spark  # noqa: E402

_records: list[tuple[str, str]] = []


def _plan(df) -> str:
    # explain a fresh Dataset over the same plan, leaving ``df``'s own
    # query execution untouched
    fresh = df.select("*")
    return fresh._sc._jvm.PythonSQLUtils.explainString(
        fresh._jdf.queryExecution(), "formatted"
    )


def _patch() -> None:
    save = DataFrameWriter.saveAsTable

    def save_as_table(self, name, *args, **kwargs):
        _records.append((f"saveAsTable {name}", _plan(self._df)))
        return save(self, name, *args, **kwargs)

    def recorded(method):
        original = getattr(DataFrame, method)

        def wrapper(self, *args, **kwargs):
            _records.append((method, _plan(self)))
            return original(self, *args, **kwargs)

        setattr(DataFrame, method, wrapper)

    DataFrameWriter.saveAsTable = save_as_table
    recorded("localCheckpoint")
    recorded("checkpoint")


def _normalize(text: str, work: str, warehouse: str, sf_dir: str) -> str:
    for path, tag in ((work, "<work>"), (warehouse, "<warehouse>"), (sf_dir, "<sf>")):
        text = text.replace(path, tag)
    text = re.sub(r"#\d+L?", "#N", text)
    text = re.sub(r"\w*RDD\[\d+\] at \w+ at [^\s,\]]+", "RDD[N]", text)
    return re.sub(r"plan_id=\d+", "plan_id=N", text)


def _flows(spark, work: str, sf_dir: str):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    corpus = docs.filter("pmod(hash(doc_id), 5) > 1")
    shard0 = docs.filter("pmod(hash(doc_id), 5) = 0")
    shard1 = docs.filter("pmod(hash(doc_id), 5) = 1")
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    vcorpus = vecs.filter("vec_id % 5 > 1")
    vshard0 = vecs.filter("vec_id % 5 = 0")
    vshard1 = vecs.filter("vec_id % 5 = 1")
    yield "minhash", "write", lambda: dedup.write_minhash_index(corpus, "pm", path=f"{work}/pm")
    yield "minhash", "append", lambda: dedup.append_minhash_shard(spark, shard1, "pm")
    yield "minhash", "probe", lambda: dedup.incremental_minhash_pairs(spark, shard0, "pm")
    yield "minhash", "compact", lambda: dedup.compact_minhash_index(
        spark, "pm", "doc_id", "pm_v2", path=f"{work}/pm_v2"
    )
    yield "srp", "write", lambda: embedding_index.write_srp_index(vcorpus, "ps", path=f"{work}/ps")
    yield "srp", "append", lambda: embedding_index.append_srp_shard(spark, vshard1, "ps")
    yield "srp", "probe", lambda: embedding_index.incremental_srp_pairs(spark, vshard0, "ps")
    yield "srp", "compact", lambda: embedding_index.compact_srp_index(
        spark, "ps", "vec_id", "ps_v2", path=f"{work}/ps_v2"
    )
    yield "simhash", "write", lambda: simhash_index.write_simhash_index(corpus, "pz", path=f"{work}/pz")
    yield "simhash", "append", lambda: simhash_index.append_simhash_shard(spark, shard1, "pz")
    yield "simhash", "probe", lambda: simhash_index.incremental_simhash_pairs(spark, shard0, "pz")
    yield "simhash", "compact", lambda: simhash_index.compact_simhash_index(
        spark, "pz", "doc_id", "pz_v2", path=f"{work}/pz_v2"
    )


def main() -> int:
    out_dir, work = sys.argv[1], os.path.abspath(sys.argv[2])
    sf_dir = os.path.abspath(sys.argv[3])
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture-index-plans")
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    _patch()
    try:
        for family, flow, fn in _flows(spark, work, sf_dir):
            _records.clear()
            out = fn()
            if isinstance(out, DataFrame):
                _records.append(("result", _plan(out)))
            path = os.path.join(out_dir, f"{family}_{flow}.txt")
            with open(path, "w") as fh:
                for label, plan in _records:
                    plan = _normalize(plan, work, warehouse, sf_dir)
                    fh.write(f"===== {label}\n{plan}\n")
            print(f"{family} {flow}: {len(_records)} plans")
        for r in spark.sql("SHOW TABLES").collect():
            if r.tableName.startswith(("pm", "ps", "pz")):
                spark.sql(f"DROP TABLE IF EXISTS {r.tableName}")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
