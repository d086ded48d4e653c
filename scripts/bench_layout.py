"""Scale harness: re-lay-out the sf tables, then bench both engines on them.

Every driver test table is ONE parquet file with ONE row group, so a
Spark scan stage is a single task regardless of split configuration,
while DuckDB parallelizes WITHIN a row group; and every table is ~10 MB,
so Spark's fixed per-query cost dominates the ratio. This script writes
a re-laid-out copy of the fixture and runs ``bench.py`` and
``scripts/bench_duckdb.py`` against it back-to-back (BENCH.md "Reading
the gate"):

    python scripts/bench_layout.py [--layout {shards,x10}] [sf_dir] [out_dir]

``--layout shards`` (default): the SAME rows split into up to 32 files
(~one per 64 KiB of source, one row group each, zstd), so both engines
shard their scans; dimension tables stay single-file. Runs the headline
suite (``SPARK_GRAFT_QUERIES`` narrows it, as for bench.py).

``--layout x10``: a FAITHFUL 10x copy of every table (~sf1 from sf0.1),
each copy written as its own file(s), big tables split to ~4 MB:

- relational tables shift every join key (``SHIFT``) by a disjoint
  per-copy offset, so orders x lineitem stays 1:4-ish instead of
  fanning out 100x, semi/anti keep their hit rates, and group counts
  stay fixed while group sizes grow 10x; ``region``/``nation`` keep
  one copy (their keys are shifted nowhere);
- ``documents`` shifts ``doc_id`` and prefixes the text with a
  copy-unique ``c<i>`` token: within-copy near-dup structure is kept
  exactly, and across copies only the drop-first-word mutants collide
  (a bounded 10-clique per 20th document, not the all-pairs blowup
  naive duplication would inject);
- ``embeddings`` shifts ``vec_id`` and rolls the dimensions by the copy
  index: every within-copy cosine is kept, cross-copy cosines are
  decorrelated.

The offset is divisible by 20 (mutant modulus) and 40 (centroid stride)
so each copy builds its near-dup probes identically. Runs the union of
the relational, text and embedding scale subsets (``X10_QUERIES``).

Both layouts print the spark and duckdb bench JSON lines, then a summary
with the per-query and total ratios; bench.py's per-query sidecar goes
to ``<out_dir>/bench_detail.json``. A layout already in ``out_dir`` is
reused as is.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = tuple(
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)

MAX_SHARDS = 32
BYTES_PER_SHARD = 64 * 1024

COPIES = 10
OFFSET = 10_000_000  # > every key domain at sf0.1
FILE_TARGET = 4 * 1024 * 1024

#: key columns shifted per copy, per table
SHIFT: dict[str, list[str]] = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
SINGLE = ("region", "nation")

X10_QUERIES = [
    # relational: linear bodies, constants flat in data size
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q7_nation_volume",
    "q8_market_share",
    "q10_returned_items",
    "q_outer_join_order_fill",
    "q_semi_join_customers_with_orders",
    "q_theta_join_price_band",
    "q_window_running_totals",
    "q_topk_per_group",
    "q_rollup_region_nation_revenue",
    "q_set_ops_customer_segments",
    "q_percentiles_exact",
    "asof_purchase_last_click",
    # text
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality_stats",
    "pipeline_clean_corpus",
    # embeddings: the linear registered queries
    "similarity_cosine_topk",
    "embedding_quantize_int8",
]


def scale_copy(table: pa.Table, name: str, i: int) -> pa.Table:
    """Copy ``i`` of table ``name`` in the x10 layout (module notes)."""
    if name == "documents":
        idx = table.schema.get_field_index("text")
        text = table.column("text").combine_chunks()
        prefix = pa.array([f"c{i}"] * table.num_rows)
        table = table.set_column(idx, "text", pc.binary_join_element_wise(prefix, text, " "))
    if name == "embeddings":
        emb = table.column("embedding").combine_chunks()
        vals = emb.flatten().to_numpy().reshape(table.num_rows, -1)
        rolled = np.roll(vals, -(i % vals.shape[1]), axis=1).reshape(-1)
        table = pa.table(
            {
                "vec_id": table.column("vec_id"),
                "embedding": pa.ListArray.from_arrays(emb.offsets, pa.array(rolled)),
                "label": table.column("label"),
            }
        )
    for key in SHIFT[name]:
        idx = table.schema.get_field_index(key)
        table = table.set_column(idx, key, pc.add(table.column(key), i * OFFSET))
    return table


def write_layout(
    sf_dir: str, out_dir: str, layout: str, tables: tuple[str, ...] = TABLES
) -> None:
    """Write ``tables`` of ``sf_dir`` into ``out_dir`` in ``layout``:
    one directory of ``part-<copy>-<split>.parquet`` files per table,
    replacing the table's directory if one is there."""
    for t in tables:
        src = os.path.join(sf_dir, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(dst)
        base = pq.read_table(src)
        size = os.path.getsize(src)
        if layout == "shards":
            n_copies, n_files = 1, min(MAX_SHARDS, max(1, size // BYTES_PER_SHARD))
        else:
            n_copies = 1 if t in SINGLE else COPIES
            n_files = max(1, math.ceil(size / FILE_TARGET))
        per = math.ceil(base.num_rows / n_files) if base.num_rows else 1
        written = 0
        for i in range(n_copies):
            table = base if layout == "shards" or t in SINGLE else scale_copy(base, t, i)
            for j in range(n_files):
                chunk = table.slice(j * per, per)
                if chunk.num_rows == 0:
                    break
                pq.write_table(
                    chunk,
                    os.path.join(dst, f"part-{i:03d}-{j:03d}.parquet"),
                    compression="zstd",
                    row_group_size=max(chunk.num_rows, 1),
                )
                written += 1
        print(
            f"  {t}: {base.num_rows} rows x {n_copies} -> {written} files",
            file=sys.stderr,
            flush=True,
        )


def main(argv: list[str]) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--layout", choices=("shards", "x10"), default="shards")
    parser.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    parser.add_argument("out_dir", nargs="?")
    args = parser.parse_args(argv[1:])
    out_dir = args.out_dir or (
        f"/tmp/sparkgraft-{args.layout}-{os.path.basename(args.sf_dir.rstrip('/'))}"
    )
    if all(os.path.isdir(os.path.join(out_dir, f"{t}.parquet")) for t in TABLES):
        print(f"reusing existing layout {out_dir}", file=sys.stderr, flush=True)
    else:
        print(f"{args.layout}: {args.sf_dir} -> {out_dir}", file=sys.stderr, flush=True)
        write_layout(args.sf_dir, out_dir, args.layout)

    # the per-query sidecar stays with the layout: with SPARK_GRAFT_SF_DIR
    # set, a full headline run would otherwise overwrite the committed
    # repo-root bench_detail.json
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": out_dir,
        "SPARK_GRAFT_DETAIL_PATH": os.path.join(out_dir, "bench_detail.json"),
    }
    if args.layout == "x10":
        env["SPARK_GRAFT_QUERIES"] = ",".join(X10_QUERIES)
    results = {}
    for tag, cmd in (
        ("spark", [sys.executable, os.path.join(REPO, "bench.py")]),
        ("duckdb", [sys.executable, os.path.join(REPO, "scripts", "bench_duckdb.py"), out_dir]),
    ):
        out = subprocess.run(
            cmd, env=env, cwd=REPO, capture_output=True, text=True, check=True
        ).stdout.strip().splitlines()[-1]
        results[tag] = json.loads(out)
        print(out, flush=True)

    sq = results["spark"]["queries"]
    dq = results["duckdb"]["queries"]
    summary = {
        "metric": "layout_ratio",
        "layout": args.layout,
        "spark_total": results["spark"]["value"],
        "duckdb_total": results["duckdb"]["value"],
        "total_ratio": round(results["spark"]["value"] / results["duckdb"]["value"], 3),
        "per_query_ratio": {k: round(sq[k] / dq[k], 2) if dq[k] > 0 else None for k in sq},
        "out_dir": out_dir,
    }
    print(json.dumps(summary), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
