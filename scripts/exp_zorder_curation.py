#!/usr/bin/env python
"""The clustered layout on the CURATION store (round 12) — does the
relational-side pruning lever transfer to the LLM-pipeline side?

Corpus curation re-scans the same document store over and over, almost
always through quality-feature bands (Gopher-style: word-count band ×
mean-word-length band; quality-score bands; length caps for packing).
A store laid out in arrival order reads every TEXT byte on every pass.
Curation pipelines already persist computed quality features alongside
the text — so cluster the store BY those features: the band predicate
then prunes row groups, and the bytes saved are the expensive ones
(the text column dominates the store).

Arms (same 50k-doc corpus — the 10x copy-prefixed text layout — with
n_tokens and avg_token_len computed once and stored as columns):

- ``arrival``  — arrival order (doc_id order; what a naive store has)
- ``bytokens`` — single-key sort on n_tokens (prunes the word-count
  band, nothing else)
- ``hilbert``  — 2-D Hilbert clustering on (n_tokens, avg_token_len)

Predicate: the middle band of both features (bounds from quantiles at
runtime so the box is data-independent: n_tokens middle ~36%,
avg_token_len middle ~50%). Measured as deterministic footer geometry
plus a timed curation pass (sum of text lengths in band — forces the
text bytes of kept groups to be read).

Usage: python scripts/exp_zorder_curation.py [docs_dir] [out_root]
``docs_dir`` needs documents.parquet (default: the documents of the
``scripts/bench_layout.py --layout x10`` layout, generated if absent).
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

ROW_GROUP_BYTES = 256 * 1024
NUM_FILES = 8


def main(argv: list[str]) -> int:
    docs_dir = argv[1] if len(argv) > 1 else "/tmp/sparkgraft-x10-sf0.1"
    out_root = argv[2] if len(argv) > 2 else "/tmp/sparkgraft-zorder-cur"
    # default per the bits-sizing law (BENCH.md round 12): this store
    # lands ~71 row groups -> (log2(71)+2)/2 ~ 4
    bits = int(argv[3]) if len(argv) > 3 else 4

    if not os.path.isdir(os.path.join(docs_dir, "documents.parquet")):
        from bench_layout import write_layout

        print(f"generating 10x documents -> {docs_dir}",
              file=sys.stderr, flush=True)
        write_layout("/root/testdata/sf0.1", docs_dir, "x10", tables=("documents",))

    from pyspark.sql import functions as F

    from aind_protein_data_transformation_spark.session import get_spark
    from aind_protein_data_transformation_spark.measure import interleaved_ab
    from aind_protein_data_transformation_spark.operators.layout import (
        layout_scan_fraction,
        zorder_layout,
    )

    spark = get_spark("exp-zorder-curation")
    docs = spark.read.parquet(os.path.join(docs_dir, "documents.parquet"))
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    feats = docs.select(
        "doc_id", "text", "lang", "source",
        F.size(toks).cast("double").alias("n_tokens"),
        (F.length(F.regexp_replace("text", r"\s+", "")).cast("double")
         / F.size(toks)).alias("avg_token_len"),
    ).filter(F.col("n_tokens") > 0)
    # the regex-tokenization projection feeds five downstream actions
    # (quantiles + three writes incl. the sketch pass) — materialize once
    feats.persist()
    feats.count()

    # data-independent band bounds from quantiles
    q = feats.approxQuantile(["n_tokens", "avg_token_len"],
                             [0.32, 0.68, 0.25, 0.75], 0.001)
    tok_lo, tok_hi = q[0][0], q[0][1]
    len_lo, len_hi = q[1][2], q[1][3]
    # Two passes, as a real curation pipeline runs them: one bands BOTH
    # features, one bands ONLY the secondary feature (the pass a
    # single-key store cannot prune at all).
    boxes = {
        "both_bands": {
            "pred": {"n_tokens": (tok_lo, tok_hi),
                     "avg_token_len": (len_lo, len_hi)},
            "filter": ((F.col("n_tokens") >= tok_lo)
                       & (F.col("n_tokens") <= tok_hi)
                       & (F.col("avg_token_len") >= len_lo)
                       & (F.col("avg_token_len") <= len_hi)),
        },
        "len_only": {
            "pred": {"avg_token_len": (len_lo, len_hi)},
            "filter": ((F.col("avg_token_len") >= len_lo)
                       & (F.col("avg_token_len") <= len_hi)),
        },
    }

    paths = {k: os.path.join(out_root, k)
             for k in ("arrival", "bytokens", "hilbert")}
    rg = str(ROW_GROUP_BYTES)
    (feats.repartitionByRange(NUM_FILES, "doc_id")
          .sortWithinPartitions("doc_id").write.mode("overwrite")
          .option("compression", "zstd").option("parquet.block.size", rg)
          .parquet(paths["arrival"]))
    (feats.repartitionByRange(NUM_FILES, "n_tokens")
          .sortWithinPartitions("n_tokens").write.mode("overwrite")
          .option("compression", "zstd").option("parquet.block.size", rg)
          .parquet(paths["bytokens"]))
    zorder_layout(feats, ["n_tokens", "avg_token_len"], paths["hilbert"],
                  bits=bits, num_files=NUM_FILES,
                  row_group_bytes=ROW_GROUP_BYTES, curve="hilbert")

    out = {
        "experiment": "zorder_curation_store",
        "docs_dir": docs_dir,
        "bounds": {"n_tokens": [tok_lo, tok_hi],
                   "avg_token_len": [len_lo, len_hi]},
        "boxes": {},
    }
    for box_name, box in boxes.items():
        geometry = {
            k: layout_scan_fraction(p, box["pred"]) for k, p in paths.items()
        }
        for k, g in geometry.items():
            print(f"  [{box_name}] {k}: "
                  f"{g['row_groups_kept']}/{g['row_groups']} groups, "
                  f"{g['fraction_rows_kept']:.3f} kept",
                  file=sys.stderr, flush=True)
        frames = {
            k: (spark.read.parquet(p).filter(box["filter"])
                .agg(F.sum(F.length("text")).alias("band_bytes"),
                     F.count(F.lit(1)).alias("band_docs")))
            for k, p in paths.items()
        }
        timing = interleaved_ab(frames, rounds=6)
        answers = {k: frames[k].collect()[0].asDict() for k in frames}
        base = answers["arrival"]
        out["boxes"][box_name] = {
            "band_docs": base["band_docs"],
            "answers_equal": all(a == base for a in answers.values()),
            "geometry": geometry,
            "timing": timing,
        }

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
