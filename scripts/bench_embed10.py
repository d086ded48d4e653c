#!/usr/bin/env python
"""10x EMBEDDING-corpus scale-up (companion to bench_scale10 / text10).

Faithful scaling: each of the 10 copies shifts vec_id by a disjoint
offset (divisible by both the mutant modulus 20 and the centroid
stride 40) and ROLLS the embedding dimensions by the copy index —
within-copy geometry (every cosine) is preserved exactly, while
cross-copy cosines are decorrelated (rolled axes), so near-dup
structure grows 10x linearly instead of the n-squared blowup naive
duplication would inject. The query workload stays fixed (the top-k
queries are `vec_id < 5` = copy 0 only), which is how a production ANN
serves: corpus grows, per-query work should grow only with bucket
size.

Three measurements:
1. Cross-engine at 10x on the LINEAR registered queries
   (similarity_cosine_topk brute force, embedding_quantize_int8) —
   bench.py vs scripts/bench_duckdb.py back-to-back, like text10.
2. Spark-only index-build scaling, 1x vs 10x in ONE session with a
   FIXED 50-centroid codebook (copy-0 stride picks — the scale-correct
   regime: centroid count is a design constant, not a data fraction):
   the oracle-parity HOF fold (`assign_buckets`) vs the production
   BLAS path (`assign_buckets_gemm`, one GEMM per Arrow batch,
   agreement-tested in tests/test_operators.py).
3. Spark-only `ivf_topk` ANN query at 1x vs 10x over the same fixed
   codebook — per-query cost should scale with bucket size (~10x),
   never with centroid-count x corpus.

The registered IVF/dedup queries keep their stride-derived centroid
counts because the DuckDB oracle must replay the index build — that is
a correctness-harness constant, not the scale configuration; this
script measures the scale configuration.

Usage: python scripts/bench_embed10.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

COPIES = 10
OFFSET = 10_000_000  # divisible by 20 (mutants) and 40 (stride picks)

CROSS_ENGINE_QUERIES = ["similarity_cosine_topk", "embedding_quantize_int8"]


def scale_embeddings(sf_dir: str, out_dir: str) -> None:
    src = os.path.join(sf_dir, "embeddings.parquet")
    dst = os.path.join(out_dir, "embeddings.parquet")
    os.makedirs(dst, exist_ok=True)
    base = pq.read_table(src)
    ids = base.column("vec_id").to_pylist()
    vecs = base.column("embedding").to_pylist()
    labels = base.column("label").to_pylist()
    dim = len(vecs[0])
    for i in range(COPIES):
        rolled = [v[i % dim:] + v[: i % dim] for v in vecs]
        t = pa.table(
            {
                "vec_id": pa.array([v + i * OFFSET for v in ids], pa.int64()),
                "embedding": pa.array(rolled, pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        )
        pq.write_table(
            t, os.path.join(dst, f"part-{i:03d}.parquet"), compression="zstd"
        )
    print(
        f"  embeddings: {len(ids)} rows x {COPIES} copies (dim {dim}, rolled)",
        file=sys.stderr,
        flush=True,
    )


PASSTHROUGH = (
    "region nation customer supplier part orders lineitem events documents"
).split()


def _noop_time(df, runs: int = 3) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def operator_scaling(sf_dir: str, out_dir: str) -> dict:
    """Measurement 2 + 3: one session, 1x then 10x, fixed codebook."""
    from pyspark.sql import functions as F

    from aind_protein_data_transformation_spark.catalog import load_table
    from aind_protein_data_transformation_spark.measure import interleaved_ab
    from aind_protein_data_transformation_spark.operators.similarity import (
        assign_buckets,
        assign_buckets_gemm,
        ivf_topk,
        quantize_int8_batch,
        srp_band_vals,
        srp_band_vals_gemm,
        stride_centroids,
    )
    from aind_protein_data_transformation_spark.session import get_spark

    spark = get_spark("bench-embed10")
    out: dict[str, dict[str, float]] = {}
    try:
        for tag, d in (("x1", sf_dir), ("x10", out_dir)):
            emb = load_table(spark, d, "embeddings")
            corpus = emb.select(
                F.col("vec_id").alias("vid"), F.col("embedding").alias("ve")
            )
            n = corpus.count()
            # fixed codebook: the 50 copy-0 stride picks at either scale
            cents = stride_centroids(
                corpus.filter(F.col("vid") < OFFSET), 40
            ).localCheckpoint()
            # warm the scan
            emb.write.format("noop").mode("overwrite").save()
            res = {"rows": n, "centroids": cents.count()}
            # A/B pairs go through the shared interleaved order-alternated
            # harness (measure.interleaved_ab) — sequential-block timing
            # is the bias that manufactured round 6's retracted claims.
            # ALL A/B sides go through the callable form so eager
            # construction work (the GEMM twins' dim-probe collect and
            # driver-side weight/centroid matrix build) is billed
            # inside the timed window on both sides — the same
            # prepared-frame shave the round-8 fair dispatch ladder
            # retired (BENCH.md round 8; ADVICE r8: prepared
            # frames prepay it, making the kernel side look better
            # than a cold caller would see). Numbers measured before
            # this change are kernel-optimistic by the construction
            # cost and not directly comparable.
            assign = interleaved_ab(
                {
                    "fold": lambda: assign_buckets(corpus, cents),
                    "gemm": lambda: assign_buckets_gemm(corpus, cents),
                },
                rounds=3,
            )
            res["assign_fold_s"] = assign["fold"]["best"]
            res["assign_gemm_s"] = assign["gemm"]["best"]
            q = emb.filter(F.col("vec_id") < 5).select(
                F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
            )
            c = emb.select(
                F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
            )
            res["ivf_topk_s"] = _noop_time(ivf_topk(q, c, cents, k=10, nprobe=2))
            # quantize: oracle-parity HOF PROJECTION (quantize_hof_frame
            # — deliberately NOT the registered query: its sorted_small
            # coalesce(1) fuses into the shuffle-free projection and
            # collapses the whole scan to ONE task, which would compare
            # one core against the batch kernel's 32) vs the
            # bit-identical Arrow-batch production kernel
            from aind_protein_data_transformation_spark.queries.llm_similarity import (
                quantize_hof_frame,
            )

            quant = interleaved_ab(
                {
                    "hof": lambda: quantize_hof_frame(emb),
                    "batch": lambda: quantize_int8_batch(emb),
                },
                rounds=3,
            )
            res["quantize_hof_s"] = quant["hof"]["best"]
            res["quantize_batch_s"] = quant["batch"]["best"]
            # SRP signature build (round 8): the map-only scale path of
            # the LSH-banded near-dup — fold vs one-matmul-per-batch
            srp = interleaved_ab(
                {
                    "fold": lambda: srp_band_vals(emb),
                    "gemm": lambda: srp_band_vals_gemm(emb),
                },
                rounds=3,
            )
            res["srp_fold_s"] = srp["fold"]["best"]
            res["srp_gemm_s"] = srp["gemm"]["best"]
            out[tag] = res
            spark.catalog.clearCache()
    finally:
        spark.stop()
    return out


def index_lifecycle(sf_dir: str, out_dir: str) -> dict:
    """Measurement 4 (round 8): the incremental SRP index's scale
    argument — probe cost tracks the SHARD, the batch re-run tracks
    the CORPUS. One session; at each scale the corpus is indexed once
    (build timed separately — it amortizes across every future shard),
    then a FIXED copy-0 mutant shard is (a) probed against the index
    (incremental_srp_pairs: sign the shard, join the bucketed bands,
    verify only collisions) vs (b) answered by re-running the banded
    batch pipeline over corpus+shard. Flat probe slope + growing batch
    slope is the lifecycle's payoff; the pair sets are asserted EQUAL
    on the straddling direction before timing, so both sides answer
    the same question."""
    from pyspark.sql import functions as F

    from aind_protein_data_transformation_spark.catalog import load_table
    from aind_protein_data_transformation_spark.measure import interleaved_ab
    from aind_protein_data_transformation_spark.functions.vector import (
        spark_dot_sql,
    )
    from aind_protein_data_transformation_spark.operators.embedding_index import (
        SRP_INDEX_THRESH,
        _en_expr,
        _sig_bands,
        incremental_srp_pairs,
        write_srp_index,
    )
    from aind_protein_data_transformation_spark.session import get_spark

    # ONE definition of the signer geometry + threshold for index,
    # probe, and the batch twin — a library-default retune cannot
    # desynchronize the two sides of the pair-set equality assert
    N_BITS, N_BANDS = 32, 4
    THRESH = SRP_INDEX_THRESH
    MUT_OFFSET = 1_000_000_000  # above every scaled vec_id
    MUT = (
        "transform(sequence(1, size(embedding)), i -> "
        "CAST(CAST(element_at(embedding, i) AS DOUBLE) "
        "+ 0.02 * ((i % 3) - 1) AS FLOAT))"
    )
    spark = get_spark("bench-embed10-index")
    out: dict[str, dict] = {}
    try:
        for tag, d in (("x1", sf_dir), ("x10", out_dir)):
            emb = load_table(spark, d, "embeddings").select("vec_id", "embedding")
            # fixed shard at both scales: copy-0 mutants
            shard = (
                emb.filter(f"vec_id % 20 = 0 AND vec_id < {OFFSET}")
                .selectExpr(f"vec_id + {MUT_OFFSET} AS vec_id", f"{MUT} AS embedding")
                .localCheckpoint()
            )
            name = f"bench_srp_idx_{tag}"
            t0 = time.perf_counter()
            write_srp_index(
                emb,
                name,
                path=f"/tmp/sparkgraft-srpidx-{tag}",
                n_bits=N_BITS,
                n_bands=N_BANDS,
            )
            build_s = round(time.perf_counter() - t0, 4)

            def batch_pairs():
                both = emb.unionByName(shard)
                bands = _sig_bands(both, "vec_id", "embedding", N_BITS, N_BANDS, True)
                en = both.select(
                    "vec_id", F.expr(_en_expr("embedding")).alias("en")
                )
                a, b = bands.alias("a"), bands.alias("b")
                cand = (
                    a.join(
                        b,
                        (F.col("a.band") == F.col("b.band"))
                        & (F.col("a.band_val") == F.col("b.band_val"))
                        & (F.col("a.vec_id") >= MUT_OFFSET)
                        & (F.col("b.vec_id") < MUT_OFFSET),
                    )
                    .select(
                        F.col("a.vec_id").alias("new_id"),
                        F.col("b.vec_id").alias("index_id"),
                    )
                    .distinct()
                )
                return (
                    cand.join(
                        en.select(
                            F.col("vec_id").alias("new_id"),
                            F.col("en").alias("en_new"),
                        ),
                        "new_id",
                    )
                    .join(
                        en.select(
                            F.col("vec_id").alias("index_id"),
                            F.col("en").alias("en_idx"),
                        ),
                        "index_id",
                    )
                    .select(
                        "new_id",
                        "index_id",
                        F.expr(
                            spark_dot_sql("en_new", "en_idx")
                        ).alias("cosine"),
                    )
                    .filter(f"cosine >= {THRESH}")
                    .groupBy("new_id", "index_id")
                    .agg(F.max("cosine").alias("cosine"))
                )

            def probe_pairs():
                return incremental_srp_pairs(
                    spark, shard, name, threshold=THRESH,
                    n_bits=N_BITS, n_bands=N_BANDS,
                )

            # both sides answer the same question (pair-set equality)
            p = {(r.new_id, r.index_id) for r in probe_pairs().collect()}
            bset = {(r.new_id, r.index_id) for r in batch_pairs().collect()}
            assert p == bset and p, (tag, len(p), len(bset))
            ab = interleaved_ab(
                # probe rebuilt per run: its shard checkpoint is already
                # materialized above, but the probe plan does an eager
                # table read per construction; batch is a pure plan
                {"probe": probe_pairs, "batch": batch_pairs},
                rounds=4,
            )
            out[tag] = {
                "corpus_rows": emb.count(),
                "shard_rows": shard.count(),
                "pairs": len(p),
                "index_build_s": build_s,
                "probe_s": ab["probe"]["best"],
                "batch_s": ab["batch"]["best"],
            }
            for t in (f"{name}_bands", f"{name}_vecs"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            spark.catalog.clearCache()
    finally:
        spark.stop()
    return out


def semdedup_scaling(sf_dir: str, out_dir: str) -> dict:
    """Measurement 5 (round 12, after dedup_semantic_keep's first
    driver row): the SemDeDup core's 1x->10x slope, DECOMPOSED, with
    stride-derived centroids at BOTH scales (centroid count grows with
    the corpus so cluster size stays ~stride — the regime the
    registered query models; the registered query itself pins its
    centroid filter to ids < 1e6 for oracle replay, which at this
    layout would freeze the codebook at copy-0 and measure the wrong
    thing, so this rebuilds the core from the same operators).

    The decomposition separates the two claims:
    - PAIR stage (the "cluster-bucketed, never all-pairs" claim):
      within-bucket join with ~constant cluster size -> expected
      ~linear in corpus.
    - ASSIGNMENT stage: nearest-centroid over N vectors x N/stride
      centroids is O(N^2/stride) BY CONSTRUCTION when the codebook is
      corpus-proportional — expected ~100x work at 10x. Reported
      honestly for the fold path and the production GEMM twin; the
      100-TB shape for corpus-proportional codebooks is hierarchical
      (coarse-quantize the centroids, assign via the IVF probe —
      the same two-level structure similarity_ivf_ann builds), which
      is why the registered query documents assignment as "the same
      index build similarity_ivf_ann probes"."""
    from pyspark.sql import functions as F

    from aind_protein_data_transformation_spark.catalog import load_table
    from aind_protein_data_transformation_spark.functions.vector import (
        dot,
        unit_normalize,
    )
    from aind_protein_data_transformation_spark.measure import interleaved_ab
    from aind_protein_data_transformation_spark.operators.similarity import (
        assign_buckets,
        assign_buckets_gemm,
        assign_buckets_ivf,
        stride_centroids,
    )
    from aind_protein_data_transformation_spark.session import get_spark

    TAU = 0.9
    STRIDE = 40
    spark = get_spark("bench-embed10-semdedup")
    out: dict[str, dict[str, float]] = {}
    try:
        for tag, d in (("x1", sf_dir), ("x10", out_dir)):
            emb = load_table(spark, d, "embeddings")
            corpus = emb.select(
                F.col("vec_id").alias("vid"),
                unit_normalize("embedding").alias("ve"),
            )
            cents = stride_centroids(corpus, STRIDE)
            emb.write.format("noop").mode("overwrite").save()  # warm scan
            res: dict[str, float] = {
                "rows": corpus.count(),
                "centroids": cents.count(),
            }

            def pair_stage(assigned):
                wb = corpus.join(assigned, "vid").select("vid", "ve", "bucket")
                a = wb.select(
                    F.col("vid").alias("id_a"), F.col("ve").alias("ea"), "bucket"
                )
                b = wb.select(
                    F.col("vid").alias("id_b"), F.col("ve").alias("eb"), "bucket"
                )
                dropped = (
                    a.join(b, "bucket")
                    .filter(F.col("id_a") < F.col("id_b"))
                    .filter(dot("ea", "eb") >= TAU)
                    .select(F.col("id_b").alias("did"))
                    .distinct()
                )
                return (
                    wb.join(dropped, wb.vid == dropped.did, "left")
                    .groupBy("bucket")
                    .agg(
                        F.count("*").alias("n_items"),
                        F.sum(
                            F.when(F.col("did").isNotNull(), 1).otherwise(0)
                        ).alias("n_dropped"),
                    )
                )

            # end-to-end (assignment fused in, fold path — the
            # registered query's shape)
            res["end_to_end_s"] = _noop_time(
                pair_stage(assign_buckets(corpus, cents))
            )
            # assignment alone: fold vs the production GEMM twin vs the
            # two-level hierarchical regime (round 12 — coarse stride at
            # its sqrt(K/nprobe) optimum per scale, so its flop count
            # grows ~N^1.5 where the flat paths grow N^2 with this
            # corpus-proportional codebook)
            ivf_stride = max(2, int((res["centroids"] / 2) ** 0.5))
            assign = interleaved_ab(
                {
                    "fold": lambda: assign_buckets(corpus, cents),
                    "gemm": lambda: assign_buckets_gemm(corpus, cents),
                    "ivf": lambda: assign_buckets_ivf(
                        corpus, cents, coarse_stride=ivf_stride, nprobe=2
                    ),
                },
                rounds=3,
            )
            res["assign_fold_s"] = assign["fold"]["best"]
            res["assign_gemm_s"] = assign["gemm"]["best"]
            res["assign_ivf_s"] = assign["ivf"]["best"]
            # pair stage alone over a PINNED assignment (localCheckpoint
            # so the timed plan cannot re-run the assignment)
            pinned = assign_buckets(corpus, cents).localCheckpoint()
            res["n_clusters"] = pinned.select("bucket").distinct().count()
            res["pair_stage_s"] = _noop_time(pair_stage(pinned))
            out[tag] = res
            spark.catalog.clearCache()
    finally:
        spark.stop()
    return out


def main(argv: list[str]) -> int:
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"
    out_dir = argv[2] if len(argv) > 2 else "/tmp/sparkgraft-embed10"
    if os.path.isdir(os.path.join(out_dir, "embeddings.parquet")):
        print(f"reusing existing layout {out_dir}", file=sys.stderr, flush=True)
    else:
        print(f"scaling embeddings x{COPIES} -> {out_dir}", file=sys.stderr, flush=True)
        scale_embeddings(sf_dir, out_dir)
        for t in PASSTHROUGH:
            dst = os.path.join(out_dir, f"{t}.parquet")
            os.makedirs(dst, exist_ok=True)
            pq.write_table(
                pq.read_table(os.path.join(sf_dir, f"{t}.parquet")),
                os.path.join(dst, "part-00000.parquet"),
                compression="zstd",
            )

    # 1) cross-engine on the linear registered queries
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": out_dir,
        "SPARK_GRAFT_QUERIES": ",".join(CROSS_ENGINE_QUERIES),
    }
    results = {}
    for tag, cmd in (
        ("spark_embed10", [sys.executable, os.path.join(REPO, "bench.py")]),
        (
            "duckdb_embed10",
            [sys.executable, os.path.join(REPO, "scripts", "bench_duckdb.py"), out_dir],
        ),
    ):
        out = subprocess.run(
            cmd, env=env, cwd=REPO, capture_output=True, text=True, check=True
        ).stdout.strip().splitlines()[-1]
        results[tag] = json.loads(out)
        print(out, flush=True)
    sq = results["spark_embed10"]["queries"]
    dq = results["duckdb_embed10"]["queries"]
    print(
        json.dumps(
            {
                "metric": "embed10_cross_engine_ratio",
                "spark_total": results["spark_embed10"]["value"],
                "duckdb_total": results["duckdb_embed10"]["value"],
                "per_query_ratio": {
                    k: round(sq[k] / dq[k], 2) if dq[k] > 0 else None for k in sq
                },
                "layout": out_dir,
            }
        ),
        flush=True,
    )

    # 2+3) operator-path scaling, one session
    scaling = operator_scaling(sf_dir, out_dir)
    summary = {"metric": "embed10_operator_scaling", **scaling}
    for key in (
        "assign_fold_s",
        "assign_gemm_s",
        "ivf_topk_s",
        "quantize_hof_s",
        "quantize_batch_s",
        "srp_fold_s",
        "srp_gemm_s",
    ):
        a, b = scaling["x1"][key], scaling["x10"][key]
        summary[f"{key}_x10_over_x1"] = round(b / a, 2) if a > 0 else None
    print(json.dumps(summary), flush=True)

    # 4) incremental index lifecycle: probe vs batch re-run
    life = index_lifecycle(sf_dir, out_dir)
    lsum = {"metric": "embed10_index_lifecycle", **life}
    for key in ("probe_s", "batch_s"):
        a, b = life["x1"][key], life["x10"][key]
        lsum[f"{key}_x10_over_x1"] = round(b / a, 2) if a > 0 else None
    lsum["batch_over_probe_x10"] = (
        round(life["x10"]["batch_s"] / life["x10"]["probe_s"], 2)
        if life["x10"]["probe_s"] > 0
        else None
    )
    print(json.dumps(lsum), flush=True)

    # 5) SemDeDup core slope, decomposed (round 12)
    sem = semdedup_scaling(sf_dir, out_dir)
    ssum = {"metric": "embed10_semdedup_scaling", **sem}
    for key in (
        "end_to_end_s",
        "assign_fold_s",
        "assign_gemm_s",
        "assign_ivf_s",
        "pair_stage_s",
    ):
        a, b = sem["x1"][key], sem["x10"][key]
        ssum[f"{key}_x10_over_x1"] = round(b / a, 2) if a > 0 else None
    print(json.dumps(ssum), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
