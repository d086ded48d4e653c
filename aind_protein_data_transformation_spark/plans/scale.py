"""Scale levers: bucketed co-located joins and skew salting.

These are the two shuffle pathologies a 100 TB deployment hits that
AQE alone does not fully solve:

- **Repeated fact-fact joins on the same key** (orders ⋈ lineitem every
  run): bucketing both tables on the join key at write time makes every
  subsequent join shuffle-free — SortMergeJoin reads co-located buckets
  directly. The write cost amortizes across all downstream queries.
- **Skewed aggregation keys** (one hot key dominating a groupBy): AQE
  splits skewed *join* partitions, but a skewed aggregation still
  funnels the hot key through one task. Two-phase salting fans the hot
  key across ``n_salts`` partial aggregates, then merges.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and cut its lineage: the package's one way to
    compute a shared subtree once. The deployment picks the outcome;
    neither leaves a cache-manager entry to release (the checkpointed
    RDD is GC-managed, dropped with the last DataFrame over it).
    Executor-loss semantics of the two outcomes:

    - a checkpoint dir is set on the session
      (``spark.sparkContext.setCheckpointDir``) or named by
      ``$SPARK_GRAFT_CHECKPOINT_DIR``: ``df.checkpoint`` writes the
      relation there. Losing an executor is transparent, since a lost
      partition is re-read from the files, provided the dir is on
      shared storage (HDFS, an object store). Costs one distributed
      write; the context cleaner deletes the files once the last
      DataFrame over them is garbage-collected
      (``spark.cleaner.referenceTracking.cleanCheckpoints``, set by
      ``session.get_spark``).
    - otherwise ``df.localCheckpoint``: blocks are stored unreplicated
      on the executors and the lineage is gone, so losing an executor
      that holds a block fails the next job that reads it. On a
      single-JVM local master executor loss ends the application
      anyway, and this is the cheaper outcome.

    ``eager=False`` defers materialization to the first action (used by
    the connected-components round loop, where the convergence
    aggregate is that action)."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        ckdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
        if not ckdir:
            return df.localCheckpoint(eager=eager)
        sc.setCheckpointDir(ckdir)
    return df.checkpoint(eager=eager)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_cols: Sequence[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) table.

    Bucket count is a layout contract: joins between tables bucketed
    into the same ``n_buckets`` on their join keys need no exchange.
    Sorting within buckets additionally removes the join's sort step.
    ``path`` makes it an external table (tests use tmp dirs; production
    would pass an object-store URI).
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def bucketed_join_is_shuffle_free(spark: SparkSession, left: str, right: str, on: str) -> bool:
    """True iff joining the two saved tables on ``on`` plans no Exchange.

    The verification hook tests use; also handy operationally to assert
    a layout contract still holds after a schema change.
    """
    plan = (
        spark.table(left)
        .join(spark.table(right), on)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    return "Exchange" not in plan


def salted_sum(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n_salts: int = 8,
    out_col: str = "total",
) -> DataFrame:
    """Two-phase skew-proof sum: groupBy((key, salt)) -> groupBy(key).

    The salt must carry *per-row* entropy — salting by any function of
    the row's columns fails on the canonical skew case (one hot key,
    constant value: every row would land in one salt bucket).
    ``monotonically_increasing_id`` embeds the partition id in its high
    bits, so consecutive rows within each partition fan across all
    ``n_salts`` buckets. The salt assignment is not stable across runs,
    and doesn't need to be: the DECIMAL(25,6) partial sums are exact,
    so the merged result is identical for every possible assignment.
    Phase 1 bounds any single task's share of a hot key to ~1/n_salts;
    phase 2 merges n_salts rows per key — negligible.
    """
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(key_col, "_salt")
        .agg(F.sum(F.col(value_col).cast("decimal(25,6)")).alias("_partial"))
    )
    return (
        phase1.groupBy(key_col)
        .agg(F.sum("_partial").cast("double").alias(out_col))
    )


def explain_has(df: DataFrame, *needles: str) -> dict[str, bool]:
    """Which of ``needles`` appear in the executed plan — the assertion
    helper behind every plan-shape test (pushdown, broadcast, codegen)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {n: (n in plan) for n in needles}


def sorted_small(df: DataFrame, *cols: str | Column) -> DataFrame:
    """Total order for a provably-SMALL final result without a
    RangePartitioning exchange.

    A global ``orderBy`` plans a range exchange whose partitioner
    SAMPLES its child, re-executing the post-shuffle tail of the plan
    (measured: +0.6s on dedup_minhash_lsh at sf0.1). When the result is
    bounded by group cardinality / top-k / collision count — not by
    data size — a single-partition sort is strictly cheaper and gives
    the same deterministic order: ``coalesce(1)`` fuses into the final
    stage (no exchange, no sampling), and the one task sorts a few
    hundred rows. Never use this on data-sized output; that is what the
    real ``orderBy`` is for.
    """
    return df.coalesce(1).sortWithinPartitions(*cols)


def fanout_width(spark: SparkSession) -> int:
    """Target width for fanning a NARROW scan out before a CPU-dense
    kernel (tokenize / shingle / md5 over document text).

    A single-row-group parquet file scans as ONE task, so every
    expression fused into the scan stage — however expensive —
    serializes on one core; ``spark.sql.files.maxPartitionBytes``
    cannot split inside a row group. A round-robin ``REPARTITION(n)``
    of the raw rows ahead of the kernel costs one exchange of the
    input text and buys kernel parallelism plus doc-length skew
    balancing. Width = ``defaultParallelism`` (total cores): measured
    at sf0.1 (same-session best-of-5), the shingle+md5 pipeline runs
    1.14s unfanned, 1.14s at width 8 (shuffle.partitions — too narrow
    to matter), 0.98s at 32, 1.14s at 64 (scheduling overhead); the
    quality-stats projection drops 0.65s -> 0.35s at 32. On a cluster
    where the scan is already thousands of tasks, repartitioning to
    total-cores acts as a balanced coalesce — the exchange is sequential
    IO against a kernel that is ~10x its cost, and hot documents no
    longer pin a task. Queries whose per-row kernel is cheap skip it —
    the exchange outweighs the work: pipeline_clean_corpus (filter+agg
    downstream) measured 0.38 -> 0.50s fanned, and the q8
    broadcast-join probe over lineitem measured 0.50 -> 0.81s. The
    pattern pays ONLY where the fused kernel is CPU-dense (regex
    tokenization, shingling, cryptographic hashing)."""
    return spark.sparkContext.defaultParallelism
