"""Distributed global prefix sum (running total over a TOTAL order).

``Window.orderBy(...)`` with no partition key funnels the whole relation
through ONE task (Spark even warns "No Partition Defined") — the classic
100-TB scale killer for running totals over a global order. This
operator computes the identical values with the textbook two-phase
scan:

1. range-repartition on the order column, so partition *i* holds a
   contiguous slice of the global order (the range exchange's sampling
   pass is parallel and bounded);
2. per-partition local running totals — a window PARTITIONED by
   ``spark_partition_id()``, i.e. many bounded sorts, fully parallel;
3. per-partition totals (k rows, k = shuffle partitions) get a running
   offset via a window over the k-row frame, and broadcast-join back.

No stage shuffles or sorts O(n) rows in one task at any data size; the
driver never sees data. The oracle twin is the plain global
``SUM(...) OVER (ORDER BY ...)`` — same values, single-threaded.

Reference scope: the reference has no running-total stage; this extends
the engine for the training-pipeline ops (sequence packing) per
SURVEY.md §2's addendum.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..plans.scale import materialize


def ntile_from_rank_sql(k: int, rank: str = "_rank", n: str = "_n") -> str:
    """SQL expression computing ``NTILE(k)`` from a 1-based global rank
    and the total row count — Spark's exact bucketing rule as a closed
    form: ``base = n div k``, ``rem = n mod k``; buckets 1..rem hold
    ``base+1`` rows, the rest ``base``. Combined with
    :func:`partitioned_prefix_sum` (rank = running count of ones) this
    replaces the unpartitioned NTILE window — the single-reducer global
    sort — with fully-distributed stages. Property-tested equal to the
    native ``ntile`` on random sizes (tests/test_properties.py)."""
    wide = f"({n} % {k}) * ({n} DIV {k} + 1)"
    return (
        f"CASE WHEN {rank} <= {wide} "
        f"THEN CAST(({rank} - 1) DIV ({n} DIV {k} + 1) + 1 AS INT) "
        f"ELSE CAST(({n} % {k}) + (({rank} - {wide} - 1) "
        f"DIV ({n} DIV {k})) + 1 AS INT) END"
    )


def partitioned_prefix_sum(
    df: DataFrame,
    order_col: str | Sequence[str],
    value_col: str,
    out_col: str = "prefix_sum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = inclusive running sum of ``value_col`` in
    ``order_col`` order (a single column or a composite key; the
    combined ordering must be unique — e.g. end with an id column).
    """
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    parts = (
        df.repartitionByRange(num_partitions, *order_cols)
        if num_partitions
        else df.repartitionByRange(*order_cols)
    )
    # Materializing pins the range partitioning: ``staged`` fans out
    # into two plan branches (local sums, per-partition offsets), and a
    # re-evaluated range exchange re-SAMPLES its boundaries — two
    # independent evaluations could assign rows different _pids, making
    # the recombined totals silently wrong. Either checkpoint outcome
    # makes both branches read the same partitions (and pays for itself:
    # the relation is consumed twice).
    staged = materialize(parts.withColumn("_pid", F.spark_partition_id()))

    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = staged.withColumn("_local", F.sum(value_col).over(w_local))

    # k rows (k = shuffle partitions): the exclusive running offset per
    # partition is a window over the TOTALS, not the data.
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        staged.groupBy("_pid")
        .agg(F.sum(value_col).alias("_ptot"))
        .select("_pid", F.coalesce(F.sum("_ptot").over(w_off), F.lit(0)).alias("_off"))
    )

    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.expr("_local + _off"))
        .drop("_pid", "_local", "_off")
    )
