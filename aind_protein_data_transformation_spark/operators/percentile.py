"""Distributed exact interpolated percentiles (quantile_cont semantics).

Spark's built-in ``percentile`` is a TypedImperativeAggregate: each
group's value->count map lives in ONE aggregation buffer on ONE
executor, outside whole-stage codegen. For a high-cardinality column
(e.g. prices) that buffer is O(distinct-per-group) heap with no spill —
the classic 100-TB OOM. This operator computes the *same exact value*
with plain shuffles and a window sort, both of which spill:

1. histogram: ``groupBy(group, value).count()`` — map-side partial
   combine, output is O(distinct) rows, never O(n);
2. cumulative ranks: one window pass per group ordered by value gives
   each distinct value its sorted rank interval ``[cum_start,
   cum_end)`` plus the group total ``n`` (sort is range-partitioned and
   spillable — no single buffer holds a group);
3. for target position ``h = p * (n-1)`` the rows holding ranks
   ``floor(h)`` and ``floor(h)+1`` are selected with conditional
   aggregation and linearly interpolated with the WEIGHTED form
   ``v_lo*(1-frac) + v_hi*frac`` — bit-identical to DuckDB
   ``quantile_cont`` (verified by ulp comparison at sf0.1; Spark's
   built-in ``percentile`` uses ``v_lo + frac*(v_hi-v_lo)``, which
   differs in the last ulp).

Cost: one shuffle for the histogram + one same-key shuffle for the
window, per *column* (all percentiles of a column share the passes).

The window form still sorts each group in ONE task (a window partition
is a group), so with FEW groups over HUGE data the sort doesn't
parallelize. :func:`column_percentiles_rank_select` removes that too —
the textbook two-phase rank-select: a fully-parallel bounded bucket
histogram locates which tiny value range holds each target rank, then a
second pruned pass exact-sorts only those buckets (a ~0.4%-wide value
slice each). No stage ever shuffles or sorts O(n) rows, at any group
count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def column_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    percentiles: list[tuple[float, str]],
    pre_aggregate: bool = True,
) -> DataFrame:
    """Exact percentiles of ``value_col`` per group: one row per group,
    one double column per ``(p, alias)`` requested.

    ``pre_aggregate=False`` skips the histogram groupBy and ranks raw
    rows directly (``row_number`` intervals of width 1) — one shuffle
    instead of two. Pick it when the column is near-unique (prices,
    timestamps), where the histogram would not shrink the relation;
    keep the default for low-cardinality columns, where the window then
    sorts O(distinct) rows instead of O(n)."""
    # SQL-string construction throughout (selectExpr / F.expr): the
    # composed-Column form of this plan costs ~0.5s of py4j round-trips
    # per build; the string form is the identical plan in a few calls.
    # Identifiers are backtick-quoted so column names with spaces/dots/
    # reserved words survive the string round-trip; empty group_cols
    # means GLOBAL percentiles (the window spec drops its PARTITION BY).
    qgroups = [f"`{c}`" for c in group_cols]
    qval = f"`{value_col}`"
    part = f"PARTITION BY {', '.join(qgroups)} " if group_cols else ""
    if pre_aggregate:
        hist = df.groupBy(*group_cols, value_col).agg(F.expr("count(*) AS cnt"))
        ranked = hist.selectExpr(
            *qgroups,
            f"CAST({qval} AS DOUBLE) AS v",
            "cnt",
            f"SUM(cnt) OVER ({part}ORDER BY {qval}) AS cum_end",
            f"SUM(cnt) OVER ({part.strip() or ''}) AS n",
        ).withColumn("cum_start", F.expr("cum_end - cnt"))
    else:
        ranked = df.selectExpr(
            *qgroups, f"CAST({qval} AS DOUBLE) AS v"
        ).selectExpr(
            "*",
            f"CAST(ROW_NUMBER() OVER ({part}ORDER BY v) AS BIGINT)"
            " AS cum_end",
            f"COUNT(*) OVER ({part.strip() or ''}) AS n",
        ).withColumn("cum_start", F.expr("cum_end - 1"))

    aggs = []
    for p, alias in percentiles:
        # literals carry the D suffix: bare SQL decimals parse as
        # DECIMAL, while the Column form used double lit(p) — keep the
        # arithmetic bit-identical
        lo = f"FLOOR(CAST(n - 1 AS DOUBLE) * {p!r}D)"
        aggs.extend(
            [
                F.expr(
                    f"max(CASE WHEN cum_start <= {lo} AND {lo} < cum_end "
                    f"THEN v END) AS __lo_{alias}"
                ),
                F.expr(
                    f"max(CASE WHEN cum_start <= {lo} + 1 AND {lo} + 1 < cum_end "
                    f"THEN v END) AS __hi_{alias}"
                ),
                F.expr(f"max(n) AS __n_{alias}"),
            ]
        )
    agged = ranked.groupBy(*group_cols).agg(*aggs)

    out = list(qgroups)
    for p, alias in percentiles:
        h = f"(CAST(__n_{alias} - 1 AS DOUBLE) * {p!r}D)"
        frac = f"({h} - CAST(FLOOR({h}) AS DOUBLE))"
        out.append(
            f"CASE WHEN {frac} > 0 THEN __lo_{alias} * (1.0D - {frac}) "
            f"+ __hi_{alias} * {frac} ELSE __lo_{alias} END AS {alias}"
        )
    return agged.selectExpr(*out)


#: sign-range separator for _log_bucket_id: |mag| <= 1100*subdivisions + subdivisions,
#: so any offset > that keeps positive / zero / negative id ranges disjoint.
_LOG_BID_OFFSET = 1 << 22


def _log_bucket_id(subdivisions: int = 256) -> F.Column:
    """Fixed MONOTONE bucket id for double column ``v`` — no data-derived
    bounds: sign-split (octave = floor(log2|v|), clamped to ±1100) ×
    ``subdivisions`` mantissa slots. Within an octave the mantissa slot
    is monotone; across octaves the octave term dominates; negatives
    mirror below ``-_LOG_BID_OFFSET``, zero sits at 0, positives above
    ``+_LOG_BID_OFFSET``. Robust to ±1 float error in floor(log2) at a
    power-of-two boundary: the two adjacent encodings (e, subdivisions)
    and (e+1, 0) produce the SAME id, so the mapping stays monotone
    non-decreasing — which is all rank-select needs (equal ids merely
    merge buckets). Relative bucket width is ~1/subdivisions, so
    phase 2 sorts a ~0.4%-wide value slice per targeted bucket."""
    av = F.abs(F.col("v"))
    e = F.greatest(
        F.lit(-1100), F.least(F.lit(1100), F.floor(F.log2(av)).cast("long"))
    )
    frac = av / F.pow(F.lit(2.0), e.cast("double")) - F.lit(1.0)
    sub = F.floor(
        F.greatest(F.lit(-1.0), F.least(frac, F.lit(1.999))) * F.lit(subdivisions)
    ).cast("long")
    mag = e * F.lit(subdivisions) + sub
    return (
        F.when(F.col("v") == 0, F.lit(0))
        .when(F.col("v") > 0, mag + F.lit(_LOG_BID_OFFSET))
        .otherwise(F.lit(-_LOG_BID_OFFSET) - mag)
    )


def log_bucket_id_sql(v_expr: str = "v", subdivisions: int = 256) -> str:
    """SQL-string twin of :func:`_log_bucket_id` (same constants, same
    arithmetic, bit-identical bucket ids). Exists so hot registered
    queries can be ONE static ``spark.sql`` statement — the Column-form
    plan build costs ~100 py4j crossings (~0.3-0.5s per call measured);
    the SQL string builds the identical plan in one crossing."""
    e = (
        f"GREATEST(-1100L, LEAST(1100L, "
        f"CAST(FLOOR(LOG2(ABS({v_expr}))) AS BIGINT)))"
    )
    sub = (
        f"CAST(FLOOR(GREATEST(-1.0D, LEAST(ABS({v_expr})/POWER(2.0D, "
        f"CAST({e} AS DOUBLE)) - 1.0D, 1.999D)) * {subdivisions}) AS BIGINT)"
    )
    mag = f"({e} * {subdivisions} + {sub})"
    return (
        f"CASE WHEN {v_expr} = 0 THEN 0L "
        f"WHEN {v_expr} > 0 THEN {mag} + {_LOG_BID_OFFSET}L "
        f"ELSE -{_LOG_BID_OFFSET}L - {mag} END"
    )


def column_percentiles_rank_select(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    percentiles: list[tuple[float, str]],
    octave_subdivisions: int = 256,
) -> DataFrame:
    """Two-phase exact percentiles: same result as
    :func:`column_percentiles`, but no per-group single-task sort.

    Phase 1: a bounded bucket histogram ``groupBy(group, bucket)`` —
    map-side combined, output is O(buckets-present) rows regardless of
    data size. A cumulative window over the *histogram* (bounded rows
    per group — trivial) finds which bucket holds each target rank.

    Phase 2: re-scan, keep only rows in target buckets (a broadcast
    join; ~n/buckets rows per bucket), rank them with a window
    partitioned by (group, bucket) — many small sorts, fully parallel —
    and pick the rows whose global rank is floor(h) / floor(h)+1.
    Interpolation is the DuckDB-weighted form.

    All exchanges are O(buckets present) or O(selected rows); the
    source is scanned twice (column-pruned).
    Skew caveat: a single repeated value can concentrate a bucket, but
    phase 2 only ever sorts the targeted buckets, and ties within a
    bucket carry equal values, so correctness is unaffected.

    Thin wrapper over :func:`multi_column_percentiles_rank_select`
    (the ``stack`` stage of the multi form degenerates to a plain
    projection for one column).
    """
    return multi_column_percentiles_rank_select(
        df, group_cols, {value_col: percentiles},
        octave_subdivisions=octave_subdivisions,
    )


def multi_column_percentiles_rank_select(
    df: DataFrame,
    group_cols: list[str],
    specs: dict[str, list[tuple[float, str]]],
    octave_subdivisions: int = 256,
) -> DataFrame:
    """Rank-select percentiles for SEVERAL value columns in ONE fused
    pipeline: ``specs`` maps value column -> [(p, alias), ...]; output
    is one row per group with every alias.

    The per-column form pays the whole two-phase plan (histogram
    shuffle, target join) once per column; fused, the columns are
    ``stack``-ed into (cid, v) rows so ONE bounded histogram and ONE
    pruned phase-2 pass serve them all — the column id simply joins
    every key. In-flight rows grow k-fold through the stack, but every
    exchange stays O(buckets present) or O(selected rows), and all
    windows partition by (group, cid[, bid]) — bounded inputs or
    many small parallel sorts, never a per-group O(n) single-task
    sort at any group count. Null values are excluded per column,
    matching ``quantile_cont``.

    Bucket ids come from a FIXED monotone log-bucketing of the double
    (sign-split octave × ``octave_subdivisions`` mantissa slots, see
    ``_log_bucket_id``): boundaries only need to be order-preserving,
    not equi-anything, so no min/max pre-pass exists at all — the
    equi-width form this replaced spent a full extra scan (plus a
    driver-side bounds collect) computing ranges, measured 33% slower
    end-to-end at 6M rows (BENCH.md round 4 plan work) for identical
    results. Bucket count is bounded by octaves-present ×
    subdivisions (~tens per octave of spread), and each phase-2 sort
    handles one bucket's ~0.4%-wide value slice.
    """
    cols = list(specs)
    k = len(cols)
    stack_args = ", ".join(f"'{c}', CAST(`{c}` AS DOUBLE)" for c in cols)
    quoted_groups = [f"`{g}`" for g in group_cols]
    rows = df.selectExpr(
        *quoted_groups, f"stack({k}, {stack_args}) AS (cid, v)"
    ).where(F.col("v").isNotNull())
    keys = [*group_cols, "cid"]
    bucketed = rows.withColumn("bid", _log_bucket_id(octave_subdivisions))

    # The histogram also carries per-bucket min/max: a SINGLE-VALUED
    # bucket (min == max — every bucket of a bounded-domain column like
    # an integer quantity, plus any pure-tie bucket) resolves ANY rank
    # inside it to that value straight from the histogram, so such
    # targets skip phase 2 entirely. Only multi-valued target buckets
    # pay the second scan + local sort — the histogram-window vs
    # rank-select plan choice the old hybrid made per COLUMN happens
    # here per BUCKET, data-adaptively, inside one operator; a query
    # whose target buckets are all single-valued never scans twice.
    w_part = Window.partitionBy(*keys)
    w_cum = Window.partitionBy(*keys).orderBy("bid")
    bc = (
        bucketed.groupBy(*keys, "bid")
        .agg(
            F.count("*").alias("cnt"),
            F.min("v").alias("vmin"),
            F.max("v").alias("vmax"),
        )
        .withColumn("n", F.sum("cnt").over(w_part))
        .withColumn("cum_end", F.sum("cnt").over(w_cum))
        .withColumn("cum_start", F.col("cum_end") - F.col("cnt"))
    )
    hit = None
    for c, percentiles in specs.items():
        for p, _alias in percentiles:
            h = (F.col("n") - F.lit(1)).cast("double") * F.lit(p)
            lo = F.floor(h)
            hi = F.least(lo + 1, F.col("n") - 1)
            cond = (F.col("cid") == c) & (
                ((F.col("cum_start") <= lo) & (lo < F.col("cum_end")))
                | ((F.col("cum_start") <= hi) & (hi < F.col("cum_end")))
            )
            hit = cond if hit is None else (hit | cond)
    targets = bc.where(hit).select(
        *keys, "bid", "cum_start", "cum_end", "n", "vmin", "vmax"
    )

    needy = targets.where(F.col("vmin") < F.col("vmax"))
    w_local = Window.partitionBy(*keys, "bid").orderBy("v")
    picked = (
        bucketed.join(
            F.broadcast(needy.select(*keys, "bid", "cum_start", "n")),
            [*keys, "bid"],
        )
        .withColumn(
            "grank", F.col("cum_start") + F.row_number().over(w_local) - F.lit(1)
        )
        # normalized to rank-interval form so phase-2 and direct rows
        # aggregate under ONE condition: v answers every rank in
        # [cum_start, cum_end)
        .select(
            *keys,
            "n",
            F.col("grank").alias("cum_start"),
            (F.col("grank") + F.lit(1)).alias("cum_end"),
            "v",
        )
    )
    direct = targets.where(F.col("vmin") == F.col("vmax")).select(
        *keys, "n", "cum_start", "cum_end", F.col("vmin").alias("v")
    )
    resolved = picked.unionByName(direct)

    aggs = []
    for c, percentiles in specs.items():
        is_c = F.col("cid") == c
        for p, alias in percentiles:
            h = (F.col("n") - F.lit(1)).cast("double") * F.lit(p)
            lo = F.floor(h)
            hi = F.least(lo + 1, F.col("n") - 1)
            at_lo = (F.col("cum_start") <= lo) & (lo < F.col("cum_end"))
            at_hi = (F.col("cum_start") <= hi) & (hi < F.col("cum_end"))
            aggs.extend(
                [
                    F.max(F.when(is_c & at_lo, F.col("v"))).alias(f"__lo_{alias}"),
                    F.max(F.when(is_c & at_hi, F.col("v"))).alias(f"__hi_{alias}"),
                    F.max(F.when(is_c, F.col("n"))).alias(f"__n_{alias}"),
                ]
            )
    agged = resolved.groupBy(*group_cols).agg(*aggs)

    out = [F.col(c) for c in group_cols]
    for c, percentiles in specs.items():
        for p, alias in percentiles:
            h = (F.col(f"__n_{alias}") - F.lit(1)).cast("double") * F.lit(p)
            frac = h - F.floor(h).cast("double")
            v_lo = F.col(f"__lo_{alias}")
            v_hi = F.col(f"__hi_{alias}")
            out.append(
                F.when(frac > 0, v_lo * (F.lit(1.0) - frac) + v_hi * frac)
                .otherwise(v_lo)
                .alias(alias)
            )
    return agged.select(*out)
