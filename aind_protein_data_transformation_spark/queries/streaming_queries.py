"""Streaming queries checked by replay equivalence: each runs a real
Structured Streaming job (availableNow -> memory sink) and the oracle
is the equivalent BATCH query in DuckDB on the same events data.

Precision: window boundaries are epoch-aligned in both engines (Spark
``window()`` and DuckDB ``date_trunc``/arithmetic), and session starts
are compared as integer microseconds (same contract as the as-of
queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.events import read_events_stream, run_stream_to_memory
from .registry import query


@query(
    "streaming_tumbling_window",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows over the replayed events
    stream (real readStream -> windowed agg -> availableNow -> memory
    sink). Complete output mode emits every window, so the result must
    equal the batch date_trunc aggregation."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_stream_to_memory(agg, "tumbling").orderBy(
        "window_start", "event_type"
    )


@query(
    "streaming_sliding_window",
    oracle="""
    WITH expanded AS (
        SELECT CAST(date_trunc('hour', ts) - (k * INTERVAL 1 HOUR) AS TIMESTAMP)
                   AS window_start,
               event_type, value
        FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
    )
    SELECT window_start, event_type, COUNT(*) AS n_events
    FROM expanded
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h length, 1h slide): every event lands in two
    windows. The oracle expands each event into its two window starts
    explicitly — same epoch-aligned grid Spark's window() uses."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    return run_stream_to_memory(agg, "sliding").orderBy(
        "window_start", "event_type"
    )


@query(
    "streaming_session_window",
    oracle="""
    WITH ordered AS (
        SELECT user_id, epoch_ns(ts) // 1000 AS us,
               LAG(epoch_ns(ts) // 1000) OVER (PARTITION BY user_id
                                               ORDER BY epoch_ns(ts) // 1000) AS prev_us
        FROM events
    ),
    flagged AS (
        SELECT user_id, us,
               CASE WHEN prev_us IS NULL OR us - prev_us > 300000000
                    THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ),
    islands AS (
        SELECT user_id, us,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        FROM flagged
    )
    SELECT user_id, MIN(us) AS session_start_us, COUNT(*) AS n_events
    FROM islands
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start_us
    """,
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (5-minute gap) per user via Spark's
    native session_window stateful operator; the oracle reconstructs
    the identical sessions with the classic gaps-and-islands SQL.
    Session start compared as integer microseconds."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(
            F.session_window("ts", "5 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
        )
    )
    return run_stream_to_memory(agg, "session").orderBy(
        "user_id", "session_start_us"
    )


@query(
    "streaming_dedup",
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: every event duplicated in-stream
    (explode x2 — a second file source on the same path trips parquet
    basePath inference) -> dropDuplicates on event_id -> counts. The
    oracle is the distinct count on the single copy — equal iff the
    stateful dedup removed every doubled event."""
    ev = read_events_stream(spark, sf_dir)
    doubled = ev.withColumn(
        "copy", F.explode(F.array(F.lit(1), F.lit(2)))
    ).drop("copy")
    agg = (
        doubled.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )
    return run_stream_to_memory(agg, "dedup").orderBy("event_type")


@query(
    "streaming_stateful_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (§2B's
    arbitrary-state row): per-user running totals kept in GroupState
    across micro-batches, emitted as updates each batch. Values
    accumulate as integer micro-units inside the state so the result is
    exact and independent of arrival order — the replay (availableNow)
    must therefore equal the batch GROUP BY.

    At scale this is the shape for streaming per-key accumulators
    (counters, CUSUM, rate trackers) that windowed aggs can't express;
    state lives in the state store, partitioned by key, with
    checkpointed fault tolerance.
    """
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def totals(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, micros = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # exact integer accumulation: values have <= 6 decimals
            micros += int(round((pdf["value"] * 1_000_000).round().sum()))
        state.update((n, micros))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [micros / 1_000_000]}
        )

    ev = read_events_stream(spark, sf_dir)
    out = ev.groupBy("user_id").applyInPandasWithState(
        totals,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, micros long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    from pyspark.sql.window import Window

    totals_df = run_stream_to_memory(out, "stateful", output_mode="update")
    # Multi-batch replays emit one update row per key per batch: the
    # last update per key is the final total.
    latest = totals_df.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("user_id").orderBy(F.desc("n_events"))),
    )
    return latest.filter(F.col("rn") == 1).select(
        "user_id", "n_events", "total_value"
    ).orderBy("user_id")


@query(
    "streaming_dedup_watermark",
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` (§2B's bounded-state dedup):
    unlike plain dropDuplicates, state for an id is evictable once the
    watermark passes its event time + delay — the form that survives an
    unbounded stream. Duplicates here carry identical event times, so
    a 10-minute delay provably catches all of them; counts are applied
    batch-side to the deduplicated append output."""
    ev = read_events_stream(spark, sf_dir)
    doubled = ev.withColumn(
        "copy", F.explode(F.array(F.lit(1), F.lit(2)))
    ).drop("copy")
    dd = doubled.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = run_stream_to_memory(dd, "wm_dedup", output_mode="append")
    return (
        out.groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
        .orderBy("event_type")
    )


@query(
    "streaming_late_data_policy",
    oracle="""
    WITH agg AS (
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1
    ),
    wm AS (SELECT MAX(ts) - INTERVAL 30 MINUTE AS w FROM events)
    SELECT window_start, n_events, sum_value
    FROM agg, wm
    WHERE window_start + INTERVAL 1 HOUR <= w
    ORDER BY window_start
    """,
)
def streaming_late_data_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + append-mode late-data policy: a 1-hour tumbling agg
    under a 30-minute watermark emits a window only once the watermark
    passes its end — i.e. exactly the windows with
    ``window_end <= max(ts) - delay``; still-open windows are withheld.
    The oracle reproduces that emission rule in batch SQL, so the check
    pins the watermark semantics, not just the aggregation."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )
    return run_stream_to_memory(agg, "late_policy", output_mode="append").orderBy(
        "window_start"
    )


@query(
    "streaming_foreachbatch_sink",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` sink (§2B streaming row): each micro-batch lands
    as zstd parquet through the batch writer — the escape hatch for
    sinks Structured Streaming lacks natively (JDBC upserts, MERGE
    targets, multi-table fan-out). The replay check re-reads the files
    and aggregates; equality with the batch oracle proves every row
    arrived exactly once (availableNow + idempotent overwrite-by-batch).
    """
    import os
    import shutil
    import tempfile

    # fixed path, cleared up front — a fresh mkdtemp per invocation
    # leaks one landed copy of events per driver run
    out_dir = os.path.join(tempfile.gettempdir(), "spark_graft_feb_sink")
    shutil.rmtree(out_dir, ignore_errors=True)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").option("compression", "zstd").parquet(
            f"{out_dir}/batch={batch_id}"
        )

    ev = read_events_stream(spark, sf_dir)
    query_handle = (
        ev.writeStream.foreachBatch(write_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{out_dir}/_ckpt")
        .start()
    )
    query_handle.awaitTermination()

    landed = spark.read.parquet(f"{out_dir}/batch=*")
    return (
        landed.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )


@query(
    "streaming_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
    ORDER BY purchase_id, click_id
    """,
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join with watermarks and an event-time range
    condition: purchases joined to the same user's clicks from the
    preceding 10 minutes. Both sides carry a watermark and the join
    condition bounds event time on both ends, so Spark can size and
    expire the join state — the production shape for unbounded
    stream-stream joins (state is never the whole history). Inner-join
    rows emit as soon as both sides arrive; the availableNow replay is
    therefore deterministic and must equal the batch interval self-join
    the oracle runs. Append output mode (stream-stream joins support no
    other)."""
    ev = read_events_stream(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES")),
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        (
            F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts"))
        ).alias("gap_us"),
    )
    return run_stream_to_memory(joined, "stream_join", output_mode="append").orderBy(
        "purchase_id", "click_id"
    )


@query(
    "streaming_stream_left_join",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         c AS (SELECT * FROM events WHERE event_type = 'click'),
    wm AS (
        SELECT (least((SELECT max(epoch_us(ts)) FROM p),
                      (SELECT max(epoch_us(ts)) FROM c))
                - 3600000000) // 1000 * 1000 AS cutoff_us
    )
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
    WHERE epoch_us(p.ts) < (SELECT cutoff_us FROM wm)
    ORDER BY purchase_id, click_id
    """,
)
def streaming_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM LEFT OUTER join: every purchase emits, with NULL
    click columns when no click preceded it within 10 minutes.

    Outer results cannot emit until the watermark proves no matching
    click can still arrive, so unmatched purchases surface only after
    the watermark passes their event time (Spark runs the required
    no-data batch after the final availableNow batch — SPARK-24156 —
    which flushes every purchase older than the final watermark).
    Purchases the final watermark has NOT passed are still pending in
    state when the replay stops, so the deterministic contract
    restricts both engines to rows strictly below the final global
    watermark. That watermark is the MIN across both inputs (each
    side's max event time is per-type, not the table max, because the
    streams are filtered before withWatermark), minus the 1h delay,
    floored to Spark's millisecond watermark granularity. The cutoff
    scalar comes from one column-pruned aggregate over the events
    parquet (driver-side, one row — not a collect of data)."""
    ev = read_events_stream(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        "p_ts",
        (
            F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts"))
        ).alias("gap_us"),
    )
    replayed = run_stream_to_memory(
        joined, "stream_left_join", output_mode="append"
    )
    from ..catalog import load_table

    maxes = (
        load_table(spark, sf_dir, "events")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
            ).alias("p"),
            F.max(
                F.when(F.col("event_type") == "click", F.unix_micros("ts"))
            ).alias("c"),
        )
        .first()
    )
    cutoff_us = (min(maxes["p"], maxes["c"]) - 3_600_000_000) // 1000 * 1000
    return (
        replayed.filter(F.unix_micros("p_ts") < F.lit(cutoff_us))
        .select("purchase_id", "click_id", "user_id", "gap_us")
        .orderBy("purchase_id", "click_id")
    )


@query(
    "streaming_clustered_ingest",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE user_id BETWEEN 20 AND 60
      AND value BETWEEN 5.0 AND 50.0
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_clustered_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into a Z-order clustered lake table — the
    composition the layout operator exists for at 100 TB
    (operators/layout.py + tests/test_streaming_layout.py, measured
    BENCH.md round 12): ``foreachBatch`` lands every micro-batch as a
    clustered unit, so the table is ALREADY clustered on
    (user_id, value) as it arrives — no post-hoc re-layout pass,
    history never re-shuffled. The first batch's sketch pass snapshots
    the bin edges; every later batch reuses them (``edges=``), giving
    one key space and zero extra sketch passes per append — the
    write-side twin of the incremental LSH indexes'
    never-re-scan-history rule. Explicit ``bits`` keeps every batch in
    one exact key space (the operator's ``bits=None`` default would
    law-size per batch). The snapshot is PERSISTED as the lake's hidden
    ``_edges.json`` sidecar (``save_edge_snapshot``), so a restarted
    stream — new driver, empty memory — reloads the same key space
    instead of re-sketching into a different one (restart pinned in
    tests/test_streaming_layout.py).

    The landing is IDEMPOTENT per batch: ``foreachBatch`` is
    at-least-once under crash replay, so each micro-batch clusters
    into its own ``batch=<id>`` unit with ``mode="overwrite"`` — a
    replayed batch replaces its own (possibly partial) unit instead of
    appending a duplicate copy, the same overwrite-by-batch-id rule as
    the sibling ``streaming_foreachbatch_sink``. Per-batch units cost
    the pruning nothing — row-group min/max boxes are a per-group
    property regardless of which unit holds the group — and they are
    the natural compaction granularity: ``compact_ingest_units`` folds
    the older units into one re-clustered ``batch=c<lo>-<hi>`` unit
    (verify-then-promote; the commit point is a ``_FOLD_COMMITTED``
    marker PUT after every data object, so a crashed fold is
    invisible to readers and repaired losslessly by range containment)
    on whatever cadence the incremental-vs-global gap justifies. The fold
    RETAINS the subsumed units for one generation (deleted by the NEXT
    fold's repair pass), so a reader that resolved its unit list just
    before a fold keeps its files alive across it — which is why reads
    go through ``read_ingest_lake`` / ``resolve_ingest_units`` (span-
    filtered listing, exactly one copy in every lifecycle state) rather
    than a raw ``batch=*`` glob, which would double-count the retained
    generation on a folded lake. A transactional single-dir
    ``mode="append"`` landing remains the right shape on stores with
    atomic commit (Delta-style); on plain parquet, batch-keyed
    overwrite is the form that makes replay exactly-once.

    The returned answer is the predicate shape the layout serves — a
    multi-column (user_id, value) box with NO time term, which an
    arrival-time layout cannot prune — aggregated from the files the
    stream just wrote. The oracle runs the same box aggregate on the
    source events table: replay equivalence proves every row landed
    exactly once AND the cluster-write lost, duplicated, re-typed
    nothing. (The pruning geometry itself is deterministic
    footer-measured in tests/test_streaming_layout.py; correctness
    rows check answers, not clocks.)"""
    import os
    import shutil
    import tempfile

    from ..operators.layout import (
        load_edge_snapshot,
        read_ingest_lake,
        save_edge_snapshot,
        zorder_layout,
    )

    # fixed path, cleared up front: append-mode clustering accumulates
    # files, so a fresh dir per invocation (mkdtemp) would leak a full
    # clustered copy of events into /tmp on every driver run. Fixed
    # paths assume one runner per machine — the repo-wide sink-query
    # convention (sink_parquet_roundtrip etc.), and the bench/verify
    # docs already forbid concurrent Spark workloads here.
    out_root = os.path.join(tempfile.gettempdir(),
                            "spark_graft_clustered_ingest")
    shutil.rmtree(out_root, ignore_errors=True)
    lake = f"{out_root}/lake"
    # the edge snapshot is PERSISTED next to the data (_edges.json):
    # a restarted ingest (new driver, empty memory) reloads it instead
    # of re-sketching, so every batch before and after a restart shares
    # one exact key space (restart pinned in tests/test_streaming_layout)
    state: dict = {"edges": load_edge_snapshot(lake, spark)}

    def land(batch_df: DataFrame, batch_id: int) -> None:
        fresh = state["edges"] is None
        state["edges"] = zorder_layout(
            batch_df, ["user_id", "value"], f"{lake}/batch={batch_id}",
            bits=5, num_files=2, mode="overwrite", edges=state["edges"],
        )
        if fresh:
            save_edge_snapshot(lake, state["edges"], spark)

    ev = read_events_stream(spark, sf_dir)
    handle = (
        ev.writeStream.foreachBatch(land)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{out_root}/_ckpt")
        .start()
    )
    handle.awaitTermination()
    shutil.rmtree(f"{out_root}/_ckpt", ignore_errors=True)

    landed = read_ingest_lake(spark, lake)
    return (
        landed.filter(
            (F.col("user_id") >= 20) & (F.col("user_id") <= 60)
            & (F.col("value") >= 5.0) & (F.col("value") <= 50.0)
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .orderBy("event_type")
    )
