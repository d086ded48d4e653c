"""Test-table catalog: parquet loaders + temp-view registration.

The driver's tables (TESTDATA.md / FIXTURES.md §1) are one parquet file
per table under ``/root/testdata/sf{0.001,0.01,0.1}/``. At 100 TB these
would be partitioned datasets; ``spark.read.parquet`` takes either shape
unchanged, and every query in ``queries/`` is written against the scan so
Catalyst pushes filters/projections into the parquet reader.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Analyzed-plan memo: repeated load_table calls for the same
#: (session, dir, table) return the SAME DataFrame object, skipping the
#: per-call file listing + parquet footer schema inference (a flat
#: driver-side constant per query that adds up across a suite; the
#: underlying data is static test data, and a new SparkSession gets a
#: fresh applicationId -> fresh entries).
#:
#: ASSUMPTION — static data: the memo has no invalidation. The file
#: listing and schema are captured at first load, so a process that
#: REWRITES files under an sf_dir mid-application must call
#: :func:`clear_plan_memo` (and note ``spark.newSession()`` shares the
#: applicationId, so a memoized DataFrame may be bound to the sibling
#: session that first loaded it — clear the memo when juggling
#: same-application sessions with different states).
_PLAN_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def clear_plan_memo(sf_dir: str | None = None) -> None:
    """Invalidate memoized table plans — all of them, or only those
    under ``sf_dir`` (for callers that regenerate one dataset
    in-process, e.g. test fixtures rewriting a temp directory)."""
    _VIEW_MEMO.clear()  # next SQL-form query re-registers its views
    if sf_dir is None:
        _PLAN_MEMO.clear()
        return
    prefix = os.path.abspath(sf_dir)
    for key in [k for k in _PLAN_MEMO if k[1] == prefix]:
        del _PLAN_MEMO[key]


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    memo_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    memoized = _PLAN_MEMO.get(memo_key)
    if memoized is not None:
        return memoized
    if name == "events":
        # The physical encoding of events.ts has drifted across driver data
        # generations (TIMESTAMP(NANOS) in round 1, TIMESTAMP(MICROS,
        # isAdjustedToUTC=false) in round 2) — be type-adaptive instead of
        # assuming. nanosAsLong keeps the nanos encoding readable; the UTC
        # session timezone makes the NTZ->TIMESTAMP cast below yield epochs
        # bit-identical to DuckDB's epoch_ns(ts)//1000. Both are
        # runtime-settable, so set them here too (the grading driver builds
        # its own session without session.py).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = _normalize_events_ts(df)
    _PLAN_MEMO[memo_key] = df
    return df


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to TimestampType micros, whatever the parquet
    physical type was:

    - ``bigint``: nanos-since-epoch read via nanosAsLong — truncate to
      micros (same direction DuckDB takes casting TIMESTAMP_NS->TIMESTAMP).
    - ``timestamp_ntz``: micros wall-clock — cast to TIMESTAMP; under the
      UTC session timezone this is an exact reinterpretation (identical
      micros to DuckDB reading the same file).
    - ``timestamp``: already the target type.

    Fail loudly on any other shape.
    """
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if ts_type == "timestamp":
        return df
    raise TypeError(f"unexpected events.ts type {ts_type!r}")


#: (session -> {table: abs sf_dir}) of already-registered temp views.
#: Weakly keyed so a stopped session's entries vanish with it. Same
#: static-data assumption as _PLAN_MEMO (clear_plan_memo wipes both).
_VIEW_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[str, str]]" = (
    weakref.WeakKeyDictionary()
)


def ensure_views(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    """Register temp views for ``tables`` (all of TABLES when empty),
    skipping tables already registered for the SAME sf_dir in this
    session — steady-state cost of a SQL-form query drops to zero
    crossings here. A different sf_dir re-registers (tests hop between
    scale factors and tmp fixtures in one session)."""
    reg = _VIEW_MEMO.setdefault(spark, {})
    prefix = os.path.abspath(sf_dir)
    for name in tables or TABLES:
        if reg.get(name) != prefix:
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
            reg[name] = prefix


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so SQL-form queries can run."""
    ensure_views(spark, sf_dir)
