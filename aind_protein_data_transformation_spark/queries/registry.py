"""Query registry — the driver contract's backbone.

Each registered query is a pair:
- a Spark callable ``(spark, sf_dir) -> DataFrame`` (the engine side),
- an optional ANSI-SQL string the DuckDB oracle runs on the same tables.

Determinism contract (FIXTURES.md §3): every checked query ends with an
ORDER BY on a unique key; float aggregates over large groups are summed
in DECIMAL and cast back to DOUBLE so Spark and DuckDB agree to well
below the 6-decimal rounding the driver applies before hashing; every
computed column is aliased identically on both sides.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name`` with its DuckDB oracle SQL.

    ``oracle=None`` marks a genuinely non-SQL-expressible operator; the
    driver then records a weaker rows-only check.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # The grading driver builds its own SparkSession without
            # session.py, so pin the two confs the determinism contract
            # depends on at every query boundary: UTC (timestamp
            # casts/extracts must match DuckDB's naive reading) and
            # nanosAsLong (nanos-encoded events data must stay readable).
            # Both are runtime-settable and idempotent.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            return fn(spark, sf_dir)

        REGISTRY[name] = QuerySpec(name, wrapped, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in REGISTRY.items()
        if spec.oracle is not None
    }
