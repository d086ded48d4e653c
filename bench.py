#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline query suite at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The stdout line is kept COMPACT (< ~1900 bytes): the grading driver
records only the TAIL of stdout (2000 chars), so a line that grows past
that loses its head — and with it the headline ``value`` (this is
exactly how round 4's BENCH artifact came back ``parsed: null``).
Per-query cold runs, the session floor, and the DuckDB per-query split
go to the ``bench_detail.json`` sidecar next to this file instead; if
even the per-query dict would overflow the line (an ``--all`` sweep),
it too moves to the sidecar and the line keeps a count.

Each query is forced end-to-end with the ``noop`` sink so the timing
covers scan -> shuffle -> agg/join -> result materialization on the
executors, without driver-side collect skew. A short warmup query runs
first so JVM/codegen startup is not billed to the first headline query.

The headline set spans every operator family from SURVEY.md §2B: scan/
filter/agg (q1), joins (q3/q5/outer/semi/theta), windows (running totals,
top-k), rollup, set ops, scalar packs, percentiles, as-of join, dedup
(exact + MinHash-LSH), similarity top-k, and text analysis. The full
registry stays checkable via ``--all``.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

from aind_protein_data_transformation_spark.catalog import DEFAULT_SF_DIR
from aind_protein_data_transformation_spark.session import get_spark

HEADLINE: tuple[str, ...] = (
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
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_cosine_topk",
    "text_quality_stats",
    "pipeline_clean_corpus",
)


#: stay well under the driver's 2000-char stdout tail capture.
_MAX_LINE_BYTES = 1900

#: the session floor recorded on a quiet VM (best-of-5 warmed one-row
#: noop, r9-r11 quiet sessions read 0.060-0.074s). The JSON line emits
#: the current floor's ratio to this so a degraded session identifies
#: ITSELF in BENCH_r{N}.json (VERDICT r11 #5) — r11's elevated readings
#: took a worktree back-to-back to adjudicate; a floor ratio >~1.5 says
#: "environment, not code" up front.
_QUIET_VM_FLOOR_S = 0.074


def _plan_has_eager_rdd(df) -> bool:
    """True when the query's fn() did EAGER work whose result is baked
    into the plan as a materialized RDD (every plans.scale.materialize:
    the dedup/text queries' shared subtrees, the distributed prefix
    sum, connected_components' iterative loop).
    ``spark.catalog.clearCache()`` does not drop checkpointed RDDs, so
    timing a prebuilt DataFrame would let every run skip that heavy
    stage while the DuckDB comparator re-executes fully — such queries
    must be REBUILT inside the timed loop."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return "LogicalRDD" in plan or "ExistingRDD" in plan


def _sidecar_path(sf_dir: str, is_headline_run: bool, n_queries: int) -> str:
    """Where the per-query detail sidecar lands. Only the FULL headline
    run at sf0.1 (the driver's scale) writes the committed repo-root
    ``bench_detail.json`` — round 5's sf0.1 perf record was silently
    clobbered by a later sf0.001 smoke run, leaving the committed
    sidecar inconsistent with the committed headline line. The test is
    on the dir's sf tag, not on ``DEFAULT_SF_DIR``, because that
    constant itself follows ``$SPARK_GRAFT_SF_DIR``. Subset runs,
    ``--all`` sweeps, and other sf dirs write a tagged file under the
    system temp dir instead; ``$SPARK_GRAFT_DETAIL_PATH`` overrides
    everything (used by experiment scripts that want the split)."""
    override = os.environ.get("SPARK_GRAFT_DETAIL_PATH")
    if override:
        return override
    repo = os.path.dirname(os.path.abspath(__file__))
    sf = _sf_from_dir(sf_dir)
    if is_headline_run and sf == 0.1:
        return os.path.join(repo, "bench_detail.json")
    tag = f"sf{sf}_{n_queries}q"
    return os.path.join(
        tempfile.gettempdir(), f"sparkgraft_bench_detail_{tag}.json"
    )


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return -1.0


def _measure_pass(spark, q, names: list[str], sf_dir: str) -> dict:
    """One full measurement pass: session floor, best-of-5 per query,
    and the same-session DuckDB comparator — everything a gate ratio
    needs, measured inside one time window so the pair is same-minute.

    Session floor: the fixed cost of ANY query on this harness —
    Catalyst round-trips + noop job scheduling on a one-row plan.
    Measured so the decomposition can separate per-query constants
    (which are flat at any SF) from data-proportional body time (which
    is what scales). Best-of-5 on a warmed plan, the same protocol the
    queries get: the single cold measurement used through round 4
    included one-time codegen (~0.22s) and overstated the floor ~3x —
    several warm queries clocked UNDER it, which is impossible for a
    true floor (true warm floor ~0.06s on a quiet VM).

    Best of 5 runs per query: the harness VM shows ±50% run-to-run
    noise; run 1 additionally pays one-time Catalyst/Janino codegen
    compilation, the same way the DuckDB comparator numbers in
    BENCH.md amortize their first run. cold-warm ≈ compile+noise
    constants; warm-floor ≈ the data-proportional body. The gate is a
    ratio of two best-estimates — 5 samples per side (the comparator
    runs 5 too) tightens both minima symmetrically; measured pairs
    ranged 1.32x-1.89x at best-of-3 purely from draw luck.
    """
    floor_df = spark.range(1)
    floor_df.write.format("noop").mode("overwrite").save()
    floor = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        floor_df.write.format("noop").mode("overwrite").save()
        floor = min(floor, time.perf_counter() - t0)
    floor = round(floor, 4)

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in names:
        fn = q.REGISTRY[name].fn
        best = float("inf")
        first = None
        # Prepared-statement model: the DataFrame (parsed + analyzed
        # logical plan) is built once per session and every timed run
        # executes it end-to-end — optimization, physical planning,
        # and all data movement re-run per save(); only parse/analyze
        # of the static SQL is reused. DuckDB's equivalent (parse) is
        # ~1 ms/query, so re-parsing there is not billed either way;
        # Spark's is 30-80 ms of py4j + analyzer time that would be
        # amortized by any real deployment's plan cache.
        df = fn(spark, sf_dir)
        # Exception to the prepared-statement model: a fn() that did
        # eager work (materialize / iterative loops) must be
        # rebuilt per run so that work is billed inside the timing —
        # otherwise all 5 runs (cold included) reuse the pinned RDD
        # and under-report vs the fully-re-executing comparator.
        rebuild = _plan_has_eager_rdd(df)
        for _ in range(5):
            t0 = time.perf_counter()
            if rebuild:
                df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            first = dt if first is None else first
            best = min(best, dt)
            # Full re-execution per run, matching the DuckDB
            # comparator: no query persists (shared subtrees go
            # through plans.scale.materialize, rebuilt per run by the
            # eager-RDD rule above), so clearing between RUNS only
            # guards against a table a query or a caller cached: with
            # memoized base relations the canonicalized plans match,
            # and run 2 would otherwise be served from run 1's cache.
            # Catalog metadata (file listing, schema) staying warm
            # across runs is fair: DuckDB's registered views keep
            # theirs too.
            spark.catalog.clearCache()
        timings[name] = round(best, 4)
        cold[name] = round(first, 4)

    # Same-session DuckDB comparator (identical methodology: the
    # oracle SQL best-of-5 on 32 threads, run back-to-back with the
    # Spark suite above). The BASELINE.md gate is a RATIO, and this
    # VM's absolute timings drift ±50% between sessions — a ratio of
    # two same-minute measurements is meaningful where a ratio of a
    # fresh numerator over a days-old denominator is not. Failure to
    # produce the comparator (missing module, oracle drift) never
    # fails the bench — the Spark numbers above stand alone.
    duck = None
    duck_err = None
    try:
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "bench_duckdb",
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "scripts",
                "bench_duckdb.py",
            ),
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        duck = mod.run_comparator(sf_dir, names, runs=5)
    except Exception as exc:  # pragma: no cover - diagnostic path
        duck_err = repr(exc)
    return {
        "floor": floor,
        "timings": timings,
        "cold": cold,
        "duck": duck,
        "duck_err": duck_err,
    }


def main(argv: list[str]) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    run_all = "--all" in argv

    import aind_protein_data_transformation_spark.queries as q

    names = list(q.REGISTRY) if run_all else list(HEADLINE)
    # Optional subset (scripts/bench_layout.py): comma-separated names.
    subset = os.environ.get("SPARK_GRAFT_QUERIES")
    if subset:
        names = [n for n in subset.split(",") if n]
    # Streaming queries manage their own lifecycle; keep the batch bench pure.
    names = [n for n in names if not n.startswith("streaming_")]

    spark = get_spark("aind-protein-data-transformation-spark-bench")
    try:
        # Warmup: touch the biggest table so JVM startup + codegen warm paths
        # are paid before the first timed query.
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).write.format(
            "noop"
        ).mode("overwrite").save()

        passes = [_measure_pass(spark, q, names, sf_dir)]
        # Elevated-session self-defense (VERDICT r13 #6): when the
        # measured floor reads >2x the quiet-VM reference, the whole
        # SESSION carries an environment multiplier (r13's driver run
        # read 2.69x and inflated every wall time ~30%, plans
        # untouched). Re-measure ONCE — same protocol, same session,
        # Spark suite AND comparator together so the pair stays
        # same-minute — and emit whichever pass ran on the quieter
        # floor; both floors land in the JSON line so the artifact
        # records that it defended itself instead of needing
        # quiet-pair archaeology in BENCH.md.
        if passes[0]["floor"] / _QUIET_VM_FLOOR_S > 2.0:
            passes.append(_measure_pass(spark, q, names, sf_dir))
        chosen = min(passes, key=lambda p: p["floor"])
        floor = chosen["floor"]
        timings = chosen["timings"]
        cold = chosen["cold"]

        total = round(sum(timings.values()), 4)
        out = {
            "metric": "headline_suite_wall_seconds",
            "value": total,
            "unit": "sec",
            "runs_per_query": 5,
            "queries": timings,
            "sf": _sf_from_dir(sf_dir),
            # degraded-session self-identification (VERDICT r11 #5):
            # the fixed cost of ANY query this session, and its ratio
            # to the recorded quiet-VM floor — >~1.5 means the session
            # is elevated and the wall-times carry an environment
            # multiplier the ratio_vs_duckdb partially cancels.
            "session_floor_seconds": floor,
            "floor_vs_quiet": round(floor / _QUIET_VM_FLOOR_S, 2),
        }
        if len(passes) > 1:
            # the self-defense ran: record every pass's floor so the
            # artifact shows both the elevated reading and the one the
            # emitted numbers came from
            out["session_floors_all_passes"] = [p["floor"] for p in passes]
        # Everything beyond the driver-contract keys goes to the sidecar
        # so the stdout line never outgrows the driver's tail capture.
        detail = {
            "queries": timings,
            "cold_first_run": cold,
            "session_floor_seconds": floor,
            "sf": out["sf"],
            # the core count asked for next to the parallelism the
            # session actually got, so a scaling run can be checked
            # for an ignored SPARK_GRAFT_CPUS
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "default_parallelism": spark.sparkContext.defaultParallelism,
        }
        duck = chosen["duck"]
        if duck is not None:
            duck_total = round(sum(duck.values()), 4)
            out["duckdb_comparator_seconds"] = duck_total
            detail["duckdb_queries"] = duck
            if duck_total > 0:
                out["ratio_vs_duckdb"] = round(total / duck_total, 3)
        else:
            out["duckdb_comparator_error"] = chosen["duck_err"]
        sidecar = _sidecar_path(
            sf_dir,
            is_headline_run=(not subset and not run_all),
            n_queries=len(timings),
        )
        line = json.dumps(out)
        if len(line) > _MAX_LINE_BYTES:
            # --all sweeps: the per-query dict alone exceeds the tail
            # capture; keep the headline numbers parseable and point at
            # the sidecar for the split.
            out["queries"] = {
                "_see": os.path.basename(sidecar),
                "_count": len(timings),
            }
            line = json.dumps(out)
        with open(sidecar, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
        print(line)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
