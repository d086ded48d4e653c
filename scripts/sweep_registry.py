#!/usr/bin/env python
"""Registry-wide warm-time sweep — the standing invariant check
(VERDICT r4 onward): every batch query must run within the warm budget
at sf0.1. Runs bench.py over the full registry in BATCHES with a fresh
Spark session per batch: a single --all session accumulates ~3000
stages and drove the driver into a GC stall in round 4 (one task "ran"
40+ minutes; the same queries finish in seconds in fresh sessions).

Per-batch bench.py already routes its sidecar to /tmp for subset runs,
so the repo-root headline record is never clobbered.

Usage: python scripts/sweep_registry.py [sf_dir] [budget_s] [batch]
Prints one JSON line: worst queries, budget breaches, totals. Exits
nonzero if any query breaches the budget.

Resumable (VERDICT r10 #5 — a wrapper timeout killed the round-10
sweep at 88/108 and forced a full re-run): per-batch timings are
checkpointed to /tmp/sparkgraft-sweep-<sfname>.json after every batch,
a re-run skips queries already timed, and a sweep that reaches the
final report deletes its checkpoint so the NEXT invocation starts
fresh. The checkpoint carries a code fingerprint (git HEAD sha plus a
hash of any uncommitted diff, ADVICE r11): a checkpoint written by a
different code version is discarded automatically instead of silently
replaying stale timings into the budget gate.
SPARK_GRAFT_SWEEP_FRESH=1 still force-discards a same-version one.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _code_fingerprint() -> str:
    """git HEAD sha (short) plus a hash of the uncommitted tracked diff.

    Two runs share a fingerprint iff they run the same committed code
    with byte-identical local modifications — exactly the condition
    under which replaying checkpointed timings is sound.
    """
    import hashlib

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "--short=12", "HEAD"],
            cwd=REPO, capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "nogit"
        # tracked modifications by content; untracked files by presence
        # (git diff HEAD alone misses a NEW untracked query module)
        diff = subprocess.run(
            ["git", "diff", "HEAD"],
            cwd=REPO, capture_output=True, text=True, timeout=10,
        ).stdout
        status = subprocess.run(
            ["git", "status", "--porcelain"],
            cwd=REPO, capture_output=True, text=True, timeout=10,
        ).stdout
        if diff or status:
            sha += "+" + hashlib.sha256(
                (diff + "\x00" + status).encode()
            ).hexdigest()[:12]
        return sha
    except Exception:
        return "unknown"


def _auto_dispatch_probe(sf_dir: str) -> dict[str, float]:
    """VERDICT r7 #5: the three ``*_auto`` entry points and
    ``ivf_topk(verify_batch=None)`` are agreement-tested but no
    sweep/bench path called them, so a dispatch regression (a probe
    that stops short-circuiting, a dispatcher that flips to the kernel
    at narrow dims) would surface only in unit tests. This stage runs
    each dispatcher end-to-end on the sf embeddings table (dim-64
    fixture), ASSERTS the dispatcher picked the HOF side (the measured
    winner at dim-64: no Arrow/pandas node may appear in the chosen
    plan), and returns wall times as non-oracle perf entries."""
    import time

    from pyspark.sql import functions as F

    from aind_protein_data_transformation_spark.operators.similarity import (
        brute_force_topk_auto,
        ivf_topk,
        quantize_int8_auto,
        stride_centroids,
    )
    from aind_protein_data_transformation_spark.session import get_spark

    spark = get_spark("sweep-auto-dispatch")
    try:
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        corpus = emb.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
        )
        queries = (
            corpus.filter("neighbor_id % 997 = 0")
            .selectExpr("neighbor_id AS query_id", "ce AS qe")
            .limit(8)
        )
        centroids = stride_centroids(
            corpus.selectExpr("neighbor_id AS vid", "ce AS ve"), stride=101
        )
        plans = {
            "auto_quantize_int8": quantize_int8_auto(emb, "vec_id", "embedding"),
            "auto_brute_force_topk": brute_force_topk_auto(queries, corpus),
            "auto_ivf_verify": ivf_topk(
                queries, corpus, centroids, verify_batch=None
            ),
        }
        timings: dict[str, float] = {}
        for name, df in plans.items():
            plan = df._jdf.queryExecution().executedPlan().toString()
            arrow_nodes = [
                m for m in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")
                if m in plan
            ]
            assert not arrow_nodes, (
                f"{name}: dispatcher took the kernel path at the dim-64 "
                f"fixture (plan holds {arrow_nodes}) — the HOF is the "
                f"measured winner there; dispatch regression"
            )
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 3)
        return timings
    finally:
        spark.stop()


def load_checkpoint(
    saved: object, fingerprint: str, names: list[str]
) -> tuple[dict[str, float], str | None]:
    """Resumable timings from a checkpoint payload, or why not.

    Returns (timings, discard_reason). Timings are non-empty only when
    the checkpoint carries the CURRENT code fingerprint (ADVICE r11: a
    checkpoint from a different code version silently replayed stale
    timings into the budget gate) — legacy flat {name: timing} dicts
    have no fingerprint and are discarded the same way. Rows for
    queries no longer in the registry are dropped (rotation/rename must
    not leave ghost timings).
    """
    saved_fp = saved.get("fingerprint") if isinstance(saved, dict) else None
    if saved_fp != fingerprint:
        return {}, f"code {saved_fp or 'unfingerprinted'} != {fingerprint}"
    timings = {
        n: t for n, t in saved.get("timings", {}).items() if n in names
    }
    return timings, None


def main(argv: list[str]) -> int:
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"
    budget = float(argv[2]) if len(argv) > 2 else 3.7
    batch = int(argv[3]) if len(argv) > 3 else 8

    import aind_protein_data_transformation_spark.queries as q

    names = [n for n in q.REGISTRY if not n.startswith("streaming_")]
    ckpt = f"/tmp/sparkgraft-sweep-{os.path.basename(sf_dir.rstrip('/'))}.json"
    fingerprint = _code_fingerprint()
    timings: dict[str, float] = {}
    if os.path.exists(ckpt) and not os.environ.get("SPARK_GRAFT_SWEEP_FRESH"):
        with open(ckpt) as fh:
            saved = json.load(fh)
        timings, discard = load_checkpoint(saved, fingerprint, names)
        if discard:
            print(
                f"  discarding stale checkpoint {ckpt} ({discard})",
                file=sys.stderr,
                flush=True,
            )
        if timings:
            print(
                f"  resuming from {ckpt}: {len(timings)}/{len(names)} "
                f"already timed",
                file=sys.stderr,
                flush=True,
            )
    todo = [n for n in names if n not in timings]
    for i in range(0, len(todo), batch):
        chunk = todo[i : i + batch]
        env = {
            **os.environ,
            "SPARK_GRAFT_SF_DIR": sf_dir,
            "SPARK_GRAFT_QUERIES": ",".join(chunk),
        }
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            env=env,
            cwd=REPO,
            capture_output=True,
            text=True,
            timeout=900,
        )
        if proc.returncode != 0:
            print(proc.stdout[-2000:], file=sys.stderr)
            print(proc.stderr[-2000:], file=sys.stderr)
            raise RuntimeError(f"batch {chunk} failed rc={proc.returncode}")
        line = proc.stdout.strip().splitlines()[-1]
        got = json.loads(line)["queries"]
        timings.update(got)
        tmp = ckpt + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"fingerprint": fingerprint, "timings": timings}, fh)
        os.replace(tmp, ckpt)
        done = len(timings)
        print(
            f"  [{done}/{len(names)}] worst so far: "
            f"{max(timings, key=timings.get)} {max(timings.values()):.2f}s",
            file=sys.stderr,
            flush=True,
        )
    # non-oracle perf entries: the auto-dispatchers, end-to-end, with
    # the HOF-at-dim-64 dispatch assertion (VERDICT r7 #5). Kept out of
    # `timings` so the budget gate stays a registry-query invariant.
    auto = _auto_dispatch_probe(sf_dir)
    print(f"  auto-dispatch probe (HOF asserted): {auto}", file=sys.stderr)
    # reaching the report means the sweep completed: drop the checkpoint
    # so the next invocation measures fresh instead of replaying stale
    # timings forever
    if os.path.exists(ckpt):
        os.remove(ckpt)
    breaches = {n: t for n, t in timings.items() if t > budget}
    worst = sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    print(
        json.dumps(
            {
                "metric": "registry_sweep_warm_s",
                "sf_dir": sf_dir,
                "budget_s": budget,
                "n_queries": len(timings),
                "total_warm_s": round(sum(timings.values()), 2),
                "worst10": {n: t for n, t in worst},
                "breaches": breaches,
                "auto_dispatch_s": auto,
            }
        ),
        flush=True,
    )
    return 1 if breaches else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
