"""Shared measurement harness for same-session A/B comparisons.

Round 6 caught two builder measurement errors before they shipped as
claims (BENCH.md "round-6 addendum" / "two ugliest constants"):

1. **Sequential-block order bias** — timing all N runs of plan A, then
   all N runs of plan B, hands whichever side runs SECOND a warm page
   cache and JIT'd codegen; on this VM that manufactured a reproducible
   ~20% "win" for a rollup rewrite that vanished under interleaving.
2. **Unequal-parallelism comparisons** — timing a `coalesce(1)`-fused
   plan against a 32-core plan (the retracted quantize "2.5x" claim).

This module makes rule 1 impossible to regress on: every experiment
script's A/B goes through :func:`interleaved_ab`, which interleaves the
candidates within each round AND alternates their order between rounds,
so drift events (GC, page-cache churn) spread over all sides and no
side systematically inherits the warm second slot. Rule 2 stays a
review-time rule — a harness cannot see inside the plans it times — but
the docstring contract here is the place it is written down.

Timing action is the ``noop`` datasource write (full execution, no
collect/driver transfer), the same action bench.py bills.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def interleaved_ab(
    frames: Mapping[str, DataFrame | Callable[[], DataFrame]],
    rounds: int = 5,
    warmup: int = 1,
    action: Callable[[DataFrame], None] = _noop,
    post_run: Callable[[], None] | None = None,
) -> dict[str, dict[str, float]]:
    """Time candidate plans fairly in one session.

    ``frames`` maps a label to a DataFrame (the prepared-statement
    model: built once, executed per run) or to a zero-arg callable
    (rebuilt per run — required when the plan does eager work like
    plans.scale.materialize that must be billed inside the timing, mirroring
    bench.py's ``_plan_has_eager_rdd`` rule).

    Protocol (the one that caught the round-6 rollup artifact):

    - ``warmup`` untimed executions of EVERY candidate first, so
      one-time Janino codegen / scan listing is paid outside the
      timings for all sides equally;
    - then the timed rounds; within each round every candidate runs
      once (interleaved), and the candidate order ROTATES by one
      position each round (order-alternated). Slot occupancy is only
      EQUAL when the round count is a multiple of the candidate count
      (with 2 candidates and 5 rounds one side would sit in the warm
      last slot 3/5 of the time), so ``rounds`` is rounded UP to the
      next multiple of ``len(frames)`` whenever that is feasible
      (``len(frames) <= rounds``, i.e. at most doubling the requested
      work) — callers get at least what they asked for, and each
      candidate occupies each slot exactly ``rounds / len(frames)``
      times. Within the equalized regime the base order also REVERSES
      every full cycle: with 3+ candidates pure rotation keeps each
      candidate's cyclic predecessor fixed (the intra-pair warm-slot
      bias in miniature), and alternating forward/reversed cycles
      gives it both neighbors — fully cancelled when rounds is a
      multiple of ``2 * len(frames)``; at exactly one cycle the
      adjacency bias is structural (pass 2n rounds to cancel it).
      With MORE candidates than rounds (a many-query conf
      sweep) full slot equalization would need >= len(frames) rounds,
      so the requested count is kept (rounded up to EVEN — an odd
      count would leave every pair's leading side split unevenly) and
      the harness instead ALTERNATES DIRECTION: odd rounds run the
      (slow-rotating) order reversed. Adjacency alone is NOT enough in this regime — round 8
      measured a ~0.1 s/query SECOND-slot advantage inside adjacent
      A/B pairs that rotation-by-one never cancels when it cannot
      complete a cycle (the AQE on/off sweep produced a fake 22%
      "win" for whichever side was listed second; reversing the
      listing flipped it). Direction alternation gives each pair
      member the favored slot on alternating rounds, so best-of and
      median both see every candidate in each intra-pair position.
      Build such frame dicts with the A/B sides of each comparison
      ADJACENT (query-outer, variant-inner) so the alternation acts on
      the pair.

    ``post_run`` (optional) executes after every run — warmup and
    timed — OUTSIDE the timing window. Use it for per-run hygiene that
    must not be billed (``spark.catalog.clearCache``, temp-dir cleanup);
    putting such work inside ``action`` would inflate every absolute
    timing by the hygiene cost (A/B deltas stay fair either way, since
    all sides pay it — but absolute numbers feed BENCH.md).

    Returns ``{label: {"best": s, "median": s, "runs": [s, ...]}}``.
    Compare ``best`` values (the same best-of estimator bench.py and
    the DuckDB comparator use); ``runs`` keeps the raw draws so a
    suspicious result can be re-adjudicated without re-running.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    items: list[tuple[str, Callable[[], DataFrame]]] = []
    for label, obj in frames.items():
        thunk = obj if callable(obj) else (lambda df=obj: df)
        items.append((label, thunk))
    for _ in range(warmup):
        for _label, thunk in items:
            action(thunk())
            if post_run is not None:
                post_run()
    samples: dict[str, list[float]] = {label: [] for label, _ in items}
    n = len(items)
    # equal slot occupancy needs rounds % n == 0 (see docstring);
    # infeasible to equalize when n > rounds — keep the requested count
    # and alternate direction instead (the intra-pair slot fix)
    equalize = n <= rounds
    if not equalize and rounds % 2:
        # an odd round count in the alternating regime leaves every
        # pair's leading side split (k+1)/k — half the intra-pair slot
        # advantage would survive into best-of; +1 round is always
        # within the round-up budget. The bump can make full
        # equalization feasible (n == rounds after it) — prefer the
        # strictly better exact-rotation schedule when it is.
        rounds += 1
        equalize = n <= rounds
    if rounds % n and equalize:
        rounds += n - rounds % n
    for r in range(rounds):
        if equalize:
            # rotate the start position: over the rounds each candidate
            # sits in the (warmest) last slot equally often. The BASE
            # order flips every full cycle: pure rotation keeps each
            # candidate's cyclic predecessor FIXED for n >= 3 (b would
            # run just after its comparison partner a in every round),
            # re-creating the intra-pair warm-slot bias within the
            # cycle; a reversed cycle gives it the other neighbor.
            # Each cycle visits every slot once either way, so slot
            # occupancy stays exactly rounds/n per candidate.
            base = items if (r // n) % 2 == 0 else items[::-1]
            order = base[r % n :] + base[: r % n]
        else:
            # many-candidate regime: rotate every OTHER round and run
            # odd rounds reversed, so adjacent A/B pairs swap their
            # internal order each round (see docstring — rotation alone
            # leaves the pair's second member permanently favored)
            k = (r // 2) % n
            order = items[k:] + items[:k]
            if r % 2:
                order = order[::-1]
        for label, thunk in order:
            t0 = time.perf_counter()
            action(thunk())
            samples[label].append(time.perf_counter() - t0)
            if post_run is not None:
                post_run()
    out: dict[str, dict[str, float]] = {}
    for label, runs in samples.items():
        s = sorted(runs)
        mid = len(s) // 2
        median = s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2
        out[label] = {
            "best": round(min(s), 4),
            "median": round(median, 4),
            "runs": [round(x, 4) for x in runs],
        }
    return out
