"""Bench harness contract: ``python bench.py`` must print exactly ONE
COMPACT JSON line with the driver-required keys (metric/value/unit/
queries/sf) plus the same-session DuckDB comparator and ratio. The
grading driver records only the last 2000 chars of stdout — round 4's
BENCH artifact came back ``parsed: null`` because the line had grown
past that and lost its head — so this test pins BOTH the key set and a
hard line-length ceiling, with the per-query detail landing in the
``bench_detail.json`` sidecar instead. Runs in a subprocess at sf0.001
with a two-query subset (~30 s)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _repo_sidecar_fingerprint():
    path = os.path.join(REPO, "bench_detail.json")
    if not os.path.exists(path):
        return None
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size)


def test_bench_prints_one_compact_json_line_plus_sidecar(tmp_path):
    detail_path = str(tmp_path / "detail.json")
    committed = _repo_sidecar_fingerprint()
    env = {
        **os.environ,
        "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
        "SPARK_GRAFT_CPUS": "4",
        "SPARK_GRAFT_QUERIES": "q1_pricing_summary,dedup_exact",
        "SPARK_GRAFT_DETAIL_PATH": detail_path,
    }
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        cwd=REPO,
        env=env,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # the committed sf0.1 headline sidecar must survive subset runs —
    # round 5's perf record was clobbered by exactly this kind of smoke
    # run (VERDICT r5 "what's wrong" #2)
    assert _repo_sidecar_fingerprint() == committed
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert len(lines) == 1, f"expected ONE JSON line, got {len(lines)}: {lines}"
    # the driver keeps a 2000-char stdout tail; the contract line must
    # fit with margin even on the 20-query headline run (20 entries is
    # ~10x this subset's two, so pin the per-entry budget implicitly by
    # a hard cap the full run also satisfies — see the headline guard
    # in bench.py: lines near the cap demote `queries` to the sidecar)
    assert len(lines[0]) <= 1900, f"stdout line too long: {len(lines[0])}"
    out = json.loads(lines[0])

    assert out["metric"] == "headline_suite_wall_seconds"
    assert out["unit"] == "sec"
    assert out["value"] > 0
    assert set(out["queries"]) == {"q1_pricing_summary", "dedup_exact"}
    assert all(v > 0 for v in out["queries"].values())
    assert out["sf"] == 0.001
    # the comparator must have RUN (not degraded to the diagnostic key)
    # and the ratio must be consistent with it
    assert "duckdb_comparator_error" not in out, out.get(
        "duckdb_comparator_error"
    )
    assert out["duckdb_comparator_seconds"] > 0
    expected = out["value"] / out["duckdb_comparator_seconds"]
    assert abs(out["ratio_vs_duckdb"] - expected) < 0.01
    # per-query detail (cold runs, duckdb split) lives in the sidecar,
    # NOT on the stdout line
    for key in ("cold_first_run", "duckdb_queries"):
        assert key not in out, key
    # ...but the session floor is ON the line since r12 (VERDICT r11 #5:
    # a degraded session must identify itself in BENCH_r{N}.json), with
    # its ratio to the recorded quiet-VM floor — read from bench.py so
    # the constant cannot drift between the harness and this pin
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_floor_mod", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    assert out["session_floor_seconds"] > 0
    assert out["floor_vs_quiet"] == round(
        out["session_floor_seconds"] / bench._QUIET_VM_FLOOR_S, 2
    )
    with open(detail_path) as fh:
        detail = json.load(fh)
    assert set(detail["queries"]) == set(out["queries"])
    assert set(detail["duckdb_queries"]) == set(out["queries"])
    assert set(detail["cold_first_run"]) == set(out["queries"])
    assert detail["session_floor_seconds"] > 0
    # the session ran at the parallelism the env asked for
    assert detail["spark_graft_cpus"] == env["SPARK_GRAFT_CPUS"]
    assert detail["default_parallelism"] == int(env["SPARK_GRAFT_CPUS"])


def test_sidecar_routing_protects_headline_record(monkeypatch):
    """Unit-level pin of the routing rule itself (no subprocess): only a
    full headline run at sf0.1 may write the repo-root sidecar;
    subset/sweep/other-sf runs land in the temp dir, and the env
    override wins over both."""
    import importlib.util
    import tempfile

    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(REPO, "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    repo_sidecar = os.path.join(REPO, "bench_detail.json")
    sf01 = "/data/tpch/sf0.1"
    # an override exported in the surrounding environment must not
    # skew the routing assertions (and must be restored afterwards —
    # monkeypatch, not bare os.environ mutation)
    monkeypatch.delenv("SPARK_GRAFT_DETAIL_PATH", raising=False)
    assert bench._sidecar_path(sf01, True, 20) == repo_sidecar
    # subset run at sf0.1: NOT the repo sidecar
    assert bench._sidecar_path(sf01, False, 2) != repo_sidecar
    # full run at another sf: NOT the repo sidecar
    assert (
        bench._sidecar_path("/root/testdata/sf0.001", True, 20)
        != repo_sidecar
    )
    # SPARK_GRAFT_SF_DIR=<sf0.01 dir> also moves catalog.DEFAULT_SF_DIR
    # (it reads the same variable), so a full run there is a "default
    # sf" run — it must still not overwrite the sf0.1 record
    sf001 = "/data/tpch/sf0.01"
    monkeypatch.setattr(bench, "DEFAULT_SF_DIR", sf001)
    assert bench._sidecar_path(bench.DEFAULT_SF_DIR, True, 20) == os.path.join(
        tempfile.gettempdir(), "sparkgraft_bench_detail_sf0.01_20q.json"
    )
    # env override wins
    monkeypatch.setenv("SPARK_GRAFT_DETAIL_PATH", "/tmp/x.json")
    assert bench._sidecar_path(sf01, True, 20) == "/tmp/x.json"


def test_interleaved_ab_protocol_rotates_and_interleaves():
    """The shared A/B harness (measure.interleaved_ab) enforces the
    round-6 measurement rule: candidates interleave within each round
    and the order rotates across rounds, so no side systematically
    occupies the warm last slot. Verified with a recording action — no
    Spark session needed."""
    from aind_protein_data_transformation_spark.measure import interleaved_ab

    ran: list[str] = []

    def fake_action(tag):
        ran.append(tag)

    frames = {k: (lambda k=k: k) for k in ("a", "b", "c")}
    res = interleaved_ab(frames, rounds=3, warmup=1, action=fake_action)
    # warmup: every candidate once, untimed, before any timed round
    assert ran[:3] == ["a", "b", "c"]
    timed = ran[3:]
    # each timed round runs every candidate once, start position rotating
    assert timed == ["a", "b", "c", "b", "c", "a", "c", "a", "b"]
    for k in frames:
        assert len(res[k]["runs"]) == 3
        assert res[k]["best"] == min(res[k]["runs"])
        assert res[k]["best"] <= res[k]["median"]


def test_interleaved_ab_rebuilds_callables_per_run():
    """A callable candidate is rebuilt every execution (the eager-plan
    billing rule bench.py applies via _plan_has_eager_rdd)."""
    from aind_protein_data_transformation_spark.measure import interleaved_ab

    builds = {"x": 0}

    def make():
        builds["x"] += 1
        return "x"

    interleaved_ab({"x": make}, rounds=2, warmup=1, action=lambda _t: None)
    assert builds["x"] == 3  # 1 warmup + 2 timed


def test_interleaved_ab_rounds_up_for_equal_slot_occupancy():
    """ADVICE r7: with 2 candidates and an odd round count one side
    would occupy the warm last slot more often; the harness rounds the
    round count UP to the next multiple of the candidate count so each
    candidate takes each slot exactly rounds/n times."""
    from aind_protein_data_transformation_spark.measure import interleaved_ab

    ran: list[str] = []
    frames = {k: (lambda k=k: k) for k in ("a", "b")}
    res = interleaved_ab(frames, rounds=5, warmup=0, action=ran.append)
    # 5 rounds requested, 2 candidates -> 6 timed rounds
    assert len(res["a"]["runs"]) == 6
    assert len(res["b"]["runs"]) == 6
    # equal slot occupancy: each candidate runs LAST exactly half the time
    last_slots = [ran[i + 1] for i in range(0, len(ran), 2)]
    assert last_slots.count("a") == last_slots.count("b") == 3


def test_interleaved_ab_even_bumps_rounds_when_candidates_exceed_them():
    """The round-up is capped: with more candidates than rounds (a
    many-query conf sweep passes ~40 frames with rounds=3)
    equalization would need >= n rounds, a 10x+ blowup; the requested
    round count is kept apart from an even-bump (an odd count would
    leave every pair's leading side split 2/1, so half the measured
    intra-pair slot advantage would survive into best-of)."""
    from aind_protein_data_transformation_spark.measure import interleaved_ab

    frames = {f"c{i}": (lambda i=i: i) for i in range(7)}
    res = interleaved_ab(frames, rounds=3, warmup=0, action=lambda _t: None)
    assert all(len(v["runs"]) == 4 for v in res.values())  # even-bumped
    res = interleaved_ab(frames, rounds=4, warmup=0, action=lambda _t: None)
    assert all(len(v["runs"]) == 4 for v in res.values())


def test_interleaved_ab_even_bump_prefers_equalization_when_feasible():
    """When the even-bump lifts the round count to exactly the
    candidate count, the strictly better exact-rotation schedule is
    used instead of the alternating fallback: 4 candidates at rounds=3
    get 4 equalized rounds — each candidate leads once and takes the
    warm last slot once."""
    from aind_protein_data_transformation_spark.measure import interleaved_ab

    ran: list[str] = []
    frames = {k: (lambda k=k: k) for k in ("a", "b", "c", "d")}
    res = interleaved_ab(frames, rounds=3, warmup=0, action=ran.append)
    assert all(len(v["runs"]) == 4 for v in res.values())
    rounds_run = [ran[i : i + 4] for i in range(0, len(ran), 4)]
    leads = [rnd[0] for rnd in rounds_run]
    lasts = [rnd[-1] for rnd in rounds_run]
    assert sorted(leads) == ["a", "b", "c", "d"], rounds_run
    assert sorted(lasts) == ["a", "b", "c", "d"], rounds_run


def test_interleaved_ab_equalize_cycles_alternate_direction():
    """With 3+ candidates, pure rotation keeps each candidate's cyclic
    predecessor FIXED (b always runs just after a) — the intra-pair
    warm-slot bias inside the equalized regime. The base order now
    reverses every full cycle, giving each candidate both neighbors as
    predecessors while keeping slot occupancy exactly rounds/n."""
    from aind_protein_data_transformation_spark.measure import interleaved_ab

    ran: list[str] = []
    frames = {k: (lambda k=k: k) for k in ("a", "b", "c")}
    interleaved_ab(frames, rounds=6, warmup=0, action=ran.append)
    assert ran == [
        "a", "b", "c", "b", "c", "a", "c", "a", "b",   # forward cycle
        "c", "b", "a", "b", "a", "c", "a", "c", "b",   # reversed cycle
    ]
    # slot occupancy stays exact: each candidate leads twice, ends twice
    leads = [ran[i] for i in range(0, len(ran), 3)]
    lasts = [ran[i + 2] for i in range(0, len(ran), 3)]
    for k in ("a", "b", "c"):
        assert leads.count(k) == 2 and lasts.count(k) == 2
    # predecessor diversity: b is preceded by a in the forward cycle
    # and by c in the reversed one (within-round adjacency)
    pred_b = {
        ran[i - 1]
        for i in range(len(ran))
        if ran[i] == "b" and i % 3 != 0
    }
    assert pred_b == {"a", "c"}


def test_interleaved_ab_alternates_pair_order_when_rotation_cannot():
    """Round-8 measured artifact: in the many-candidate regime
    (n > rounds) rotation-by-one leaves the second member of every
    adjacent A/B pair permanently in the favored just-after slot — the
    AQE sweep produced a fake 22% win that flipped with the listing
    order. The harness now runs odd rounds REVERSED, so each pair
    member takes each intra-pair position on alternating rounds."""
    from aind_protein_data_transformation_spark.measure import interleaved_ab

    ran: list[str] = []
    # 3 adjacent A/B pairs, query-outer/variant-inner, rounds < n
    names = [f"{q}::{v}" for q in ("q1", "q2", "q3") for v in ("on", "off")]
    frames = {k: (lambda k=k: k) for k in names}
    interleaved_ab(frames, rounds=4, warmup=0, action=ran.append)
    rounds_run = [ran[i : i + 6] for i in range(0, len(ran), 6)]
    assert len(rounds_run) == 4
    for q in ("q1", "q2", "q3"):
        first_counts = {"on": 0, "off": 0}
        for rnd in rounds_run:
            a, b = rnd.index(f"{q}::on"), rnd.index(f"{q}::off")
            first_counts["on" if a < b else "off"] += 1
        # each side leads the pair equally often across the 4 rounds
        assert first_counts == {"on": 2, "off": 2}, (q, rounds_run)


def test_interleaved_ab_post_run_hook_outside_timing():
    """ADVICE r7: per-run hygiene (clearCache) goes through post_run —
    executed after every warmup and timed run, never inside the timed
    window. Verified by a slow hook: if it were billed, every sample
    would exceed its sleep."""
    import time as _time

    from aind_protein_data_transformation_spark.measure import interleaved_ab

    calls = {"post": 0}

    def post():
        calls["post"] += 1
        _time.sleep(0.05)

    res = interleaved_ab(
        {"x": lambda: "x"}, rounds=2, warmup=1, action=lambda _t: None,
        post_run=post,
    )
    assert calls["post"] == 3  # 1 warmup + 2 timed
    assert all(r < 0.05 for r in res["x"]["runs"])


def test_sweep_checkpoint_discards_on_fingerprint_mismatch():
    """ADVICE r11: a checkpoint written by a different code version (or
    a legacy unfingerprinted flat dict) must be discarded automatically,
    never replayed into the budget gate; same-fingerprint checkpoints
    resume, dropping rows for queries no longer registered."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "sweep_mod", os.path.join(REPO, "scripts", "sweep_registry.py")
    )
    sweep = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sweep)

    names = ["q1", "q2"]
    fp = "abc123+deadbeef"
    # same fingerprint: resume, ghost rows dropped
    t, why = sweep.load_checkpoint(
        {"fingerprint": fp, "timings": {"q1": 1.0, "gone": 2.0}}, fp, names
    )
    assert t == {"q1": 1.0} and why is None
    # different fingerprint: discard with a reason naming both versions
    t, why = sweep.load_checkpoint(
        {"fingerprint": "old000", "timings": {"q1": 1.0}}, fp, names
    )
    assert t == {} and "old000" in why and fp in why
    # legacy flat dict (pre-fingerprint format): discard
    t, why = sweep.load_checkpoint({"q1": 1.0}, fp, names)
    assert t == {} and "unfingerprinted" in why
    # fingerprints are stable within a process / differ across diffs
    assert sweep._code_fingerprint() == sweep._code_fingerprint()
