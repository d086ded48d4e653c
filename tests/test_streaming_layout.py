"""Streaming ingest into a clustered store — the composition the
layout operator exists for at 100 TB: Structured Streaming lands each
micro-batch through ``foreachBatch`` + ``zorder_layout(mode="append",
edges=<shared>)``, so the lake table is ALREADY clustered as it
arrives (no post-hoc re-layout pass), every micro-batch shares one key
space (the ``edges=`` snapshot from the first batch), and history is
never re-shuffled.

Claims pinned:
- multi-micro-batch replay (maxFilesPerTrigger=1 over a time-split
  events fixture) lands the exact row multiset the batch table holds;
- the landed store PRUNES a (user_id, value) box the arrival-order
  store cannot (deterministic footer geometry);
- all micro-batches after the first reuse the first batch's edges —
  no per-batch sketch pass (counted via a wrapper).
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import aind_protein_data_transformation_spark.streaming.events as events_mod
from aind_protein_data_transformation_spark.catalog import load_table
from aind_protein_data_transformation_spark.operators import layout as layout_mod
from aind_protein_data_transformation_spark.operators.layout import (
    layout_scan_fraction,
    zorder_layout,
)
from aind_protein_data_transformation_spark.streaming.events import (
    read_events_stream,
    stream_replay_options,
)

N_FILES = 4


@pytest.fixture(scope="module")
def split_sf_dir(spark, sf_dir, tmp_path_factory) -> str:
    """Events split into N_FILES time-ordered part files (same recipe
    as tests/test_streaming_multibatch.py) so maxFilesPerTrigger=1
    replays one micro-batch per file."""
    root = tmp_path_factory.mktemp("layout_stream_sf")
    events_dir = os.path.join(str(root), "events.parquet")
    ev = load_table(spark, sf_dir, "events")
    bucketed = ev.withColumn(
        "bucket", F.ntile(N_FILES).over(Window.orderBy("ts", "event_id"))
    )
    base_mtime = 1_700_000_000
    for b in range(1, N_FILES + 1):
        before = set(os.listdir(events_dir)) if os.path.isdir(events_dir) else set()
        (
            bucketed.filter(F.col("bucket") == b)
            .drop("bucket")
            .coalesce(1)
            .write.mode("append")
            .parquet(events_dir)
        )
        for name in set(os.listdir(events_dir)) - before:
            if name.endswith(".parquet"):
                os.utime(os.path.join(events_dir, name),
                         (base_mtime + b, base_mtime + b))
    yield str(root)
    shutil.rmtree(str(root), ignore_errors=True)


def test_stream_lands_clustered(spark, split_sf_dir, tmp_path):
    out = str(tmp_path / "clustered_lake")
    naive = str(tmp_path / "arrival_lake")
    ckpt = str(tmp_path / "ckpt")
    cols = ["user_id", "value"]
    state = {"edges": None, "sketch_passes": 0, "batches": 0}

    real_quantile_bin_edges = layout_mod.quantile_bin_edges

    def counting_quantile_bin_edges(*a, **kw):
        state["sketch_passes"] += 1
        return real_quantile_bin_edges(*a, **kw)

    def land(batch_df, batch_id):
        state["batches"] += 1
        state["edges"] = zorder_layout(
            batch_df, cols, out, bits=5, num_files=1,
            row_group_bytes=8 * 1024, mode="append",
            edges=state["edges"],
        )
        (batch_df.write.mode("append")
         .option("parquet.block.size", str(8 * 1024)).parquet(naive))

    layout_mod.quantile_bin_edges = counting_quantile_bin_edges
    try:
        with stream_replay_options(maxFilesPerTrigger=1):
            q = (
                read_events_stream(spark, split_sf_dir)
                .writeStream.foreachBatch(land)
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
            q.awaitTermination()
    finally:
        layout_mod.quantile_bin_edges = real_quantile_bin_edges

    assert state["batches"] >= N_FILES
    # one sketch pass total: batch 1 computed edges, the rest reused
    assert state["sketch_passes"] == 1

    # exactly-once multiset: the clustered lake equals the batch table
    ev = load_table(spark, split_sf_dir, "events")
    landed = spark.read.parquet(out)
    assert landed.count() == ev.count()
    fp = lambda d: tuple(d.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(F.to_json(F.struct(*sorted(d.columns))))
              .cast("decimal(38,0)")),
    ).collect()[0])
    assert fp(landed.select(*ev.columns)) == fp(ev)

    # the clustered lake prunes a box the arrival-order lake cannot
    lo, hi = ev.approxQuantile("value", [0.3, 0.5], 0.01)
    uid_hi = ev.approxQuantile([ "user_id"], [0.25], 0.01)[0][0]
    box = {"value": (lo, hi), "user_id": (None, float(uid_hi))}
    g_clustered = layout_scan_fraction(out, box)
    g_naive = layout_scan_fraction(naive, box)
    assert g_clustered["rows"] == g_naive["rows"]
    assert g_clustered["row_groups"] >= 8
    # each micro-batch is only ~2.5k rows at this fixture size, so the
    # per-batch tiling is coarse — the pinned claim is the CONTRAST
    # (the arrival-order lake keeps ~everything, the clustered lake
    # skips), not the asymptotic fraction (that slope is measured at
    # scale in scripts/exp_zorder_incremental.py)
    assert g_naive["fraction_rows_kept"] > 0.8
    assert g_clustered["fraction_rows_kept"] < 0.7
    assert (g_clustered["fraction_rows_kept"]
            < g_naive["fraction_rows_kept"] - 0.2)


def test_batch_keyed_landing_is_replay_idempotent(spark, split_sf_dir, tmp_path):
    """The registered streaming_clustered_ingest query lands each
    micro-batch as an OVERWRITE of its own ``batch=<id>`` unit.
    foreachBatch is at-least-once under crash replay, so the pinned
    claim is: a replayed batch — including one whose first attempt
    landed only partially before the crash — leaves the lake multiset
    exactly equal to one copy of the source, and a replay of an
    already-fully-landed batch changes nothing."""
    lake = str(tmp_path / "lake")
    cols = ["user_id", "value"]
    ev = load_table(spark, split_sf_dir, "events")
    batches = [
        ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(3)) == i)
        for i in range(3)
    ]

    def land(batch_df, batch_id, edges):
        return zorder_layout(
            batch_df, cols, f"{lake}/batch={batch_id}",
            bits=5, num_files=1, mode="overwrite", edges=edges,
        )

    def fp(d):
        cols_all = sorted(d.columns)
        return tuple(d.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(F.to_json(F.struct(*cols_all)))
                  .cast("decimal(38,0)")),
        ).collect()[0])

    edges = land(batches[0], 0, None)
    # batch 1's first attempt "crashes" after landing a partial unit
    land(batches[1].limit(50), 1, edges)
    # replay (at-least-once): the full batch OVERWRITES its own unit
    land(batches[1], 1, edges)
    land(batches[2], 2, edges)
    landed = spark.read.parquet(f"{lake}/batch=*")
    assert fp(landed.select(*ev.columns)) == fp(ev)

    # replaying an already-fully-landed batch is a no-op on the multiset
    land(batches[2], 2, edges)
    landed = spark.read.parquet(f"{lake}/batch=*")
    assert fp(landed.select(*ev.columns)) == fp(ev)


def test_edge_snapshot_survives_restart(spark, split_sf_dir, tmp_path):
    """The persisted edge snapshot makes the ingest restartable in ONE
    key space: phase 1 (fresh lake) sketches once and saves
    ``_edges.json``; phase 2 simulates a driver restart (empty memory,
    same lake) and must land its batches with ZERO new sketch passes,
    reusing the loaded snapshot — so every unit before and after the
    restart shares the exact same key geometry."""
    from aind_protein_data_transformation_spark.operators.layout import (
        load_edge_snapshot,
        save_edge_snapshot,
    )

    lake = str(tmp_path / "lake")
    cols = ["user_id", "value"]
    ev = load_table(spark, split_sf_dir, "events")
    batches = [
        ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(4)) == i)
        for i in range(4)
    ]

    real_quantile_bin_edges = layout_mod.quantile_bin_edges
    passes = {"n": 0}

    def counting(*a, **kw):
        passes["n"] += 1
        return real_quantile_bin_edges(*a, **kw)

    def run_phase(batch_ids):
        # what streaming_clustered_ingest's foreachBatch closure does,
        # from a COLD start: load-or-None, sketch only if None, save
        edges = load_edge_snapshot(lake, spark)
        for bid in batch_ids:
            fresh = edges is None
            edges = zorder_layout(
                batches[bid], cols, f"{lake}/batch={bid}",
                bits=5, num_files=1, mode="overwrite", edges=edges,
            )
            if fresh:
                save_edge_snapshot(lake, edges, spark)
        return edges

    layout_mod.quantile_bin_edges = counting
    try:
        e1 = run_phase([0, 1])
        assert passes["n"] == 1            # one sketch, then saved
        e2 = run_phase([2, 3])             # "restart": empty memory
        assert passes["n"] == 1            # reloaded, NO re-sketch
    finally:
        layout_mod.quantile_bin_edges = real_quantile_bin_edges
    assert e2 == e1                         # one key space across restart
    assert load_edge_snapshot(lake, spark) == e1

    # and the landed lake is exactly one copy of the source
    landed = spark.read.parquet(f"{lake}/batch=*")
    assert landed.count() == ev.count()


def test_compact_ingest_units_folds_and_preserves(spark, split_sf_dir, tmp_path):
    """The ingest-side compactor: folding the older batch units into
    one re-clustered unit preserves the resolver-read multiset exactly,
    keeps the hot tail untouched, names the folded unit by its id
    range, RETAINS the subsumed units for one generation (the next
    call's repair deletes them), and reuses the persisted edge snapshot
    (no new sketch)."""
    from aind_protein_data_transformation_spark.operators.layout import (
        compact_ingest_units,
        load_edge_snapshot,
        read_ingest_lake,
        save_edge_snapshot,
    )

    lake = str(tmp_path / "lake")
    cols = ["user_id", "value"]
    ev = load_table(spark, split_sf_dir, "events")
    batches = [
        ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(4)) == i)
        for i in range(4)
    ]
    edges = None
    for i, b in enumerate(batches):
        edges = zorder_layout(
            b, cols, f"{lake}/batch={i}", bits=5, num_files=1,
            mode="overwrite", edges=edges,
        )
    save_edge_snapshot(lake, edges, spark)

    def fp(d):
        cs = sorted(d.columns)
        return tuple(d.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(F.to_json(F.struct(*cs)))
                  .cast("decimal(38,0)")),
        ).collect()[0])

    before = fp(spark.read.parquet(f"{lake}/batch=*"))

    real_sketch = layout_mod.quantile_bin_edges
    passes = {"n": 0}
    layout_mod.quantile_bin_edges = (
        lambda *a, **kw: (passes.__setitem__("n", passes["n"] + 1)
                          or real_sketch(*a, **kw))
    )
    try:
        report = compact_ingest_units(lake, cols, spark, bits=5,
                                      num_files=1, keep_last=1)
    finally:
        layout_mod.quantile_bin_edges = real_sketch
    assert passes["n"] == 0                    # snapshot reused, no sketch
    assert report["folded"] == 3
    assert report["unit"] == "batch=c0-2"
    assert report["edges"] == edges
    assert report["retired"] == ["batch=0", "batch=1", "batch=2"]
    # retained generation: the subsumed originals stay ON DISK for
    # in-flight readers; the resolver reads exactly one copy anyway
    names = sorted(n for n in os.listdir(lake) if n.startswith("batch="))
    assert names == ["batch=0", "batch=1", "batch=2", "batch=3",
                     "batch=c0-2"]
    assert fp(read_ingest_lake(spark, lake)) == before

    # fewer than 2 candidates: no fold, but the repair pass sweeps the
    # retired generation (the deferred deletes land HERE)
    report2 = compact_ingest_units(lake, cols, spark, bits=5, keep_last=1)
    assert report2["folded"] == 0 and report2["unit"] is None
    assert report2["repaired"] == ["batch=0", "batch=1", "batch=2"]
    names = sorted(n for n in os.listdir(lake) if n.startswith("batch="))
    assert names == ["batch=3", "batch=c0-2"]
    assert fp(read_ingest_lake(spark, lake)) == before

    # a later fold subsumes the earlier folded unit + the matured tail
    zorder_layout(batches[0].limit(40), cols, f"{lake}/batch=4",
                  bits=5, num_files=1, mode="overwrite", edges=edges)
    before2 = fp(read_ingest_lake(spark, lake))
    report3 = compact_ingest_units(lake, cols, spark, bits=5,
                                   num_files=1, keep_last=1)
    assert report3["folded"] == 2              # c0-2 + batch=3
    assert report3["unit"] == "batch=c0-3"
    assert report3["retired"] == ["batch=c0-2", "batch=3"]
    names = sorted(n for n in os.listdir(lake) if n.startswith("batch="))
    assert names == ["batch=3", "batch=4", "batch=c0-2", "batch=c0-3"]
    assert fp(read_ingest_lake(spark, lake)) == before2


def test_compact_ingest_units_repairs_crash_leftovers(spark, split_sf_dir, tmp_path):
    """A fold that crashed BEFORE its commit marker (mid-write, or
    between the last data object and the marker) leaves a marker-less
    folded unit next to the fully-live originals. The resolver never
    reads it, and the next call's repair deletes exactly it (lossless —
    every original is still live) before re-folding; the retry
    converges to a committed fold of the same span."""
    from aind_protein_data_transformation_spark.operators.layout import (
        compact_ingest_units,
        read_ingest_lake,
        resolve_ingest_units,
    )

    lake = str(tmp_path / "lake")
    cols = ["user_id", "value"]
    ev = load_table(spark, split_sf_dir, "events")
    batches = [
        ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(3)) == i)
        for i in range(3)
    ]
    edges = None
    for i, b in enumerate(batches):
        edges = zorder_layout(
            b, cols, f"{lake}/batch={i}", bits=5, num_files=1,
            mode="overwrite", edges=edges,
        )

    def fp(d):
        cs = sorted(d.columns)
        return tuple(d.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(F.to_json(F.struct(*cs)))
                  .cast("decimal(38,0)")),
        ).collect()[0])

    one_copy = fp(spark.read.parquet(f"{lake}/batch=*"))

    # simulate the crash state: the fold of batches 0-1 completed its
    # data copy but died before writing the _FOLD_COMMITTED marker
    union01 = spark.read.parquet(f"{lake}/batch=0", f"{lake}/batch=1")
    zorder_layout(union01, cols, f"{lake}/batch=c0-1", bits=5,
                  num_files=1, mode="overwrite", edges=edges)
    dup = fp(spark.read.parquet(f"{lake}/batch=*"))
    assert dup != one_copy                 # the raw glob WOULD dup-read
    # the resolver excludes the uncommitted unit: still exactly one copy
    assert [os.path.basename(u) for u in resolve_ingest_units(lake)] == [
        "batch=0", "batch=1", "batch=2"
    ]

    report = compact_ingest_units(lake, cols, spark, bits=5,
                                  num_files=1, keep_last=1)
    # repair deleted the marker-less unit, then the retry re-folded the
    # same span and committed it, retaining the originals one generation
    assert report["repaired"] == ["batch=c0-1"]
    assert report["folded"] == 2 and report["unit"] == "batch=c0-1"
    assert report["retired"] == ["batch=0", "batch=1"]
    assert fp(read_ingest_lake(spark, lake)) == one_copy
    names = sorted(n for n in os.listdir(lake) if n.startswith("batch="))
    assert names == ["batch=0", "batch=1", "batch=2", "batch=c0-1"]


def test_compact_ingest_units_repairs_nested_crash_ranges(spark, split_sf_dir, tmp_path):
    """Double-crash state mixing both repair rules: two COMMITTED folds
    (c0-1, then c0-2 whose candidates included c0-1) plus a retained
    original (batch=1) that a crashed repair sweep never deleted —
    batch=1 now sits inside TWO committed ranges at once and must be
    deleted exactly once; c0-1 is contained in c0-2; and a marker-less
    c0-3 from a third fold that crashed pre-commit must be deleted as
    uncommitted (its span would otherwise swallow the live tail's
    history). One repair pass converges the lot to one copy."""
    from aind_protein_data_transformation_spark.operators.layout import (
        _FOLD_MARKER,
        compact_ingest_units,
        read_ingest_lake,
    )

    lake = str(tmp_path / "lake")
    cols = ["user_id", "value"]
    ev = load_table(spark, split_sf_dir, "events")
    batches = [
        ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(4)) == i)
        for i in range(4)
    ]
    edges = None
    for i, b in enumerate(batches):
        edges = zorder_layout(
            b, cols, f"{lake}/batch={i}", bits=5, num_files=1,
            mode="overwrite", edges=edges,
        )

    def fp(d):
        cs = sorted(d.columns)
        return tuple(d.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(F.to_json(F.struct(*cs)))
                  .cast("decimal(38,0)")),
        ).collect()[0])

    one_copy = fp(spark.read.parquet(f"{lake}/batch=*"))

    def commit_marker(unit):
        with open(os.path.join(lake, unit, _FOLD_MARKER), "w") as f:
            f.write("{}")

    # committed fold 1 over {0, 1}; its NEXT repair deleted batch=0
    # then crashed before batch=1 (batch=1 survives in two ranges)
    u01 = spark.read.parquet(f"{lake}/batch=0", f"{lake}/batch=1")
    zorder_layout(u01, cols, f"{lake}/batch=c0-1", bits=5,
                  num_files=1, mode="overwrite", edges=edges)
    commit_marker("batch=c0-1")
    # committed fold 2 over {c0-1, 2}
    u012 = spark.read.parquet(
        f"{lake}/batch=0", f"{lake}/batch=1", f"{lake}/batch=2"
    )
    zorder_layout(u012, cols, f"{lake}/batch=c0-2", bits=5,
                  num_files=1, mode="overwrite", edges=edges)
    commit_marker("batch=c0-2")
    shutil.rmtree(f"{lake}/batch=0")
    # fold 3 over {c0-2, 3} crashed BEFORE its marker: uncommitted
    u0123 = spark.read.parquet(f"{lake}/batch=c0-2", f"{lake}/batch=3")
    zorder_layout(u0123, cols, f"{lake}/batch=c0-3", bits=5,
                  num_files=1, mode="overwrite", edges=edges)

    # even in this state the resolver reads exactly one copy
    assert fp(read_ingest_lake(spark, lake)) == one_copy

    report = compact_ingest_units(lake, cols, spark, bits=5,
                                  num_files=1, keep_last=1)
    # one sweep: batch=1 (inside BOTH committed ranges) deleted exactly
    # once, c0-1 (inside c0-2) deleted, uncommitted c0-3 deleted
    assert report["repaired"] == [
        "batch=c0-1", "batch=1", "batch=2", "batch=c0-3"
    ]
    assert report["folded"] == 0           # only c0-2 matured: no fold
    assert fp(read_ingest_lake(spark, lake)) == one_copy
    names = sorted(n for n in os.listdir(lake) if n.startswith("batch="))
    assert names == ["batch=3", "batch=c0-2"]


def test_fold_retains_units_for_inflight_readers(spark, split_sf_dir, tmp_path):
    """The fold's one-generation reader grace (VERDICT round 14 #3 —
    the same retained-generation shape the manifest compact has): a
    reader that resolved its unit list BEFORE a fold still collects the
    exact multiset AFTER it, because the fold leaves the subsumed
    units in place. The retained generation is reclaimed by the NEXT
    repair sweep — after which the stale resolution fails LOUDLY
    (missing paths), never silently wrong."""
    from aind_protein_data_transformation_spark.operators.layout import (
        compact_ingest_units,
        read_ingest_lake,
        repair_ingest_units,
        resolve_ingest_units,
        save_edge_snapshot,
    )

    lake = str(tmp_path / "lake")
    cols = ["user_id", "value"]
    ev = load_table(spark, split_sf_dir, "events")
    edges = None
    for i in range(4):
        edges = zorder_layout(
            ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(4)) == i),
            cols, f"{lake}/batch={i}", bits=5, num_files=1,
            mode="overwrite", edges=edges,
        )
    save_edge_snapshot(lake, edges, spark)

    def fp(d):
        cs = sorted(d.columns)
        return tuple(d.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(F.to_json(F.struct(*cs)))
                  .cast("decimal(38,0)")),
        ).collect()[0])

    # the in-flight reader resolves BEFORE the fold
    pre_units = resolve_ingest_units(lake)
    assert [os.path.basename(u) for u in pre_units] == [
        "batch=0", "batch=1", "batch=2", "batch=3"
    ]
    one_copy = fp(spark.read.parquet(*pre_units))

    report = compact_ingest_units(lake, cols, spark, bits=5,
                                  num_files=1, keep_last=1)
    assert report["retired"] == ["batch=0", "batch=1", "batch=2"]

    # grace: the pre-fold resolution still collects correctly
    assert fp(spark.read.parquet(*pre_units)) == one_copy
    # and a fresh resolution sees exactly one copy (no double count)
    assert fp(read_ingest_lake(spark, lake)) == one_copy

    # explicit reclaim (the cheap repair-only entry point): deletes
    # exactly the retired generation, resolver unaffected
    dead = repair_ingest_units(lake)
    assert sorted(dead) == ["batch=0", "batch=1", "batch=2"]
    assert fp(read_ingest_lake(spark, lake)) == one_copy
    # the stale pre-fold resolution now fails loudly, never silently
    # (the reported missing unit is whichever path Spark checks first)
    with pytest.raises(Exception, match=r"batch=\d"):
        spark.read.parquet(*pre_units).collect()


def test_fold_keep_last_zero_raises(spark, tmp_path):
    """keep_last=0 would let the fold swallow the newest (possibly
    partially-landed) batch unit; an at-least-once replay of that id
    would then be deleted by repair as 'contained' — permanent row
    loss. The fold refuses up front (ADVICE round 14)."""
    from aind_protein_data_transformation_spark.operators.layout import (
        compact_ingest_units,
    )

    with pytest.raises(ValueError, match="keep_last must be >= 1"):
        compact_ingest_units(str(tmp_path / "lake"), ["x"], spark,
                             keep_last=0)


def test_fold_gate_failure_keeps_staging_for_inspection(
    spark, split_sf_dir, tmp_path, monkeypatch
):
    """A fingerprint-gate failure renames the fold's output to
    ``.fold_failed`` so a routine retry's repair sweep (which deletes
    any marker-less folded unit) cannot clobber the inspection copy
    (ADVICE round 14). The retry itself succeeds and leaves the
    evidence in place."""
    from aind_protein_data_transformation_spark.operators.layout import (
        compact_ingest_units,
        read_ingest_lake,
        save_edge_snapshot,
    )

    lake = str(tmp_path / "lake")
    cols = ["user_id", "value"]
    ev = load_table(spark, split_sf_dir, "events")
    edges = None
    for i in range(3):
        edges = zorder_layout(
            ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(3)) == i),
            cols, f"{lake}/batch={i}", bits=5, num_files=1,
            mode="overwrite", edges=edges,
        )
    save_edge_snapshot(lake, edges, spark)

    def fp(d):
        cs = sorted(d.columns)
        return tuple(d.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(F.to_json(F.struct(*cs)))
                  .cast("decimal(38,0)")),
        ).collect()[0])

    one_copy = fp(read_ingest_lake(spark, lake))

    # first fingerprint call (the output side) lies once -> gate trips
    real_fp = layout_mod._multiset_fingerprint
    calls = {"n": 0}

    def lying_once(d):
        calls["n"] += 1
        out = real_fp(d)
        return ("corrupt",) if calls["n"] == 1 else out

    monkeypatch.setattr(layout_mod, "_multiset_fingerprint", lying_once)
    with pytest.raises(RuntimeError, match=r"\.fold_failed"):
        compact_ingest_units(lake, cols, spark, bits=5,
                             num_files=1, keep_last=1)
    assert os.path.isdir(os.path.join(lake, ".fold_failed"))
    assert not os.path.exists(os.path.join(lake, "batch=c0-1"))  # moved
    # originals untouched: the lake still reads one exact copy
    assert fp(read_ingest_lake(spark, lake)) == one_copy

    # routine retry (fingerprint honest now): fold succeeds AND the
    # failure evidence survives its repair sweep
    report = compact_ingest_units(lake, cols, spark, bits=5,
                                  num_files=1, keep_last=1)
    assert report["folded"] == 2 and report["unit"] == "batch=c0-1"
    assert os.path.isdir(os.path.join(lake, ".fold_failed"))
    assert fp(read_ingest_lake(spark, lake)) == one_copy


def _mini_lake(spark, split_sf_dir, tmp_path, n=3):
    """A small batch-keyed lake (n units + edge snapshot) and its
    one-copy fingerprint — shared scaffolding for the failure-injection
    fold tests below."""
    from aind_protein_data_transformation_spark.operators.layout import (
        save_edge_snapshot,
    )

    lake = str(tmp_path / "lake")
    cols = ["user_id", "value"]
    ev = load_table(spark, split_sf_dir, "events")
    edges = None
    for i in range(n):
        edges = zorder_layout(
            ev.filter(F.pmod(F.xxhash64("event_id"), F.lit(n)) == i),
            cols, f"{lake}/batch={i}", bits=5, num_files=1,
            mode="overwrite", edges=edges,
        )
    save_edge_snapshot(lake, edges, spark)

    def fp(d):
        cs = sorted(d.columns)
        return tuple(d.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64(F.to_json(F.struct(*cs)))
                  .cast("decimal(38,0)")),
        ).collect()[0])

    return lake, cols, fp


def test_repair_reports_only_confirmed_deletes(
    spark, split_sf_dir, tmp_path, monkeypatch
):
    """``repair_ingest_units`` post-checks every delete with ``_exists``
    and returns only the units CONFIRMED gone (ADVICE round 15):
    ``_delete_tree`` is best-effort, so a silently failed delete must
    not be reported as reclaimed storage — callers doing a raw glob or
    footer walk would otherwise trust a double-counting lake."""
    from aind_protein_data_transformation_spark.operators.layout import (
        compact_ingest_units,
        repair_ingest_units,
    )

    lake, cols, fp = _mini_lake(spark, split_sf_dir, tmp_path, n=3)
    compact_ingest_units(lake, cols, spark, bits=5, num_files=1,
                         keep_last=1)   # retires batch=0, batch=1

    real_delete = layout_mod._delete_tree

    def skip_batch0(p, spark_):
        if os.path.basename(p) == "batch=0":
            return   # the silent failure: rmtree(ignore_errors=True)
        real_delete(p, spark_)

    monkeypatch.setattr(layout_mod, "_delete_tree", skip_batch0)
    dead = repair_ingest_units(lake, spark)
    assert dead == ["batch=1"]          # batch=0 attempted, NOT confirmed
    assert os.path.isdir(os.path.join(lake, "batch=0"))

    # once the store behaves, a plain retry reclaims the survivor
    monkeypatch.setattr(layout_mod, "_delete_tree", real_delete)
    assert repair_ingest_units(lake, spark) == ["batch=0"]


def test_fold_refuses_to_refold_surviving_dead_unit(
    spark, split_sf_dir, tmp_path, monkeypatch
):
    """A retired unit whose repair delete silently failed must NEVER
    re-enter the fold's candidate set (ADVICE round 15, medium): its
    rows would double-count into the folded unit AND pass the
    fingerprint gate (the output is compared against the same duplicated
    union). The fold re-lists after repair and raises on any survivor,
    writing nothing; the resolver keeps reading exactly one copy."""
    from aind_protein_data_transformation_spark.operators.layout import (
        compact_ingest_units,
        read_ingest_lake,
    )

    lake, cols, fp = _mini_lake(spark, split_sf_dir, tmp_path, n=4)
    one_copy = fp(read_ingest_lake(spark, lake))
    compact_ingest_units(lake, cols, spark, bits=5, num_files=1,
                         keep_last=1)   # c0-2 committed; 0..2 retired

    def silent_noop(p, spark_):
        return   # every delete silently fails

    monkeypatch.setattr(layout_mod, "_delete_tree", silent_noop)
    with pytest.raises(RuntimeError, match="repair left dead ingest"):
        compact_ingest_units(lake, cols, spark, bits=5, num_files=1,
                             keep_last=1)
    # nothing was folded or staged; one exact copy through the resolver
    names = sorted(n for n in os.listdir(lake) if n.startswith("batch="))
    assert names == ["batch=0", "batch=1", "batch=2", "batch=3",
                     "batch=c0-2"]
    assert fp(read_ingest_lake(spark, lake)) == one_copy


def test_fold_gate_secondary_failure_raises_original(
    spark, split_sf_dir, tmp_path, monkeypatch
):
    """If the fingerprint gate trips AND the evidence-preserving move
    to ``.fold_failed`` itself fails, the ORIGINAL multiset diagnostic
    still raises — noting that the output stayed put and the next
    repair sweep will delete it (ADVICE round 15: the secondary OSError
    must not mask the RuntimeError)."""
    from aind_protein_data_transformation_spark.operators.layout import (
        compact_ingest_units,
        read_ingest_lake,
    )

    lake, cols, fp = _mini_lake(spark, split_sf_dir, tmp_path, n=3)
    one_copy = fp(read_ingest_lake(spark, lake))

    real_fp = layout_mod._multiset_fingerprint
    calls = {"n": 0}

    def lying_once(d):
        calls["n"] += 1
        return ("corrupt",) if calls["n"] == 1 else real_fp(d)

    def broken_rename(src, dst, spark_):
        raise OSError("simulated store failure during evidence move")

    monkeypatch.setattr(layout_mod, "_multiset_fingerprint", lying_once)
    monkeypatch.setattr(layout_mod, "_rename", broken_rename)
    with pytest.raises(RuntimeError,
                       match="changed the row multiset.*FAILED"):
        compact_ingest_units(lake, cols, spark, bits=5, num_files=1,
                             keep_last=1)
    # the marker-less output stayed where it was written; originals
    # untouched
    assert os.path.isdir(os.path.join(lake, "batch=c0-1"))
    assert not os.path.exists(
        os.path.join(lake, "batch=c0-1", layout_mod._FOLD_MARKER)
    )
    assert not os.path.exists(os.path.join(lake, ".fold_failed"))
    assert fp(read_ingest_lake(spark, lake)) == one_copy


def test_fold_promote_direct_no_rename(
    spark, split_sf_dir, tmp_path, monkeypatch
):
    """The fold writes the folded unit STRAIGHT to its final
    ``batch=c<lo>-<hi>`` name — zero renames, so zero per-object
    copies on S3-class stores (VERDICT round 15 #3). The marker is the
    commit point: mid-write the unit is marker-less and invisible to
    the resolver, and a pre-marker crash is repaired losslessly."""
    from aind_protein_data_transformation_spark.operators.layout import (
        _FOLD_MARKER,
        compact_ingest_units,
        read_ingest_lake,
        resolve_ingest_units,
    )

    lake, cols, fp = _mini_lake(spark, split_sf_dir, tmp_path, n=4)
    one_copy = fp(read_ingest_lake(spark, lake))

    def no_renames(src, dst, spark_):
        raise AssertionError(f"the fold must not rename ({src})")

    monkeypatch.setattr(layout_mod, "_rename", no_renames)
    report = compact_ingest_units(lake, cols, spark, bits=5,
                                  num_files=1, keep_last=1)
    assert report["folded"] == 3 and report["unit"] == "batch=c0-2"
    assert report["retired"] == ["batch=0", "batch=1", "batch=2"]
    assert os.path.isfile(
        os.path.join(lake, "batch=c0-2", _FOLD_MARKER)
    )
    assert fp(read_ingest_lake(spark, lake)) == one_copy
    monkeypatch.undo()

    # pre-marker crash: the final-named unit exists
    # but is uncommitted — resolver-invisible, repaired, retry converges
    os.remove(os.path.join(lake, "batch=c0-2", _FOLD_MARKER))
    assert [os.path.basename(u) for u in resolve_ingest_units(lake)] == [
        "batch=0", "batch=1", "batch=2", "batch=3"
    ]
    assert fp(read_ingest_lake(spark, lake)) == one_copy
    report2 = compact_ingest_units(lake, cols, spark, bits=5,
                                   num_files=1, keep_last=1)
    assert report2["repaired"] == ["batch=c0-2"]
    assert report2["folded"] == 3 and report2["unit"] == "batch=c0-2"
    assert fp(read_ingest_lake(spark, lake)) == one_copy


def test_ingest_lifecycle_end_to_end(spark, split_sf_dir, tmp_path):
    """The FULL ingest lifecycle in one pin (VERDICT round 14 #4):
    stream (availableNow, one micro-batch per file) → driver restart
    (empty memory, same lake + checkpoint) → more batches arrive and
    stream in → ``compact_ingest_units`` folds the matured units → the
    folded lake's (user_id, value) box aggregate, read through the
    resolver, still equals the batch source exactly. Every piece is
    pinned separately elsewhere; this is the composition."""
    from aind_protein_data_transformation_spark.operators.layout import (
        compact_ingest_units,
        load_edge_snapshot,
        read_ingest_lake,
        save_edge_snapshot,
    )

    # two-phase source: files "arrive" between the two stream runs
    src_root = str(tmp_path / "src")
    events_dir = os.path.join(src_root, "events.parquet")
    os.makedirs(events_dir)
    full_dir = os.path.join(split_sf_dir, "events.parquet")
    parts = sorted(f for f in os.listdir(full_dir) if f.endswith(".parquet"))
    assert len(parts) == N_FILES

    lake = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    cols = ["user_id", "value"]

    def run_stream_cold():
        # what a restarted driver does: reload the persisted key space,
        # resume from the checkpoint, land each micro-batch clustered
        state = {"edges": load_edge_snapshot(lake, spark)}

        def land(batch_df, batch_id):
            fresh = state["edges"] is None
            state["edges"] = zorder_layout(
                batch_df, cols, f"{lake}/batch={batch_id}",
                bits=5, num_files=1, mode="overwrite",
                edges=state["edges"],
            )
            if fresh:
                save_edge_snapshot(lake, state["edges"], spark)

        with stream_replay_options(maxFilesPerTrigger=1):
            handle = (
                read_events_stream(spark, src_root)
                .writeStream.foreachBatch(land)
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .start()
            )
            handle.awaitTermination()

    for p in parts[:2]:
        shutil.copy(os.path.join(full_dir, p), os.path.join(events_dir, p))
    run_stream_cold()
    assert len([n for n in os.listdir(lake) if n.startswith("batch=")]) == 2

    for p in parts[2:]:
        shutil.copy(os.path.join(full_dir, p), os.path.join(events_dir, p))
    run_stream_cold()          # "restart": checkpoint resumes, ids monotone
    units = sorted(n for n in os.listdir(lake) if n.startswith("batch="))
    assert len(units) == 4

    report = compact_ingest_units(lake, cols, spark, bits=5,
                                  num_files=1, keep_last=1)
    assert report["folded"] == 3

    box = (F.col("user_id").between(20, 60)
           & (F.col("value") >= 5.0) & (F.col("value") <= 50.0))

    def box_agg(d):
        return (
            d.filter(box).groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(25,6)")).alias("s"))
            .orderBy("event_type")
            .collect()
        )

    source = load_table(spark, split_sf_dir, "events")
    landed = read_ingest_lake(spark, lake).select(*source.columns)
    assert box_agg(landed) == box_agg(source)
