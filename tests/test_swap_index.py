"""Atomic rename-based index promotion (VERDICT r8 #3).

Pins swap_index's contract for all three index families through their
public wrappers (swap_minhash_index / swap_srp_index /
swap_simhash_index): the production
maintenance path compact-into-target → verify → swap has no overwrite
window at any step, and — crash-simulated at EVERY inter-rename point —
a probe against the live name sees either the old index, the new
index, or fails LOUDLY on a missing table; never a silent mixture of
generations. Re-running the swap from any crash point completes the
promotion, after which no target/retired residue remains and the
geometry stamp (all three families since round 10) has travelled with
its table.

The crash simulator replays the exact operation sequence swap_index
executes on a fresh run (retire both → promote both → drop both),
stopping after k operations, so the simulated states are the
implementation's real intermediate states, not a guess.
"""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException

from aind_protein_data_transformation_spark.operators.dedup import (
    MINHASH_STAMP_KEYS,
    append_minhash_shard,
    compact_minhash_index,
    incremental_minhash_pairs,
    swap_minhash_index,
    write_minhash_index,
)
from aind_protein_data_transformation_spark.operators.embedding_index import (
    SRP_STAMP_KEYS,
    append_srp_shard,
    compact_srp_index,
    incremental_srp_pairs,
    swap_srp_index,
    write_srp_index,
)
from aind_protein_data_transformation_spark.operators.simhash_index import (
    SIMHASH_STAMP_KEYS,
    append_simhash_shard,
    compact_simhash_index,
    incremental_simhash_pairs,
    swap_simhash_index,
    write_simhash_index,
)


class MinhashFamily:
    id_col = "doc_id"
    sidecar = "sigs"
    stamp_keys = MINHASH_STAMP_KEYS
    append = staticmethod(append_minhash_shard)
    swap = staticmethod(swap_minhash_index)
    compact = staticmethod(compact_minhash_index)

    @staticmethod
    def build(spark, sf_dir, name):
        docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text")
            .filter("pmod(hash(doc_id), 5) != 0")
        )
        shard = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text")
            .filter("pmod(hash(doc_id), 5) = 0")
        )
        write_minhash_index(docs, name, n_buckets=4)
        return shard

    @staticmethod
    def probe(spark, shard, name):
        return {
            (r.new_id, r.index_id): round(r.jaccard, 6)
            for r in incremental_minhash_pairs(
                spark, shard, name, threshold=0.4
            ).collect()
        }


class SrpFamily:
    id_col = "vec_id"
    sidecar = "vecs"
    stamp_keys = SRP_STAMP_KEYS
    append = staticmethod(append_srp_shard)
    swap = staticmethod(swap_srp_index)
    compact = staticmethod(compact_srp_index)

    @staticmethod
    def build(spark, sf_dir, name):
        vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        corpus = vecs.filter("vec_id % 5 != 0")
        # mutate vectors that ARE in the corpus so the probe finds pairs
        shard = vecs.filter("vec_id % 5 = 1").selectExpr(
            "vec_id + 1000000 AS vec_id",
            "transform(sequence(1, size(embedding)), i -> "
            "CAST(CAST(element_at(embedding, i) AS DOUBLE) "
            "+ 0.02 * ((i % 3) - 1) AS FLOAT)) AS embedding",
        )
        write_srp_index(corpus, name, n_buckets=4)
        return shard

    @staticmethod
    def probe(spark, shard, name):
        return {
            (r.new_id, r.index_id): round(r.cosine, 6)
            for r in incremental_srp_pairs(
                spark, shard, name, threshold=0.9
            ).collect()
        }


class SimhashFamily:
    id_col = "doc_id"
    sidecar = "sigs"
    stamp_keys = SIMHASH_STAMP_KEYS
    append = staticmethod(append_simhash_shard)
    swap = staticmethod(swap_simhash_index)
    compact = staticmethod(compact_simhash_index)

    @staticmethod
    def build(spark, sf_dir, name):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        shard = docs.filter("doc_id % 10 = 0").selectExpr(
            "doc_id + 1000000 AS doc_id",
            r"regexp_replace(text, '^\\S+\\s+', '') AS text",
        )
        write_simhash_index(docs, name, n_buckets=4)
        return shard

    @staticmethod
    def probe(spark, shard, name):
        return {
            (r.new_id, r.index_id): r.hamming
            for r in incremental_simhash_pairs(spark, shard, name).collect()
        }


FAMILIES = [
    pytest.param(MinhashFamily, id="minhash"),
    pytest.param(SrpFamily, id="srp"),
    pytest.param(SimhashFamily, id="simhash"),
]


def _drop_all(spark, prefix):
    for r in spark.sql("SHOW TABLES").collect():
        if r.tableName.startswith(prefix):
            spark.sql(f"DROP TABLE IF EXISTS {r.tableName}")
    # the in-memory catalog dies with the session but managed-table
    # dirs persist in the warehouse; a crashed earlier run's residue
    # would fail table creation with LOCATION_ALREADY_EXISTS
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    if os.path.isdir(wh):
        for d in os.listdir(wh):
            if d.startswith(prefix):
                shutil.rmtree(os.path.join(wh, d), ignore_errors=True)


def _swap_ops(name, target, sidecar):
    """The exact fresh-run operation sequence swap_index executes."""
    return [
        f"ALTER TABLE {name}_bands RENAME TO {name}_bands__retired",
        f"ALTER TABLE {name}_{sidecar} RENAME TO {name}_{sidecar}__retired",
        f"ALTER TABLE {target}_bands RENAME TO {name}_bands",
        f"ALTER TABLE {target}_{sidecar} RENAME TO {name}_{sidecar}",
        f"DROP TABLE {name}_bands__retired",
        f"DROP TABLE {name}_{sidecar}__retired",
    ]


@pytest.mark.parametrize("fam", FAMILIES)
def test_probe_leaves_cache_manager_empty(spark, sf_dir, fam):
    """write → append → probe leaves the session's plan-keyed cache
    manager empty for every family: the write, the append and the probe
    materialize their signed frame through plans.scale.materialize, a
    checkpoint whose storage is GC-bounded with the DataFrame. A
    persist() left behind would be a session-lifetime entry that
    matches (and silently serves) future plans."""
    name = "swp_cache"
    _drop_all(spark, name)
    spark.catalog.clearCache()
    try:
        shard = fam.build(spark, sf_dir, name)
        fam.append(spark, shard, name)
        assert fam.probe(spark, shard, name)
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    finally:
        _drop_all(spark, name)


@pytest.mark.parametrize("fam", FAMILIES)
def test_swap_promotes_compacted_target(spark, sf_dir, fam):
    name, target = "swp_a", "swp_a_v2"
    _drop_all(spark, "swp_a")
    shard = fam.build(spark, sf_dir, name)
    before = fam.probe(spark, shard, name)
    assert before  # the fixtures must produce near-dup pairs
    fam.compact(spark, name, fam.id_col, target=target)
    out = fam.swap(spark, name, target)
    assert out["status"] == "swapped"
    # ADVICE r9: the returned dict audits exactly which retired tables
    # the cleanup phase deleted — a fresh swap retires and drops both
    assert sorted(out["dropped"]) == sorted(
        [f"{name}_bands__retired", f"{name}_{fam.sidecar}__retired"]
    )
    # probes against the live name are unchanged by the promotion
    assert fam.probe(spark, shard, name) == before
    # no residue: target and retired tables are gone
    for sfx in ("bands", fam.sidecar):
        assert not spark.catalog.tableExists(f"{target}_{sfx}")
        assert not spark.catalog.tableExists(f"{name}_{sfx}__retired")
    # the geometry stamp travelled with the promoted bands table
    # (all three families since round 10 — VERDICT r9 #2)
    props = {
        r.key
        for r in spark.sql(f"SHOW TBLPROPERTIES {name}_bands").collect()
    }
    assert set(fam.stamp_keys) <= props


@pytest.mark.parametrize("fam", FAMILIES)
def test_swap_crash_recovery_at_every_inter_rename_point(spark, sf_dir, fam):
    """At each crash point k: a probe sees the OLD index (k=0), the NEW
    index (after both promotions), or raises on a missing table —
    never a silent mixture — and re-running the swap completes the
    promotion with probes equal to the pre-swap result."""
    sidecar = fam.sidecar
    for k in range(len(_swap_ops("x", "y", sidecar))):
        name, target = f"swp_c{k}", f"swp_c{k}_v2"
        _drop_all(spark, f"swp_c{k}")
        shard = fam.build(spark, sf_dir, name)
        before = fam.probe(spark, shard, name)
        fam.compact(spark, name, fam.id_col, target=target)
        ops = _swap_ops(name, target, sidecar)
        for op in ops[:k]:
            spark.sql(op)
        if k == 0:
            assert fam.probe(spark, shard, name) == before  # old
        elif k <= 3:
            # at least one live table is missing: LOUD, not a mixture
            with pytest.raises(AnalysisException):
                fam.probe(spark, shard, name)
        else:
            assert fam.probe(spark, shard, name) == before  # new
        out = fam.swap(spark, name, target)
        assert out["status"] == ("swapped" if k == 0 else "resumed")
        assert fam.probe(spark, shard, name) == before
        for sfx in ("bands", sidecar):
            assert not spark.catalog.tableExists(f"{target}_{sfx}")
            assert not spark.catalog.tableExists(f"{name}_{sfx}__retired")
        _drop_all(spark, f"swp_c{k}")


def test_resume_with_wrong_target_never_drops_the_only_copy(spark, sf_dir):
    """Round-9 review find: a resume (retired evidence present) with a
    WRONG target name used to fall through the rename phases as no-ops
    and then drop the retired tables — deleting the only remaining
    copy. The phase-3 gate now raises, keeps the retired pair, and a
    re-run with the CORRECT target completes the promotion."""
    name, target = "swp_w", "swp_w_v2"
    _drop_all(spark, "swp_w")
    shard = MinhashFamily.build(spark, sf_dir, name)
    before = MinhashFamily.probe(spark, shard, name)
    compact_minhash_index(spark, name, "doc_id", target=target)
    # crash after the first retire
    spark.sql(f"ALTER TABLE {name}_bands RENAME TO {name}_bands__retired")
    with pytest.raises(ValueError, match="wrong\\s+target name on a resume"):
        swap_minhash_index(spark, name, "swp_w_nope")
    # nothing was dropped: retired copy and the real target are intact,
    # and the correct-target resume completes the promotion
    assert spark.catalog.tableExists(f"{name}_bands__retired")
    assert spark.catalog.tableExists(f"{target}_bands")
    out = swap_minhash_index(spark, name, target)
    assert out["status"] == "resumed"
    assert MinhashFamily.probe(spark, shard, name) == before
    _drop_all(spark, "swp_w")


def test_resume_never_promotes_mixed_generations(spark, sf_dir):
    """Round-9 review find #1: stale __retired evidence from an old
    swap composed with a LATER half-built target used to pass the
    resume path, promote the target's bands over the live old-geometry
    sidecar, and drop the retired copies — a silently MIXED index. The
    per-suffix state machine now rejects the composition up front,
    changing nothing."""
    name = "swp_g"
    _drop_all(spark, "swp_g")
    shard = MinhashFamily.build(spark, sf_dir, name)
    before = MinhashFamily.probe(spark, shard, name)
    # stale retired sidecar (an abandoned swap's leftover) + a NEW
    # half-built target holding only bands
    spark.sql(f"CREATE TABLE {name}_sigs__retired AS SELECT * FROM {name}_sigs")
    spark.sql(f"CREATE TABLE {name}_v2_bands AS SELECT * FROM {name}_bands")
    with pytest.raises(ValueError, match="MIXED-generation"):
        swap_minhash_index(spark, name, f"{name}_v2")
    # nothing changed: live pair, stale retired, and the half-built
    # target are all still exactly where they were
    for t in (f"{name}_bands", f"{name}_sigs", f"{name}_sigs__retired",
              f"{name}_v2_bands"):
        assert spark.catalog.tableExists(t)
    assert MinhashFamily.probe(spark, shard, name) == before
    _drop_all(spark, "swp_g")


def test_resume_drop_of_stale_retired_sidecar_is_audited(spark, sf_dir):
    """ADVICE r9: a resume whose only evidence is a stale __retired
    sidecar next to a complete live pair and no target (per-suffix
    states [3, 2]) is indistinguishable from a genuine phase-3 crash,
    so swap_index completes the cleanup and drops it. The ambiguity is
    inherent and kept; the returned ``dropped`` list is the audit trail
    naming exactly what the resume deleted, so an operator who meant to
    keep an older generation's copy can see it went."""
    name = "swp_d"
    _drop_all(spark, "swp_d")
    shard = MinhashFamily.build(spark, sf_dir, name)
    before = MinhashFamily.probe(spark, shard, name)
    # stale evidence: an abandoned swap's retired sidecar, live pair
    # complete, no target — byte-identical to a genuine phase-3 crash
    spark.sql(f"CREATE TABLE {name}_sigs__retired AS SELECT * FROM {name}_sigs")
    out = swap_minhash_index(spark, name, f"{name}_v_gone")
    assert out["status"] == "resumed"
    assert out["dropped"] == [f"{name}_sigs__retired"]
    assert not spark.catalog.tableExists(f"{name}_sigs__retired")
    assert MinhashFamily.probe(spark, shard, name) == before
    _drop_all(spark, "swp_d")


def test_swap_rejects_target_equal_to_name(spark, sf_dir):
    """Round-9 review find #3: swap(name, name) used to retire both
    live tables and then fail with nothing to promote — an outage from
    a copy-paste typo. Now rejected before touching anything."""
    name = "swp_t"
    _drop_all(spark, "swp_t")
    MinhashFamily.build(spark, sf_dir, name)
    with pytest.raises(ValueError, match="target == name"):
        swap_minhash_index(spark, name, name)
    assert spark.catalog.tableExists(f"{name}_bands")
    assert spark.catalog.tableExists(f"{name}_sigs")
    _drop_all(spark, "swp_t")


def test_external_source_target_compact_requires_path(spark, sf_dir, tmp_path):
    """Round-9 review find #6: compacting an EXTERNAL index into a
    pathless target would create the target MANAGED — the follow-up
    swap would then relocate data instead of renaming metadata and
    strand the stale files at the external location forever."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    try:
        write_minhash_index(docs, "swp_e", n_buckets=4,
                            path=str(tmp_path / "ext"))
        with pytest.raises(ValueError, match="EXTERNAL but target mode"):
            compact_minhash_index(spark, "swp_e", "doc_id", target="swp_e_v2")
        # explicit relocation works
        compact_minhash_index(
            spark, "swp_e", "doc_id", target="swp_e_v2", path=str(tmp_path / "ext2")
        )
    finally:
        _drop_all(spark, "swp_e")


def test_swap_refuses_missing_or_half_built_target(spark, sf_dir):
    name = "swp_m"
    _drop_all(spark, "swp_m")
    MinhashFamily.build(spark, sf_dir, name)
    # no target tables and no mid-swap evidence
    with pytest.raises(ValueError, match="no mid-swap evidence"):
        swap_minhash_index(spark, name, "swp_m_nope")
    # half-built target (sidecar write crashed): refuse to promote
    compact_minhash_index(spark, name, "doc_id", target="swp_m_v2")
    spark.sql("DROP TABLE swp_m_v2_sigs")
    with pytest.raises(ValueError, match="COMPLETE target"):
        swap_minhash_index(spark, name, "swp_m_v2")
    _drop_all(spark, "swp_m")


@pytest.mark.parametrize("fam", FAMILIES)
def test_swap_refuses_unstamped_target(spark, sf_dir, fam):
    """The stamp-loss crash signature (ADVICE r8, generalized to all
    three families in round 10) cannot be promoted: an unstamped live
    index would bypass the geometry guard on every future
    append/probe."""
    name, target = "swp_u", "swp_u_v2"
    _drop_all(spark, "swp_u")
    fam.build(spark, sf_dir, name)
    fam.compact(spark, name, fam.id_col, target=target)
    keys = ", ".join(f"'{k}'" for k in fam.stamp_keys)
    spark.sql(f"ALTER TABLE {target}_bands UNSET TBLPROPERTIES ({keys})")
    with pytest.raises(ValueError, match="missing its geometry stamp"):
        fam.swap(spark, name, target)
    _drop_all(spark, "swp_u")
