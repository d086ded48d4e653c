"""Incremental SRP embedding index: batch equivalence + lifecycle.

The embedding twin of tests/test_incremental.py — pins the guarantees
operators/embedding_index.py claims: probing a new embedding shard
against a persisted corpus index finds EXACTLY the shard-corpus
near-dup pairs the banded batch pipeline finds over corpus+shard
together (restricted to pairs that straddle the split); appends are
crash-benign under the vecs-first ordering; compaction restores
single-append storage without changing any probe and without an
Exchange; contract violations (conflicting vectors, dim mismatch)
raise instead of silently corrupting results.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aind_protein_data_transformation_spark.operators.embedding_index import (
    _en_expr,
    _sig_bands,
    append_srp_shard,
    compact_srp_index,
    incremental_srp_pairs,
    swap_srp_index,
    verify_srp_index,
    write_srp_index,
)
from aind_protein_data_transformation_spark.operators.similarity import srp_band_vals

THRESHOLD = 0.9

# the dedup_embedding_srp query's mutant construction: a deterministic
# per-element perturbation small enough to keep cosine >= 0.9 against
# the source vector on the fixture embeddings
MUT = (
    "transform(sequence(1, size(embedding)), i -> "
    "CAST(CAST(element_at(embedding, i) AS DOUBLE) "
    "+ 0.02 * ((i % 3) - 1) AS FLOAT))"
)


def _mutants(vecs, mod: int, rem: int, offset: int):
    return vecs.filter(f"vec_id % {mod} = {rem}").selectExpr(
        f"vec_id + {offset} AS vec_id", f"{MUT} AS embedding"
    )


@pytest.fixture(scope="module")
def vecs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _batch_cross_pairs(corpus, shard, threshold=THRESHOLD):
    """Banded batch pipeline over corpus+shard (fold signer — the
    oracle-parity form), restricted to directed shard->corpus pairs:
    the set the incremental probe must reproduce exactly."""
    both = corpus.unionByName(shard)
    bands = srp_band_vals(both, n_bits=32, n_bands=4).select(
        "vec_id", F.posexplode("band_vals").alias("band", "band_val")
    )
    en = both.select("vec_id", F.expr(_en_expr("embedding")).alias("en"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("new_id"),
            F.col("b.vec_id").alias("index_id"),
        )
        .distinct()
    )
    scored = (
        cand.join(en.select(F.col("vec_id").alias("new_id"),
                            F.col("en").alias("en_new")), "new_id")
        .join(en.select(F.col("vec_id").alias("index_id"),
                        F.col("en").alias("en_idx")), "index_id")
        .select(
            "new_id",
            "index_id",
            F.expr(
                "aggregate(zip_with(en_new, en_idx, (x, y) -> x * y), "
                "0.0D, (acc, v) -> acc + v)"
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    shard_ids = {r.vec_id for r in shard.select("vec_id").collect()}
    corpus_ids = {r.vec_id for r in corpus.select("vec_id").collect()}
    return {
        (r.new_id, r.index_id): round(r.cosine, 6)
        for r in scored.collect()
        if r.new_id in shard_ids and r.index_id in corpus_ids
    }


def _probe(spark, shard, name, **kw):
    return {
        (r.new_id, r.index_id): round(r.cosine, 6)
        for r in incremental_srp_pairs(
            spark, shard, name, threshold=THRESHOLD, **kw
        ).collect()
    }


def _partial_append(spark, vectors, name, *, vecs=False, bands=False):
    """Replay append_srp_shard's writes selectively — the crash
    simulator: vecs-only = a crash after the first (new-order) write;
    bands-only = the dangerous state only pre-ordering code or
    tampering could leave."""
    from aind_protein_data_transformation_spark.operators.index_lifecycle import (
        table_num_buckets,
    )

    base = vectors.select("vec_id", "embedding").localCheckpoint()
    if vecs:
        (
            base.select(F.col("vec_id"), F.expr(_en_expr("embedding")).alias("en"))
            .write.mode("append")
            .bucketBy(table_num_buckets(spark, f"{name}_vecs"), "vec_id")
            .saveAsTable(f"{name}_vecs")
        )
    if bands:
        (
            _sig_bands(base, "vec_id", "embedding", 32, 4)
            .write.mode("append")
            .bucketBy(table_num_buckets(spark, f"{name}_bands"), "band", "band_val")
            .sortBy("band", "band_val")
            .saveAsTable(f"{name}_bands")
        )


def test_incremental_probe_equals_batch_pipeline(spark, vecs, tmp_path):
    """Probe == banded batch pipeline on the straddling pairs; the
    default GEMM signer builds the same index the fold signer would
    (band agreement is pinned transitively: the expected set is
    computed with the FOLD signer); and the Arrow verify kernel agrees
    with the JVM dot fold on the same candidates."""
    corpus = vecs
    shard = _mutants(vecs, 10, 0, 1_000_000)
    expected = _batch_cross_pairs(corpus, shard)
    assert expected, "degenerate: no cross pairs on this fixture"
    try:
        write_srp_index(corpus, "t_esrp", path=str(tmp_path / "esrp"))
        got = _probe(spark, shard, "t_esrp")
        assert got == expected
        # Arrow pair-cosine verify path: same pair set, same values to
        # the driver's 6-decimal comparison grain
        got_kernel = _probe(spark, shard, "t_esrp", verify_batch=True)
        assert got_kernel.keys() == expected.keys()
        for p, c in got_kernel.items():
            assert abs(c - expected[p]) < 1e-6, (p, c, expected[p])
    finally:
        for t in ("t_esrp_bands", "t_esrp_vecs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_append_then_probe_equals_rebuilt_index(spark, vecs, tmp_path):
    a = vecs.filter("vec_id % 5 != 0")
    b = _mutants(vecs.filter("vec_id % 5 != 0"), 2, 0, 1_000_000)
    c = _mutants(vecs.filter("vec_id % 5 != 0"), 3, 0, 2_000_000)
    try:
        write_srp_index(a, "t_eapp", path=str(tmp_path / "eapp"))
        append_srp_shard(spark, b, "t_eapp")
        write_srp_index(
            a.unionByName(b), "t_eapp_full", path=str(tmp_path / "eappf")
        )
        got = _probe(spark, c, "t_eapp")
        full = _probe(spark, c, "t_eapp_full")
        assert got == full
        assert got, "degenerate: no pairs after append"
        # c's mutants built from b's source rows are exact duplicates of
        # b's mutants (same perturbation), so the appended shard must
        # contribute cosine-1.0 pairs — the append really is probed
        assert any(i >= 1_000_000 for (_, i) in got)
    finally:
        for t in ("t_eapp_bands", "t_eapp_vecs",
                  "t_eapp_full_bands", "t_eapp_full_vecs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_interrupted_append_is_benign_and_detectable(spark, vecs, tmp_path):
    a = vecs.filter("vec_id % 5 != 0")
    b = _mutants(vecs.filter("vec_id % 5 != 0"), 2, 0, 1_000_000)
    c = _mutants(vecs.filter("vec_id % 5 != 0"), 3, 0, 2_000_000)
    try:
        write_srp_index(a, "t_ecrash", path=str(tmp_path / "ecrash"))
        before = _probe(spark, c, "t_ecrash")
        # crash after the first (vecs) write: benign — same probe result
        _partial_append(spark, b, "t_ecrash", vecs=True)
        assert _probe(spark, c, "t_ecrash") == before
        health = verify_srp_index(spark, "t_ecrash")
        assert health["orphan_vec_rows"] == b.count()
        # re-running the full append completes the index
        append_srp_shard(spark, b, "t_ecrash")
        write_srp_index(
            a.unionByName(b), "t_ecrash_full", path=str(tmp_path / "ecrf")
        )
        assert _probe(spark, c, "t_ecrash") == _probe(spark, c, "t_ecrash_full")
        assert verify_srp_index(spark, "t_ecrash")["orphan_vec_rows"] == 0

        # the DANGEROUS state (bands without vectors) is detected
        write_srp_index(a, "t_ecrash2", path=str(tmp_path / "ecrash2"))
        _partial_append(spark, b, "t_ecrash2", bands=True)
        with pytest.raises(ValueError, match="no vector row"):
            verify_srp_index(spark, "t_ecrash2")
        # healing per the recovery rule works
        append_srp_shard(spark, b, "t_ecrash2")
        verify_srp_index(spark, "t_ecrash2")
        assert _probe(spark, c, "t_ecrash2") == _probe(spark, c, "t_ecrash_full")
    finally:
        for t in ("t_ecrash_bands", "t_ecrash_vecs",
                  "t_ecrash2_bands", "t_ecrash2_vecs",
                  "t_ecrash_full_bands", "t_ecrash_full_vecs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_reappend_compact_restores_single_append_counts(spark, vecs, tmp_path):
    a = vecs.filter("vec_id % 5 != 0")
    b = _mutants(vecs.filter("vec_id % 5 != 0"), 2, 0, 1_000_000)
    c = _mutants(vecs.filter("vec_id % 5 != 0"), 3, 0, 2_000_000)
    try:
        write_srp_index(a, "t_ecmp_ref", path=str(tmp_path / "ref"))
        append_srp_shard(spark, b, "t_ecmp_ref")  # single append
        write_srp_index(a, "t_ecmp", path=str(tmp_path / "cmp"))
        append_srp_shard(spark, b, "t_ecmp")
        append_srp_shard(spark, b, "t_ecmp")  # crash re-run duplicate
        before = _probe(spark, c, "t_ecmp")
        assert before, "degenerate: no cross pairs on this fixture"

        def _meta(t):
            info = {
                r.col_name.strip(): (r.data_type or "").strip()
                for r in spark.sql(f"DESCRIBE FORMATTED {t}").collect()
            }
            return info.get("Type"), info.get("Location")

        stats = compact_srp_index(
            spark, "t_ecmp", "vec_id", "t_ecmp_v2", path=str(tmp_path / "cmp_v2")
        )
        swap_srp_index(spark, "t_ecmp", "t_ecmp_v2")
        # the swapped-in EXTERNAL index keeps each table external at the
        # compaction's path (the rename is metadata-only)
        for t, sub in (("t_ecmp_bands", "bands"), ("t_ecmp_vecs", "vecs")):
            typ, loc = _meta(t)
            assert typ == "EXTERNAL", (t, typ)
            assert loc.endswith(f"cmp_v2/{sub}"), (t, loc)
        assert stats["bands_before"] > stats["bands_after"]
        assert stats["vecs_before"] > stats["vecs_after"]
        assert stats["bands_after"] == spark.table("t_ecmp_ref_bands").count()
        assert stats["vecs_after"] == spark.table("t_ecmp_ref_vecs").count()
        assert _probe(spark, c, "t_ecmp") == before
        for t in ("t_ecmp_bands", "t_ecmp_vecs"):
            ddl = spark.sql(f"SHOW CREATE TABLE {t}").first()[0]
            assert "CLUSTERED BY" in ddl, ddl
        # idempotent
        stats2 = compact_srp_index(
            spark, "t_ecmp", "vec_id", "t_ecmp_v3", path=str(tmp_path / "cmp_v3")
        )
        assert stats2["bands_before"] == stats2["bands_after"]
        assert stats2["vecs_before"] == stats2["vecs_after"]
        # zero-shuffle: dedup keys are supersets of the bucket columns
        for tbl, keys in (
            ("t_ecmp_bands", ["band", "band_val", "vec_id"]),
            ("t_ecmp_vecs", ["vec_id"]),
        ):
            plan = (
                spark.table(tbl)
                .dropDuplicates(keys)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "Exchange" not in plan, (tbl, plan)
    finally:
        for t in ("t_ecmp_bands", "t_ecmp_vecs", "t_ecmp_v3_bands", "t_ecmp_v3_vecs",
                  "t_ecmp_ref_bands", "t_ecmp_ref_vecs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_into_target_leaves_source_and_matches(spark, vecs, tmp_path):
    a = vecs.filter("vec_id % 5 != 0")
    b = _mutants(vecs.filter("vec_id % 5 != 0"), 2, 0, 1_000_000)
    c = _mutants(vecs.filter("vec_id % 5 != 0"), 3, 0, 2_000_000)
    try:
        write_srp_index(a, "t_etgt_src", path=str(tmp_path / "src"))
        append_srp_shard(spark, b, "t_etgt_src")
        append_srp_shard(spark, b, "t_etgt_src")  # duplicate rows
        src_bands = spark.table("t_etgt_src_bands").count()
        src_probe = _probe(spark, c, "t_etgt_src")
        assert src_probe, "degenerate: no cross pairs on this fixture"
        stats = compact_srp_index(
            spark, "t_etgt_src", "vec_id", "t_etgt_v2", path=str(tmp_path / "v2")
        )
        assert stats["bands_after"] < stats["bands_before"]
        assert spark.table("t_etgt_src_bands").count() == src_bands
        assert _probe(spark, c, "t_etgt_v2") == src_probe
        ddl = spark.sql("SHOW CREATE TABLE t_etgt_v2_bands").first()[0]
        assert "CLUSTERED BY" in ddl, ddl
    finally:
        for t in ("t_etgt_src_bands", "t_etgt_src_vecs",
                  "t_etgt_v2_bands", "t_etgt_v2_vecs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_raises_on_conflicting_vectors(spark, vecs, tmp_path):
    a = vecs.filter("vec_id % 5 != 0")
    b = vecs.filter("vec_id % 5 = 0").limit(5)
    try:
        write_srp_index(a, "t_econf", path=str(tmp_path / "conf"))
        append_srp_shard(spark, b, "t_econf")
        # out-of-band re-sign: same ids, perturbed embeddings
        b_modified = b.selectExpr("vec_id", f"{MUT} AS embedding")
        append_srp_shard(spark, b_modified, "t_econf")
        with pytest.raises(ValueError, match="conflicting vectors"):
            compact_srp_index(
                spark, "t_econf", "vec_id", "t_econf_v2", path=str(tmp_path / "conf_v2")
            )
        assert not spark.catalog.tableExists("t_econf_v2_bands")
    finally:
        for t in ("t_econf_bands", "t_econf_vecs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_signer_geometry_mismatch_raises_and_survives_compaction(spark, vecs, tmp_path):
    """n_bits/n_bands are index identity: a probe or append with a
    different signer geometry emits band rows that can never collide
    meaningfully, silently losing pairs — the stamped table properties
    turn that into an up-front error, and compaction (which recreates
    the table) must carry the stamp forward through the target and the
    swap into service."""
    shard = _mutants(vecs, 10, 0, 1_000_000)
    try:
        write_srp_index(
            vecs, "t_egeo", path=str(tmp_path / "egeo"), n_bits=16, n_bands=4
        )
        with pytest.raises(ValueError, match="n_bits: index='16' vs session='32'"):
            incremental_srp_pairs(spark, shard, "t_egeo")  # defaults 32/4
        with pytest.raises(ValueError, match="n_bits: index='16' vs session='32'"):
            append_srp_shard(spark, shard, "t_egeo")
        # matching geometry works
        assert incremental_srp_pairs(
            spark, shard, "t_egeo", n_bits=16, n_bands=4
        ).count()
        # the stamp survives compact-into-target...
        compact_srp_index(
            spark, "t_egeo", "vec_id", "t_egeo_v2", path=str(tmp_path / "egeo2")
        )
        with pytest.raises(ValueError, match="n_bits: index='16' vs session='32'"):
            incremental_srp_pairs(spark, shard, "t_egeo_v2")
        assert incremental_srp_pairs(
            spark, shard, "t_egeo_v2", n_bits=16, n_bands=4
        ).count()
        # ...and the swap into service
        swap_srp_index(spark, "t_egeo", "t_egeo_v2")
        with pytest.raises(ValueError, match="n_bits: index='16' vs session='32'"):
            incremental_srp_pairs(spark, shard, "t_egeo")
    finally:
        for t in ("t_egeo_bands", "t_egeo_vecs",
                  "t_egeo_v2_bands", "t_egeo_v2_vecs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_zero_norm_vectors_never_pair_on_either_verify_path(spark, tmp_path):
    """The module-wide zero-norm contract, end to end through the
    index: a zero vector's en elements go NULL (try_divide), so the
    fold verify's dot is NULL and the Arrow kernel's is NaN->null —
    it can never emit a pair, on EITHER side of the probe, and neither
    path crashes (pyarrow hands the kernel NaN for the null list
    elements; _stack_vectors must keep accepting that)."""
    corpus = spark.sql(
        "SELECT id AS vec_id, CASE WHEN id = 0 THEN "
        "transform(sequence(1, 8), i -> float(0)) ELSE "
        "transform(sequence(1, 8), i -> float(sin(id * i + 1))) END "
        "AS embedding FROM range(50)"
    )
    shard = spark.sql(
        "SELECT id + 1000 AS vec_id, CASE WHEN id = 1 THEN "
        "transform(sequence(1, 8), i -> float(0)) ELSE "
        "transform(sequence(1, 8), i -> float(sin(id * i + 1) + 0.001)) "
        "END AS embedding FROM range(50)"
    )
    try:
        write_srp_index(corpus, "t_ezn", path=str(tmp_path / "ezn"))
        fold = incremental_srp_pairs(spark, shard, "t_ezn").collect()
        kern = incremental_srp_pairs(
            spark, shard, "t_ezn", verify_batch=True
        ).collect()
        fold_set = {(r.new_id, r.index_id) for r in fold}
        assert fold_set == {(r.new_id, r.index_id) for r in kern}
        assert fold_set, "degenerate: no pairs at all"
        assert not any(n == 1001 or i == 0 for n, i in fold_set)
    finally:
        for t in ("t_ezn_bands", "t_ezn_vecs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dim_mismatch_raises_instead_of_silent_drop(spark, vecs, tmp_path):
    """zip_with over mismatched lengths pads with NULL -> NULL cosine
    -> every candidate silently dropped; the index guards the dimension
    up front on both append and probe."""
    half = vecs.selectExpr("vec_id", "slice(embedding, 1, 32) AS embedding")
    try:
        write_srp_index(vecs, "t_edim", path=str(tmp_path / "edim"))
        with pytest.raises(ValueError, match="dim-64.*dim-32"):
            append_srp_shard(spark, half, "t_edim")
        with pytest.raises(ValueError, match="dim-64.*dim-32"):
            incremental_srp_pairs(spark, half, "t_edim")
        # ADVICE r8: the guard is FULL-shard, not first-row — a ragged
        # shard whose first row matches the index dim used to pass,
        # after which the fold signer silently emitted all-zero bands
        # for the mismatched rows while the GEMM signer raised (twin
        # divergence on the same bad input). Both paths now fail the
        # same way, before any signer runs.
        ragged = vecs.selectExpr(
            "vec_id",
            "CASE WHEN vec_id % 7 = 3 THEN slice(embedding, 1, 32) "
            "ELSE embedding END AS embedding",
        )
        assert ragged.limit(1).selectExpr(
            "size(embedding) AS d"
        ).collect()[0]["d"] == 64  # first row matches the index dim
        for fn in (
            lambda: append_srp_shard(spark, ragged, "t_edim"),
            lambda: incremental_srp_pairs(spark, ragged, "t_edim"),
        ):
            with pytest.raises(ValueError, match="RAGGED"):
                fn()
        # round-9 review: NULL vectors are the same hole (size() of
        # NULL is skipped by min/max) — they would be indexed as
        # unreachable all-zero-band rows; the guard raises instead
        nullish = vecs.selectExpr(
            "vec_id",
            "CASE WHEN vec_id % 7 = 3 THEN CAST(NULL AS array<float>) "
            "ELSE embedding END AS embedding",
        )
        with pytest.raises(ValueError, match="NULL"):
            append_srp_shard(spark, nullish, "t_edim")
        with pytest.raises(ValueError, match="NULL"):
            incremental_srp_pairs(spark, nullish, "t_edim")
        # the FRESH build runs the same validation (second-pass review:
        # a NULL embedding in the corpus used to be stored silently as
        # an unreachable row), and NULL ELEMENTS inside a vector — which
        # size() counts but the norm fold goes NULL over — raise too
        with pytest.raises(ValueError, match="NULL"):
            write_srp_index(nullish, "t_edim_never")
        elemnull = vecs.selectExpr(
            "vec_id",
            "CASE WHEN vec_id % 7 = 3 THEN "
            "transform(embedding, (x, i) -> "
            "IF(i = 0, CAST(NULL AS FLOAT), x)) "
            "ELSE embedding END AS embedding",
        )
        with pytest.raises(ValueError, match="NULL ELEMENT"):
            incremental_srp_pairs(spark, elemnull, "t_edim")
        # ADVICE r9: uniformly EMPTY vectors pass lo==hi but a size-0
        # embedding gets all-zero fold bands and a zero norm
        # (try_divide-degenerate en) — the same silent
        # unreachable-indexed-row class; raise on write AND probe
        empty = vecs.selectExpr(
            "vec_id", "CAST(array() AS array<float>) AS embedding"
        )
        with pytest.raises(ValueError, match="zero-dimensional"):
            write_srp_index(empty, "t_edim_never")
        with pytest.raises(ValueError, match="zero-dimensional"):
            incremental_srp_pairs(spark, empty, "t_edim")
        assert not spark.catalog.tableExists("t_edim_never_bands")
    finally:
        for t in ("t_edim_bands", "t_edim_vecs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_lost_stamp_detected_and_recoverable(spark, vecs):
    """ADVICE r8: an index whose geometry stamp is erased (tampering, a
    hand-built table) is complete-looking, and the stamp guard passes
    it UNVALIDATED; compaction cannot restore the stamp (it carries
    what it reads). verify_srp_index flags the state; apply_stamp with
    the known geometry restores it."""
    from aind_protein_data_transformation_spark.operators.embedding_index import (
        SRP_STAMP_KEYS,
        _srp_stamp,
        compact_srp_index,
    )
    from aind_protein_data_transformation_spark.operators.index_lifecycle import (
        apply_stamp,
    )

    try:
        write_srp_index(vecs, "t_estamp", n_buckets=4)
        assert verify_srp_index(spark, "t_estamp")["missing_stamp_keys"] == 0
        # stamp gone, tables complete
        spark.sql(
            f"ALTER TABLE t_estamp_bands UNSET TBLPROPERTIES "
            f"('{SRP_STAMP_KEYS[0]}', '{SRP_STAMP_KEYS[1]}')"
        )
        assert verify_srp_index(spark, "t_estamp")["missing_stamp_keys"] == 2
        # compaction cannot restore what it can no longer read...
        compact_srp_index(spark, "t_estamp", "vec_id", "t_estamp_v2")
        assert verify_srp_index(spark, "t_estamp_v2")["missing_stamp_keys"] == 2
        # ...the known-geometry re-stamp can
        apply_stamp(spark, "t_estamp_bands", _srp_stamp(32, 4))
        assert verify_srp_index(spark, "t_estamp")["missing_stamp_keys"] == 0
        # and the restored stamp guards probes again
        with pytest.raises(ValueError, match="n_bits: index='32' vs session='16'"):
            incremental_srp_pairs(spark, vecs, "t_estamp", n_bits=16)
        # round-9 review: a PARTIAL stamp (one key unset) must not
        # silently degrade to fully-unstamped on compaction
        spark.sql(
            f"ALTER TABLE t_estamp_bands UNSET TBLPROPERTIES "
            f"('{SRP_STAMP_KEYS[0]}')"
        )
        assert verify_srp_index(spark, "t_estamp")["missing_stamp_keys"] == 1
        with pytest.raises(ValueError, match="PARTIAL identity stamp"):
            compact_srp_index(spark, "t_estamp", "vec_id", "t_estamp_v3")
        # the full re-stamp repairs it
        apply_stamp(spark, "t_estamp_bands", _srp_stamp(32, 4))
        assert verify_srp_index(spark, "t_estamp")["missing_stamp_keys"] == 0
    finally:
        for t in ("t_estamp_bands", "t_estamp_vecs", "t_estamp_v2_bands", "t_estamp_v2_vecs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
