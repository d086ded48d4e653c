"""Incremental minhash index: batch equivalence + roundtrip.

Pins the guarantee incremental_minhash_pairs' docstring claims: probing
a new shard against a persisted corpus index finds EXACTLY the
shard-corpus near-dup pairs the full batch pipeline finds when run over
corpus+shard together (restricted to pairs that straddle the split —
pure shard-shard and corpus-corpus pairs are the batch job's business).
That the probe leaves nothing behind in the session cache manager is
pinned for all three families in tests/test_swap_index.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aind_protein_data_transformation_spark.operators.dedup import (
    append_minhash_shard,
    incremental_minhash_pairs,
    jaccard_for_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_set,
    write_minhash_index,
)

THRESHOLD = 0.4


@pytest.fixture(scope="module")
def split_docs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter("pmod(hash(doc_id), 5) != 0")
    shard = docs.filter("pmod(hash(doc_id), 5) = 0")
    return corpus, shard


def _batch_cross_pairs(corpus, shard):
    """Full batch pipeline over corpus+shard, restricted to pairs with
    one side in each split."""
    both = corpus.unionByName(shard)
    sh = shingle_set(both)
    sig = minhash_signatures(sh)
    pairs = lsh_candidate_pairs(sig)
    verified = jaccard_for_pairs(pairs, sh).filter(
        f"jaccard >= {THRESHOLD}"
    )
    shard_ids = {r.doc_id for r in shard.select("doc_id").collect()}
    out = {}
    for r in verified.collect():
        if (r.doc_a in shard_ids) != (r.doc_b in shard_ids):
            out[(min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b))] = r.jaccard
    return out


def test_incremental_probe_equals_batch_pipeline(spark, split_docs, tmp_path):
    corpus, shard = split_docs
    name = "t_incr_equiv"
    write_minhash_index(corpus, name, path=str(tmp_path / "idx"))
    try:
        got = {
            (min(r.new_id, r.index_id), max(r.new_id, r.index_id)): r.jaccard
            for r in incremental_minhash_pairs(
                spark, shard, name, threshold=THRESHOLD
            ).collect()
        }
        want = _batch_cross_pairs(corpus, shard)
        assert set(got) == set(want)
        assert want, "degenerate test: no cross near-dup pairs at this sf"
        for key, j in want.items():
            assert got[key] == pytest.approx(j, abs=1e-9)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}_bands")
        spark.sql(f"DROP TABLE IF EXISTS {name}_sigs")


def test_index_roundtrip_is_bucketed_and_complete(spark, split_docs, tmp_path):
    corpus, _ = split_docs
    name = "t_incr_rt"
    write_minhash_index(corpus, name, path=str(tmp_path / "idx"))
    try:
        n_docs = corpus.count()
        sigs = spark.table(f"{name}_sigs")
        assert sigs.count() == n_docs
        bands = spark.table(f"{name}_bands")
        # the compact format: one hashed key per band row, 32-bit
        # shingle hashes and no stored set size
        assert dict(bands.dtypes) == {"doc_id": "bigint", "band": "int", "key": "bigint"}
        assert dict(sigs.dtypes) == {"doc_id": "bigint", "hs": "array<int>"}
        # one row per (doc, band): MINHASH_PERMS // LSH_BAND_SIZE bands
        from aind_protein_data_transformation_spark.operators.dedup import (
            LSH_BAND_SIZE,
            MINHASH_PERMS,
        )

        assert bands.count() == n_docs * (MINHASH_PERMS // LSH_BAND_SIZE)
        # the index tables are bucketed so probes join co-located
        for t in (f"{name}_bands", f"{name}_sigs"):
            ddl = spark.sql(f"SHOW CREATE TABLE {t}").first()[0]
            assert "CLUSTERED BY" in ddl, ddl
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}_bands")
        spark.sql(f"DROP TABLE IF EXISTS {name}_sigs")


def test_signature_set_size_equals_stored_hash_count(split_docs):
    """``n`` and ``size(hs)`` count the same distinct (doc, shingle)
    rows, so the persisted index can score with ``size(hs)`` and store
    no ``n``."""
    corpus, shard = split_docs
    sig = minhash_signatures(shingle_set(corpus.unionByName(shard)), with_hashes=True)
    n_docs, n_differ = sig.selectExpr("count(*)", "count_if(n != size(hs))").first()
    assert n_docs > 0
    assert n_differ == 0


def test_append_then_probe_equals_rebuilt_index(spark, sf_dir, tmp_path):
    """Splitting the corpus three ways: index A, append shard B, probe
    shard C — the probe must find exactly what an index REBUILT over
    A+B finds for C. Pins that the bucketed append is a true index
    update, not a second index."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    part = F.pmod(F.hash("doc_id"), F.lit(3))
    a = docs.filter(part == 0)
    b = docs.filter(part == 1)
    c = docs.filter(part == 2)

    def probe_pairs(name):
        return {
            (min(r.new_id, r.index_id), max(r.new_id, r.index_id)): r.jaccard
            for r in incremental_minhash_pairs(
                spark, c, name, threshold=THRESHOLD
            ).collect()
        }

    try:
        write_minhash_index(a, "t_app_inc", path=str(tmp_path / "inc"))
        append_minhash_shard(spark, b, "t_app_inc")
        write_minhash_index(
            a.unionByName(b), "t_app_full", path=str(tmp_path / "full")
        )
        got = probe_pairs("t_app_inc")
        want = probe_pairs("t_app_full")
        assert got == want
        assert want, "degenerate test: no cross pairs at this sf"
        # the appended table grew in place and kept its bucketing
        ddl = spark.sql("SHOW CREATE TABLE t_app_inc_bands").first()[0]
        assert "CLUSTERED BY" in ddl, ddl
    finally:
        for t in ("t_app_inc_bands", "t_app_inc_sigs",
                  "t_app_full_bands", "t_app_full_sigs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def _partial_append(spark, docs, name, *, sigs=False, bands=False):
    """Replay append_minhash_shard's writes selectively — the crash
    simulator: sigs-only = a crash after the first (new-order) write;
    bands-only = the dangerous state the pre-ordering code could leave."""
    from aind_protein_data_transformation_spark.operators.dedup import (
        MINHASH_SPEC,
        _signer,
    )
    from aind_protein_data_transformation_spark.operators.index_lifecycle import (
        table_num_buckets,
    )

    signer = _signer(3, "text", "doc_id")
    sig = signer.sign(docs).localCheckpoint()
    if sigs:
        (
            sig.select("doc_id", *MINHASH_SPEC.payload_cols)
            .write.mode("append")
            .bucketBy(table_num_buckets(spark, f"{name}_sigs"), "doc_id")
            .saveAsTable(f"{name}_sigs")
        )
    if bands:
        key_cols = list(MINHASH_SPEC.band_keys)
        (
            signer.bands(sig)
            .write.mode("append")
            .bucketBy(table_num_buckets(spark, f"{name}_bands"), *key_cols)
            .sortBy(*key_cols)
            .saveAsTable(f"{name}_bands")
        )


def test_interrupted_append_is_benign_and_detectable(spark, sf_dir, tmp_path):
    """The append-ordering contract (VERDICT r6 #7): sigs append before
    bands, so a crash between the two leaves ONLY orphan signatures —
    probes return exactly the pre-append pairs (nothing silently
    dropped), verify_minhash_index reports the orphans without raising,
    and re-running the append completes the index. The pre-ordering
    danger state (bands without sigs) makes verify_minhash_index raise
    with the recovery rule."""
    from aind_protein_data_transformation_spark.operators.dedup import (
        verify_minhash_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    part = F.pmod(F.hash("doc_id"), F.lit(3))
    a, b, c = (docs.filter(part == i) for i in range(3))

    def probe(name):
        return {
            (r.new_id, r.index_id): r.jaccard
            for r in incremental_minhash_pairs(
                spark, c, name, threshold=THRESHOLD
            ).collect()
        }

    try:
        write_minhash_index(a, "t_crash", path=str(tmp_path / "crash"))
        before = probe("t_crash")
        # crash after the first (sigs) write: benign — same probe result
        _partial_append(spark, b, "t_crash", sigs=True)
        assert probe("t_crash") == before
        health = verify_minhash_index(spark, "t_crash")
        assert health["orphan_sig_docs"] == b.count()
        # re-running the (full) append from this state completes the
        # index: equal to an index built over a+b from scratch — at the
        # PAIR level (the duplicate sig rows change no result rows)
        append_minhash_shard(spark, b, "t_crash")
        write_minhash_index(
            a.unionByName(b), "t_crash_full", path=str(tmp_path / "full")
        )
        assert probe("t_crash") == probe("t_crash_full")
        assert verify_minhash_index(spark, "t_crash")["orphan_sig_docs"] == 0

        # the DANGEROUS state (bands without sigs, producible only by
        # pre-ordering code or tampering) is detected, not silent
        write_minhash_index(a, "t_crash2", path=str(tmp_path / "crash2"))
        _partial_append(spark, b, "t_crash2", bands=True)
        with pytest.raises(ValueError, match="no signature row"):
            verify_minhash_index(spark, "t_crash2")
        # ...and healing it per the error's recovery rule works
        append_minhash_shard(spark, b, "t_crash2")
        verify_minhash_index(spark, "t_crash2")
        assert probe("t_crash2") == probe("t_crash_full")
    finally:
        for t in ("t_crash_bands", "t_crash_sigs", "t_crash2_bands",
                  "t_crash2_sigs", "t_crash_full_bands", "t_crash_full_sigs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_reappend_emits_unique_rows(spark, sf_dir, tmp_path):
    """ADVICE r6: duplicated index rows from a re-run append used to
    multiply probe OUTPUT rows through the signature join (same pair
    SET, inflated counts). The probe now deduplicates per
    (new_id, index_id): after appending the same shard twice, every
    output row is unique and the pair set is unchanged."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    part = F.pmod(F.hash("doc_id"), F.lit(3))
    a, b, c = (docs.filter(part == i) for i in range(3))
    try:
        write_minhash_index(a, "t_dup", path=str(tmp_path / "dup"))
        append_minhash_shard(spark, b, "t_dup")
        once = incremental_minhash_pairs(
            spark, c, "t_dup", threshold=THRESHOLD
        ).collect()
        append_minhash_shard(spark, b, "t_dup")  # the re-run
        twice = incremental_minhash_pairs(
            spark, c, "t_dup", threshold=THRESHOLD
        ).collect()
        assert len(twice) == len(once)  # no row multiplication
        assert {(r.new_id, r.index_id, r.jaccard) for r in twice} == {
            (r.new_id, r.index_id, r.jaccard) for r in once
        }
        n_rows = len(twice)
        n_pairs = len({(r.new_id, r.index_id) for r in twice})
        assert n_rows == n_pairs
        assert n_rows > 0, "degenerate: no cross pairs at this sf"
    finally:
        for t in ("t_dup_bands", "t_dup_sigs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_restores_single_append_counts(spark, sf_dir, tmp_path):
    """VERDICT r7 #3: a re-appended shard is result-idempotent but
    storage-monotonic. compact_minhash_index rewrites both tables
    without the duplicate rows: after double-append + compact + swap,
    row counts equal a single-append index, probes return exactly the
    same pairs, and the bucketed layout survives the rewrite."""
    from aind_protein_data_transformation_spark.operators.dedup import (
        compact_minhash_index,
        swap_minhash_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    part = F.pmod(F.hash("doc_id"), F.lit(3))
    a, b, c = (docs.filter(part == i) for i in range(3))

    def probe(name):
        return {
            (r.new_id, r.index_id): r.jaccard
            for r in incremental_minhash_pairs(
                spark, c, name, threshold=THRESHOLD
            ).collect()
        }

    try:
        write_minhash_index(a, "t_cmp_ref", path=str(tmp_path / "ref"))
        append_minhash_shard(spark, b, "t_cmp_ref")  # single append
        write_minhash_index(a, "t_cmp", path=str(tmp_path / "cmp"))
        append_minhash_shard(spark, b, "t_cmp")
        append_minhash_shard(spark, b, "t_cmp")  # crash re-run duplicate
        before = probe("t_cmp")
        assert before, "degenerate: no cross pairs at this sf"

        def _meta(t):
            info = {
                r.col_name.strip(): (r.data_type or "").strip()
                for r in spark.sql(f"DESCRIBE FORMATTED {t}").collect()
            }
            return info.get("Type"), info.get("Location")

        v2 = str(tmp_path / "cmp_v2")
        stats = compact_minhash_index(spark, "t_cmp", "doc_id", "t_cmp_v2", path=v2)
        swap_minhash_index(spark, "t_cmp", "t_cmp_v2")
        # the swapped-in EXTERNAL index keeps each table external at the
        # compaction's path (the rename is metadata-only)
        for t, sub in (("t_cmp_bands", "bands"), ("t_cmp_sigs", "sigs")):
            typ, loc = _meta(t)
            assert typ == "EXTERNAL", (t, typ)
            assert loc.endswith(f"cmp_v2/{sub}"), (t, loc)
        # duplicates were really present and really removed
        assert stats["bands_before"] > stats["bands_after"]
        assert stats["sigs_before"] > stats["sigs_after"]
        assert stats["bands_after"] == spark.table("t_cmp_ref_bands").count()
        assert stats["sigs_after"] == spark.table("t_cmp_ref_sigs").count()
        # probe result unchanged, bucketing preserved
        assert probe("t_cmp") == before
        for t in ("t_cmp_bands", "t_cmp_sigs"):
            ddl = spark.sql(f"SHOW CREATE TABLE {t}").first()[0]
            assert "CLUSTERED BY" in ddl, ddl
        # idempotent: compacting a compacted index is a no-op
        stats2 = compact_minhash_index(
            spark, "t_cmp", "doc_id", "t_cmp_v3", path=str(tmp_path / "cmp_v3")
        )
        assert stats2["bands_before"] == stats2["bands_after"]
        assert stats2["sigs_before"] == stats2["sigs_after"]
        # scale shape: the dedup keys are supersets of the bucket
        # columns, so the bucketed reads satisfy the aggregation's
        # clustering requirement and compaction shuffles NOTHING
        from aind_protein_data_transformation_spark.operators.dedup import (
            MINHASH_SPEC,
        )

        key_cols = list(MINHASH_SPEC.band_keys)
        for tbl, keys in (
            ("t_cmp_bands", key_cols + ["doc_id"]),
            ("t_cmp_sigs", ["doc_id"]),
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
        for t in ("t_cmp_bands", "t_cmp_sigs", "t_cmp_v3_bands", "t_cmp_v3_sigs",
                  "t_cmp_ref_bands", "t_cmp_ref_sigs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_into_target_leaves_source_and_matches(spark, sf_dir, tmp_path):
    """The production compaction mode: compact into a FRESH index name
    (no localCheckpoint staging, no overwrite window). The target index
    must probe identically to the bloated source, hold single-append
    row counts with bucketing, and the source must be untouched."""
    from aind_protein_data_transformation_spark.operators.dedup import (
        compact_minhash_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    part = F.pmod(F.hash("doc_id"), F.lit(3))
    a, b, c = (docs.filter(part == i) for i in range(3))

    def probe(name):
        return {
            (r.new_id, r.index_id): r.jaccard
            for r in incremental_minhash_pairs(
                spark, c, name, threshold=THRESHOLD
            ).collect()
        }

    try:
        write_minhash_index(a, "t_tgt_src", path=str(tmp_path / "src"))
        append_minhash_shard(spark, b, "t_tgt_src")
        append_minhash_shard(spark, b, "t_tgt_src")  # duplicate rows
        src_bands = spark.table("t_tgt_src_bands").count()
        src_probe = probe("t_tgt_src")
        assert src_probe, "degenerate: no cross pairs at this sf"
        stats = compact_minhash_index(
            spark, "t_tgt_src", "doc_id", "t_tgt_v2", path=str(tmp_path / "v2")
        )
        assert stats["bands_after"] < stats["bands_before"]
        # source untouched, target probes identically with bucketing
        assert spark.table("t_tgt_src_bands").count() == src_bands
        assert probe("t_tgt_v2") == src_probe
        ddl = spark.sql("SHOW CREATE TABLE t_tgt_v2_bands").first()[0]
        assert "CLUSTERED BY" in ddl, ddl
    finally:
        for t in ("t_tgt_src_bands", "t_tgt_src_sigs",
                  "t_tgt_v2_bands", "t_tgt_v2_sigs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_raises_on_conflicting_signatures(spark, sf_dir, tmp_path):
    """ADVICE r7: a document re-signed under a reused doc_id violates
    the append-only contract — compaction detects the conflicting
    signature payloads and raises instead of silently picking one."""
    from aind_protein_data_transformation_spark.operators.dedup import (
        compact_minhash_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    part = F.pmod(F.hash("doc_id"), F.lit(3))
    a, b = docs.filter(part == 0), docs.filter(part == 1).limit(5)
    try:
        write_minhash_index(a, "t_conf", path=str(tmp_path / "conf"))
        append_minhash_shard(spark, b, "t_conf")
        # out-of-band re-sign: same ids, modified text
        b_modified = b.withColumn(
            "text", F.concat(F.col("text"), F.lit(" entirely new suffix"))
        )
        append_minhash_shard(spark, b_modified, "t_conf")
        with pytest.raises(ValueError, match="conflicting signature"):
            compact_minhash_index(
                spark, "t_conf", "doc_id", "t_conf_v2", path=str(tmp_path / "conf_v2")
            )
        assert not spark.catalog.tableExists("t_conf_v2_bands")
    finally:
        for t in ("t_conf_bands", "t_conf_sigs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


# ------------------------------------------------- geometry stamp (r10)


def test_minhash_stamp_guards_probe_and_append(spark, split_docs, tmp_path):
    """VERDICT r9 #2: the signature geometry (perm count, band size,
    shingle k, hash derivation version) is stamped at build and
    validated on every append/probe — a session whose constants
    disagree with the stamp would sign the shard under a different
    derivation, so its band keys never meaningfully collide with the
    stored ones and pairs silently go MISSING; the guard raises
    instead."""
    from aind_protein_data_transformation_spark.operators.dedup import (
        MINHASH_STAMP_KEYS,
        _minhash_stamp,
        compact_minhash_index,
        verify_minhash_index,
    )
    from aind_protein_data_transformation_spark.operators.index_lifecycle import (
        apply_stamp,
    )

    corpus, shard = split_docs
    name = "t_mstamp"
    try:
        write_minhash_index(corpus, name, n_buckets=4, k=3,
                            path=str(tmp_path / "mstamp"))
        assert verify_minhash_index(spark, name)["missing_stamp_keys"] == 0
        # a different shingle width is a different derivation
        with pytest.raises(ValueError, match="shingle_k: index='3' vs session='4'"):
            incremental_minhash_pairs(spark, shard, name, k=4)
        with pytest.raises(ValueError, match="different signature constants"):
            append_minhash_shard(spark, shard, name, k=4)
        # a stamp recording different module constants (a code upgrade
        # probing an old index) raises the same way
        spark.sql(
            f"ALTER TABLE {name}_bands SET TBLPROPERTIES "
            f"('sparkgraft.minhash.perms' = '64')"
        )
        with pytest.raises(ValueError, match="perms: index='64' vs session='32'"):
            incremental_minhash_pairs(spark, shard, name)
        spark.sql(
            f"ALTER TABLE {name}_bands SET TBLPROPERTIES "
            f"('sparkgraft.minhash.perms' = '32')"
        )
        # a v1 index (four k-columns per band row, (n, array<bigint>)
        # sidecar) is another encoding: refused, to be rebuilt
        spark.sql(
            f"ALTER TABLE {name}_bands SET TBLPROPERTIES "
            f"('sparkgraft.minhash.hash_version' = '1')"
        )
        with pytest.raises(ValueError, match="hash_version: index='1' vs session='2'"):
            incremental_minhash_pairs(spark, shard, name)
        with pytest.raises(ValueError, match="hash_version: index='1' vs session='2'"):
            append_minhash_shard(spark, shard, name)
        apply_stamp(spark, f"{name}_bands", _minhash_stamp(3))
        # PARTIAL stamp = corruption, not legacy: raises
        spark.sql(
            f"ALTER TABLE {name}_bands UNSET TBLPROPERTIES "
            f"('sparkgraft.minhash.hash_version')"
        )
        with pytest.raises(ValueError, match="PARTIAL identity stamp"):
            incremental_minhash_pairs(spark, shard, name)
        # ...and compaction refuses to carry it into a target
        with pytest.raises(ValueError, match="PARTIAL identity stamp"):
            compact_minhash_index(
                spark, name, "doc_id", f"{name}_v2", path=str(tmp_path / "v2")
            )
        # fully-unstamped legacy passes unvalidated; verify flags it,
        # compaction cannot restore what it can't read, and the
        # known-geometry re-stamp restores the guard
        spark.sql(
            f"ALTER TABLE {name}_bands UNSET TBLPROPERTIES "
            + "(" + ", ".join(f"'{k}'" for k in MINHASH_STAMP_KEYS) + ")"
        )
        assert verify_minhash_index(spark, name)["missing_stamp_keys"] == 4
        incremental_minhash_pairs(spark, shard, name).count()  # legacy pass
        compact_minhash_index(spark, name, "doc_id", f"{name}_v2", path=str(tmp_path / "v2"))
        assert verify_minhash_index(spark, f"{name}_v2")["missing_stamp_keys"] == 4
        apply_stamp(spark, f"{name}_bands", _minhash_stamp(3))
        assert verify_minhash_index(spark, name)["missing_stamp_keys"] == 0
        with pytest.raises(ValueError, match="shingle_k"):
            incremental_minhash_pairs(spark, shard, name, k=4)
    finally:
        for t in (f"{name}_bands", f"{name}_sigs", f"{name}_v2_bands", f"{name}_v2_sigs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
