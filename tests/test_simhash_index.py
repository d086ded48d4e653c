"""Incremental SimHash index: batch equivalence + lifecycle.

The third family on the shared index-lifecycle core — these tests pin
that the config-not-module claim holds end to end: probing a new shard
against a persisted corpus index finds EXACTLY the shard-corpus pairs
the batch chunk-blocked pipeline (simhash_near_pairs) finds over
corpus+shard together, restricted to straddling pairs; appends are
crash-benign under the sigs-first ordering and the dangerous inverse
is detected; compaction drops crash-re-append duplicates without
changing any probe and without an Exchange off the bucketed reads.
(The swap promotion is covered for this family in
tests/test_swap_index.py alongside the other two.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aind_protein_data_transformation_spark.operators.dedup import (
    simhash,
    simhash_near_pairs,
)
from aind_protein_data_transformation_spark.operators.simhash_index import (
    _chunk_rows,
    append_simhash_shard,
    compact_simhash_index,
    incremental_simhash_pairs,
    swap_simhash_index,
    verify_simhash_index,
    write_simhash_index,
)

MAX_HAMMING = 3


@pytest.fixture(scope="module")
def split_docs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs
    # near-dup shard: first word dropped (the registered query's mutant
    # construction) — small hamming against the source document
    shard = docs.filter("doc_id % 10 = 0").select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    return corpus, shard


def _batch_cross_pairs(corpus, shard):
    """Batch chunk-blocked pipeline over corpus+shard, restricted to
    directed shard->corpus pairs."""
    sims = simhash(corpus.unionByName(shard))
    pairs = simhash_near_pairs(sims, max_hamming=MAX_HAMMING)
    shard_ids = {r.doc_id for r in shard.select("doc_id").collect()}
    out = {}
    for r in pairs.collect():
        in_a, in_b = r.doc_a in shard_ids, r.doc_b in shard_ids
        if in_a != in_b:  # straddling only
            new_id, index_id = (r.doc_a, r.doc_b) if in_a else (r.doc_b, r.doc_a)
            out[(new_id, index_id)] = r.hamming
    return out


def _probe(spark, shard, name, **kw):
    return {
        (r.new_id, r.index_id): r.hamming
        for r in incremental_simhash_pairs(
            spark, shard, name, max_hamming=MAX_HAMMING, **kw
        ).collect()
    }


def _drop(spark, *tables):
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_max_hamming_beyond_pigeonhole_guarantee_raises(spark, split_docs):
    """Round-9 review: hamming > chunks-1 would silently UNDER-RECALL
    (pairs whose flips straddle all four chunks never share a blocking
    key) — both the batch and incremental APIs raise instead. Since
    round 10 the probe derives the cap from the index's STAMPED
    geometry, so the check needs a real index (a probe against a
    missing table fails loudly on the table, by the swap contract)."""
    corpus, shard = split_docs
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_pairs(simhash(corpus.limit(10)), max_hamming=4)
    try:
        write_simhash_index(corpus.limit(10), "t_shp", n_buckets=2)
        with pytest.raises(ValueError, match="pigeonhole"):
            incremental_simhash_pairs(spark, shard, "t_shp", max_hamming=4)
    finally:
        _drop(spark, "t_shp_bands", "t_shp_sigs")


def test_incremental_probe_equals_batch_pipeline(spark, split_docs, tmp_path):
    corpus, shard = split_docs
    expected = _batch_cross_pairs(corpus, shard)
    assert expected, "degenerate: no cross pairs on this fixture"
    try:
        write_simhash_index(corpus, "t_shi", path=str(tmp_path / "shi"))
        assert _probe(spark, shard, "t_shi") == expected
        # plan pin for the round-9 fan-out fix: the probe's chunk rows
        # repartition to the session width before the candidate join
        # (AQE coalesces the tiny checkpointed shard to one partition;
        # with the bands table broadcast the collision join would run
        # single-task and drag every collision row through one core —
        # measured 3.3x at the 10x text layout, BENCH.md round 9)
        plan = (
            incremental_simhash_pairs(spark, shard, "t_shi")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "RoundRobinPartitioning" in plan, plan[:2000]
    finally:
        _drop(spark, "t_shi_bands", "t_shi_sigs")


def test_append_crash_states_and_compaction(spark, split_docs, tmp_path):
    corpus, shard = split_docs
    half_corpus = corpus.filter("doc_id % 2 = 0")
    appended = corpus.filter("doc_id % 2 = 1")
    try:
        write_simhash_index(half_corpus, "t_shc", path=str(tmp_path / "shc"))
        before = _probe(spark, shard, "t_shc")
        # crash after the first (sigs) write: benign — probe unchanged,
        # verify counts the orphans instead of raising
        sims = simhash(appended).localCheckpoint()
        from aind_protein_data_transformation_spark.operators.index_lifecycle import (
            table_num_buckets,
        )

        (
            sims.write.mode("append")
            .bucketBy(table_num_buckets(spark, "t_shc_sigs"), "doc_id")
            .saveAsTable("t_shc_sigs")
        )
        assert _probe(spark, shard, "t_shc") == before
        health = verify_simhash_index(spark, "t_shc")
        assert health["orphan_sig_docs"] == appended.count()
        # completing the append == a rebuilt index, and the dangerous
        # inverse (bands without sigs) raises through the shared core
        append_simhash_shard(spark, appended, "t_shc")
        write_simhash_index(corpus, "t_shc_full", path=str(tmp_path / "shcf"))
        full = _probe(spark, shard, "t_shc_full")
        assert _probe(spark, shard, "t_shc") == full
        assert verify_simhash_index(spark, "t_shc")["orphan_sig_docs"] == 0
        extra = spark.createDataFrame(
            [(77_000_001, "only bands no sig")], "doc_id long, text string"
        )
        (
            _chunk_rows(simhash(extra), "doc_id")
            .write.mode("append")
            .bucketBy(table_num_buckets(spark, "t_shc_bands"), "chunk", "val")
            .sortBy("chunk", "val")
            .saveAsTable("t_shc_bands")
        )
        with pytest.raises(ValueError, match="no signature row"):
            verify_simhash_index(spark, "t_shc")
        # heal per the recovery rule, then crash-re-append duplicates
        # and compact them away (into a target, swapped into service)
        # without changing any probe
        append_simhash_shard(spark, extra, "t_shc")
        append_simhash_shard(spark, appended, "t_shc")  # duplicate rows
        dup_probe = _probe(spark, shard, "t_shc")
        stats = compact_simhash_index(
            spark, "t_shc", "doc_id", "t_shc_v2", path=str(tmp_path / "shc_v2")
        )
        swap_simhash_index(spark, "t_shc", "t_shc_v2")
        assert stats["bands_after"] < stats["bands_before"]
        assert stats["sigs_after"] < stats["sigs_before"]
        assert _probe(spark, shard, "t_shc") == dup_probe
        # zero-shuffle claim: the compaction dedup plans without an
        # Exchange off the bucketed reads (shared-core contract)
        plan = (
            spark.table("t_shc_bands")
            .dropDuplicates(["chunk", "val", "doc_id"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        # conflicting payload (re-signed doc under a reused id) raises
        conflict = spark.createDataFrame(
            [(77_000_001, "different text entirely now")],
            "doc_id long, text string",
        )
        append_simhash_shard(spark, conflict, "t_shc")
        with pytest.raises(ValueError, match="conflicting simhash"):
            compact_simhash_index(
                spark, "t_shc", "doc_id", "t_shc_v3", path=str(tmp_path / "shc_v3")
            )
        assert not spark.catalog.tableExists("t_shc_v3_bands")
    finally:
        _drop(
            spark,
            "t_shc_bands",
            "t_shc_sigs",
            "t_shc_full_bands",
            "t_shc_full_sigs",
        )


# ------------------------------------------------- geometry stamp (r10)


def test_geometry_stamp_guards_probe_and_append(spark, split_docs, tmp_path):
    """VERDICT r9 #2: the chunk geometry is part of the index identity.
    A probe or append whose explicit geometry disagrees with the stamp
    RAISES instead of silently joining new-geometry chunk rows against
    old-geometry bands (near-zero collisions, silent recall collapse);
    geometry-less calls derive the stamped layout and keep working."""
    corpus, shard = split_docs
    try:
        write_simhash_index(
            corpus.limit(50), "t_shg", n_buckets=2, path=str(tmp_path / "shg")
        )
        # derives (32, 4) from the stamp — works
        incremental_simhash_pairs(spark, shard, "t_shg").collect()
        for fn in (
            lambda: incremental_simhash_pairs(
                spark, shard, "t_shg", bits=48, n_chunks=3
            ),
            lambda: append_simhash_shard(
                spark, shard, "t_shg", bits=48, n_chunks=3
            ),
        ):
            with pytest.raises(ValueError, match="bits: index='32' vs session='48'; chunks: index='4' vs session='3'"):
                fn()
        # a PARTIAL stamp is corruption, not legacy — raises
        spark.sql(
            "ALTER TABLE t_shg_bands UNSET TBLPROPERTIES "
            "('sparkgraft.simhash.chunks')"
        )
        with pytest.raises(ValueError, match="PARTIAL identity stamp"):
            incremental_simhash_pairs(spark, shard, "t_shg")
    finally:
        _drop(spark, "t_shg_bands", "t_shg_sigs")


def test_invalid_geometries_rejected_at_build(spark, split_docs):
    corpus, _ = split_docs
    ten = corpus.limit(10)
    for bits, n_chunks, msg in [
        (32, 1, "degenerate"),
        (64, 4, "60 bits"),
        (33, 4, "not divisible"),
        (3, 4, "out of range"),
    ]:
        with pytest.raises(ValueError, match=msg):
            write_simhash_index(ten, "t_never", bits=bits, n_chunks=n_chunks)
    assert not spark.catalog.tableExists("t_never_bands")


def test_widened_chunk_index_matches_duckdb_oracle(spark, sf_dir, tmp_path):
    """VERDICT r9 #3 done-criterion: the widen-the-chunks 100-TB path is
    CONSTRUCTIBLE — a 16-bit-chunk index (bits=48, n_chunks=3;
    pigeonhole covers hamming <= 2) built through the parametrized
    write → stamp → probe chain, checked green against a DuckDB replay
    of the same geometry (the portable md5 token hash makes the vote
    aggregate bit-identical on both engines)."""
    import duckdb

    docs_path = f"{sf_dir}/documents.parquet"
    corpus = spark.read.parquet(docs_path).select("doc_id", "text")
    mutants = corpus.filter("doc_id % 10 = 0").select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    copies = corpus.filter("doc_id % 10 = 5").select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    shard = mutants.unionByName(copies)
    bits, n_chunks, w = 48, 3, 16
    oracle = duckdb.connect().execute(
        f"""
        WITH corpus AS (
            SELECT doc_id, text FROM read_parquet('{docs_path}')
        ),
        shard AS (
            SELECT doc_id + 1000000 AS doc_id,
                   regexp_replace(text, '^\\S+\\s+', '') AS text
            FROM corpus WHERE doc_id % 10 = 0
            UNION ALL
            SELECT doc_id + 2000000, text FROM corpus WHERE doc_id % 10 = 5
        ),
        docs AS (SELECT * FROM corpus UNION ALL SELECT * FROM shard),
        toks AS (
            SELECT DISTINCT doc_id,
                   unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                      t -> t <> '')) AS token
            FROM docs
        ),
        th AS (
            SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
            FROM toks
        ),
        votes AS (
            SELECT doc_id, bit,
                   SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
            FROM th CROSS JOIN
                 (SELECT unnest(generate_series(0, {bits - 1})) AS bit) bits
            GROUP BY doc_id, bit
        ),
        sims AS (
            SELECT doc_id,
                   SUM(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)
                       AS simhash
            FROM votes GROUP BY doc_id
        ),
        chunks AS (
            SELECT doc_id, simhash, c,
                   (simhash >> ({w} * c)) & {(1 << w) - 1} AS val
            FROM sims CROSS JOIN
                 (SELECT unnest(generate_series(0, {n_chunks - 1})) AS c) cs
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS index_id,
                   bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM chunks a JOIN chunks b ON a.c = b.c AND a.val = b.val
            WHERE a.doc_id >= 1000000 AND b.doc_id < 1000000
        )
        SELECT new_id, index_id, hamming FROM pairs
        WHERE hamming <= {n_chunks - 1}
        """
    ).fetchall()
    expected = {(r[0], r[1]): r[2] for r in oracle}
    # non-degenerate on both fronts: the exact copies guarantee
    # hamming-0 pairs at ANY geometry, and at 16-bit chunks at least
    # those must surface
    assert any(h == 0 for h in expected.values())
    try:
        write_simhash_index(
            corpus,
            "t_shw",
            n_buckets=4,
            path=str(tmp_path / "shw"),
            bits=bits,
            n_chunks=n_chunks,
        )
        # max_hamming defaults to the stamped pigeonhole cap (2 here)
        got = _probe_raw(spark, shard, "t_shw")
        assert got == expected
        # the stamp drives the cap: the legacy default radius (3) now
        # exceeds the 3-chunk guarantee and raises
        with pytest.raises(ValueError, match="pigeonhole over 3 chunks"):
            incremental_simhash_pairs(spark, shard, "t_shw", max_hamming=3)
        # lifecycle keeps the widened geometry: compaction carries the
        # stamp through the target and the swap, and the probe still
        # matches the oracle
        compact_simhash_index(
            spark, "t_shw", "doc_id", "t_shw_v2", path=str(tmp_path / "shw_v2")
        )
        swap_simhash_index(spark, "t_shw", "t_shw_v2")
        assert verify_simhash_index(spark, "t_shw")["missing_stamp_keys"] == 0
        assert _probe_raw(spark, shard, "t_shw") == expected
        # APPENDS derive the widened geometry from the stamp: building
        # half the corpus at (48, 3) and appending the rest must equal
        # the full build above — an append that silently signed at the
        # legacy default would collapse this probe's pairs instead
        _drop(spark, "t_shw2_bands", "t_shw2_sigs")
        write_simhash_index(
            corpus.filter("doc_id % 2 = 0"),
            "t_shw2",
            n_buckets=4,
            path=str(tmp_path / "shw2"),
            bits=bits,
            n_chunks=n_chunks,
        )
        append_simhash_shard(spark, corpus.filter("doc_id % 2 = 1"), "t_shw2")
        assert _probe_raw(spark, shard, "t_shw2") == expected
    finally:
        _drop(spark, "t_shw_bands", "t_shw_sigs", "t_shw2_bands", "t_shw2_sigs")


def _probe_raw(spark, shard, name):
    return {
        (r.new_id, r.index_id): r.hamming
        for r in incremental_simhash_pairs(spark, shard, name).collect()
    }


def test_lost_simhash_stamp_detected_and_recoverable(spark, split_docs):
    """An erased stamp (tampering, a hand-built table) leaves a
    complete-looking UNSTAMPED index; verify flags it, compaction
    cannot restore the stamp (it carries what it reads), and apply_stamp
    with the known geometry restores it."""
    from aind_protein_data_transformation_spark.operators.index_lifecycle import (
        apply_stamp,
    )
    from aind_protein_data_transformation_spark.operators.simhash_index import (
        _simhash_stamp,
    )

    corpus, shard = split_docs
    try:
        write_simhash_index(corpus.limit(60), "t_shl", n_buckets=2)
        assert verify_simhash_index(spark, "t_shl")["missing_stamp_keys"] == 0
        spark.sql(
            "ALTER TABLE t_shl_bands UNSET TBLPROPERTIES "
            "('sparkgraft.simhash.bits', 'sparkgraft.simhash.chunks')"
        )
        assert verify_simhash_index(spark, "t_shl")["missing_stamp_keys"] == 2
        compact_simhash_index(spark, "t_shl", "doc_id", "t_shl_v2")  # cannot restore it
        assert verify_simhash_index(spark, "t_shl_v2")["missing_stamp_keys"] == 2
        apply_stamp(spark, "t_shl_bands", _simhash_stamp(32, 4))
        assert verify_simhash_index(spark, "t_shl")["missing_stamp_keys"] == 0
        # the restored stamp guards probes again
        with pytest.raises(ValueError, match="bits: index='32' vs session='48'; chunks: index='4' vs session='3'"):
            incremental_simhash_pairs(spark, shard, "t_shl", bits=48, n_chunks=3)
    finally:
        _drop(spark, "t_shl_bands", "t_shl_sigs", "t_shl_v2_bands", "t_shl_v2_sigs")


def test_chunk_bucket_occupancy_and_skew_cap(spark, split_docs, tmp_path):
    """Round 10: the probe-side skew cap (the 10x measurement found
    chunk values clustering on shared-vocab text — hot buckets, not
    chunk width, govern collision volume). chunk_bucket_sizes audits
    occupancy off the bucketed read without an Exchange; a cap at or
    above the max occupancy changes nothing; a tight cap equals an
    INDEPENDENTLY computed expectation (pure-Python over collected
    hashes): a pair survives iff the two hashes agree on at least one
    sub-cap chunk value and hamming <= radius."""
    from aind_protein_data_transformation_spark.operators.simhash_index import (
        chunk_bucket_sizes,
    )

    corpus, shard = split_docs
    try:
        write_simhash_index(corpus, "t_shcap", n_buckets=2,
                            path=str(tmp_path / "shcap"))
        occ = chunk_bucket_sizes(spark, "t_shcap").collect()
        n_bands = spark.table("t_shcap_bands").count()
        assert sum(r.n_docs for r in occ) == n_bands
        assert [r.n_docs for r in occ] == sorted(
            (r.n_docs for r in occ), reverse=True
        )
        # the occupancy aggregate plans without an Exchange off the
        # bucketed read (it groups by the table's own bucket key)
        plan = (
            spark.table("t_shcap_bands")
            .groupBy("chunk", "val")
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan
        uncapped = _probe(spark, shard, "t_shcap")
        max_occ = occ[0].n_docs
        assert _probe(spark, shard, "t_shcap", max_bucket=max_occ) == uncapped
        # tight cap: independent expectation from collected hashes
        cap = max(1, occ[len(occ) // 2].n_docs)  # median occupancy
        corpus_sims = {r.doc_id: r.simhash for r in simhash(corpus).collect()}
        shard_sims = {r.doc_id: r.simhash for r in simhash(shard).collect()}
        from collections import Counter

        occ_py = Counter()
        for h in corpus_sims.values():
            for c in range(4):
                occ_py[(c, (h >> (8 * c)) & 255)] += 1
        hot = {k for k, n in occ_py.items() if n > cap}
        assert hot, "fixture degenerate: no bucket exceeds the median cap"
        expected = {}
        for nid, nh in shard_sims.items():
            for iid, ih in corpus_sims.items():
                ham = bin(nh ^ ih).count("1")
                if ham > MAX_HAMMING:
                    continue
                agree_subcap = any(
                    ((nh >> (8 * c)) & 255) == ((ih >> (8 * c)) & 255)
                    and (c, (ih >> (8 * c)) & 255) not in hot
                    for c in range(4)
                )
                if agree_subcap:
                    expected[(nid, iid)] = ham
        got = _probe(spark, shard, "t_shcap", max_bucket=cap)
        assert got == expected
        # the cap's recall trade is real on this vocab-shared fixture:
        # some pair's every agreeing chunk value is hot
        assert set(expected) < set(uncapped)
    finally:
        _drop(spark, "t_shcap_bands", "t_shcap_sigs")
