"""Incremental SimHash index — the third family on the shared two-table
lifecycle: the write / append / probe / verify / compact / swap
runbook, crash contract and stamp guard are in
operators/index_lifecycle.py; this module holds the SimHash spec, its
signer (the vote aggregate of operators/dedup.py, then the chunk
rows), its stamp, its hamming verify score and its own checks (the
geometry validation, the ``max_hamming`` pigeonhole cap, and the
probe's fan-out and ``max_bucket`` cap).

- ``{name}_bands``: (doc_id, chunk, val) — each document's hash chunks
  (``n_chunks`` fields of ``bits / n_chunks`` bits each), bucketed AND
  sorted by (chunk, val): the pigeonhole blocking key (hamming <=
  n_chunks - 1 guarantees at least one equal chunk).
- ``{name}_sigs``: (doc_id, simhash) bucketed by doc_id — the full
  hash the verify stage recomputes hamming distance from (bit_count of
  XOR; no text is re-read).

Scale envelope (measured round 9, BENCH.md): chunk blocking over
``n_chunks`` fixed w-bit values yields ~n/2^w candidates per chunk per
probe doc on a UNIFORM hash — linear in the corpus, unlike minhash's
banded keys. At corpus sizes where the candidate join dominates
probes, WIDEN the chunks: since round 10 the geometry is a
**constructor parameter**, not a constants edit — e.g.
``write_simhash_index(docs, name, bits=48, n_chunks=3)`` builds 16-bit
chunks (pigeonhole still covers hamming <= n_chunks - 1 = 2). Honest
sizing note (measured round 10, BENCH.md "Round-10", at the
10x text layout): SimHash chunk values are NOT uniform — documents
sharing vocabulary cluster on the same chunk values — so the realized
reduction is governed by the value distribution's skew, not the width
alone: 8-bit -> 16-bit chunks cut the probe's collision rows 5.4x
(7.87M -> 1.47M for a 250-doc shard over 50k docs; probe 1.5x faster),
far under the uniform-hash 2^8. Widening helps and its cost is one
rebuild, but for corpora with heavy shared boilerplate the minhash
index's banded keys (which compose several hash values per bucket)
remain the stronger blocking; measure with the experiment script
before committing a fleet-wide rebuild. The
geometry is STAMPED into the bands table's properties
(``sparkgraft.simhash.*``, VERDICT r9 #2/#3) and every append and
probe derives its chunk layout and pigeonhole cap FROM the stamp — so
a probe can never join new-geometry chunk rows against old-geometry
bands (the silent recall collapse the round-9 audit flagged when this
was a module-constants edit). ``bits`` is capped at 60: the portable
token hash is 60 bits (functions/text.py), so wider hashes would carry
dead bits. The probe also fans its chunk rows to the session width
before the candidate join (the round-9 AQE one-partition fix).

The first-match-chunk trick the BATCH pair join uses
(simhash_near_pairs — emit each pair only from its first agreeing
chunk, skipping the DISTINCT) does not carry over: against an index
holding duplicate rows the join output is not unique by construction,
so the probe uses the same DISTINCT-candidates-then-verify shape as
the minhash/SRP probes.

No counterpart in the reference (conversion-only array layer); part of
the SURVEY.md §2 training-pipeline addendum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import SIMHASH_BITS, SIMHASH_CHUNKS, simhash
from .index_lifecycle import (
    IndexSpec,
    Signer,
    append_index,
    compact_index,
    probe_index,
    read_stamp,
    swap_index,
    verify_index,
    write_index,
)

SIMHASH_MAX_HAMMING = 3

SIMHASH_STAMP_KEYS = ("sparkgraft.simhash.bits", "sparkgraft.simhash.chunks")

SIMHASH_SPEC = IndexSpec(
    kind="simhash",
    sidecar_suffix="sigs",
    band_keys=("chunk", "val"),
    payload_cols=("simhash",),
    payload_noun="simhash values",
    sidecar_noun="signature row",
    entity="document",
    banded_key="banded_docs",
    stored_key="signed_docs",
    orphan_key="orphan_sig_docs",
    stamp_keys=SIMHASH_STAMP_KEYS,
)


def _validate_geometry(bits: int, n_chunks: int) -> None:
    """Reject geometries the blocking cannot honor: chunks must tile
    the hash uniformly (the pigeonhole guarantee counts EVERY bit as
    belonging to exactly one chunk), at least two chunks must exist
    (one chunk degenerates to exact-hash match), and the hash width is
    bounded by the portable token hash's 60 bits (dedup.simhash)."""
    if n_chunks < 2:
        raise ValueError(
            f"simhash geometry n_chunks={n_chunks} is degenerate — one "
            f"chunk blocks only exact-hash matches (pigeonhole covers "
            f"hamming <= n_chunks - 1 = 0); use >= 2 chunks."
        )
    if not n_chunks <= bits <= 60:
        raise ValueError(
            f"simhash geometry bits={bits} out of range "
            f"[{n_chunks}, 60]: the portable token hash is 60 bits, so "
            f"wider hashes would carry dead bits (every document agrees "
            f"there), and each chunk needs at least one bit."
        )
    if bits % n_chunks:
        raise ValueError(
            f"simhash geometry bits={bits} is not divisible by "
            f"n_chunks={n_chunks} — the pigeonhole recall guarantee "
            f"needs every bit to belong to exactly one chunk of uniform "
            f"width; pick a chunk count that tiles the hash."
        )


def _simhash_stamp(bits: int, n_chunks: int) -> dict[str, str]:
    return {"sparkgraft.simhash.bits": str(bits), "sparkgraft.simhash.chunks": str(n_chunks)}


def _resolve_geometry(spark, name: str, bits: int | None, n_chunks: int | None) -> tuple[int, int]:
    """The geometry an append/probe signs and chunks under: explicit
    arguments, else the index's STAMP, else the module defaults (32/4 —
    the pre-stamp constants every legacy index was built under),
    validated. Explicit values that disagree with the stamp — and a
    partial stamp — are then rejected by the core stamp guard, so a
    probe can never join new-geometry chunk rows against old-geometry
    bands; a corrupted stamp carrying an impossible geometry fails the
    validation here."""
    stamp = read_stamp(spark, f"{name}_bands", SIMHASH_STAMP_KEYS)
    if bits is None:
        bits = int(stamp.get("sparkgraft.simhash.bits", SIMHASH_BITS))
    if n_chunks is None:
        n_chunks = int(stamp.get("sparkgraft.simhash.chunks", SIMHASH_CHUNKS))
    _validate_geometry(bits, n_chunks)
    return bits, n_chunks


def _chunk_rows(
    sims: DataFrame,
    id_col: str,
    bits: int = SIMHASH_BITS,
    n_chunks: int = SIMHASH_CHUNKS,
) -> DataFrame:
    """(id, chunk, val) blocking rows — each document's w-bit chunks,
    w = bits / n_chunks (validated by the callers)."""
    w = bits // n_chunks
    mask = (1 << w) - 1
    return sims.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), w * c)
                        .bitwiseAND(mask)
                        .alias("val"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ck"),
    ).select(id_col, "ck.chunk", "ck.val")


def _signer(text_col: str, id_col: str, bits: int, n_chunks: int) -> Signer:
    return Signer(
        sign=lambda docs: simhash(docs, text_col=text_col, id_col=id_col, n_bits=bits),
        bands=lambda sims: _chunk_rows(sims, id_col, bits, n_chunks),
        stamp=_simhash_stamp(bits, n_chunks),
    )


def write_simhash_index(
    docs: DataFrame,
    name: str,
    n_buckets: int = 16,
    path: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
    n_chunks: int = SIMHASH_CHUNKS,
) -> None:
    """Index ``docs`` for incremental hamming-distance probes: one
    SimHash vote aggregate over the corpus, persisted as the chunk
    blocking table + full-hash sidecar described in the module notes.
    ``bits``/``n_chunks`` are the widen-the-chunks scale dial (module
    notes), validated and STAMPED; every later append/probe derives its
    chunk layout from the stamp. Runbook step 1 of
    operators/index_lifecycle.py."""
    _validate_geometry(bits, n_chunks)
    signer = _signer(text_col, id_col, bits, n_chunks)
    write_index(docs, name, SIMHASH_SPEC, signer, id_col, n_buckets, path)


def append_simhash_shard(
    spark,
    docs: DataFrame,
    name: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int | None = None,
    n_chunks: int | None = None,
) -> None:
    """Fold an (already-deduplicated) shard into the persisted index —
    a bucketed APPEND of its sig rows, then chunk rows, signed under the
    index's STAMPED geometry (explicit ``bits``/``n_chunks`` must agree
    with the stamp or this raises). Runbook step 2 of
    operators/index_lifecycle.py."""
    signer = _signer(text_col, id_col, *_resolve_geometry(spark, name, bits, n_chunks))
    append_index(spark, docs, name, SIMHASH_SPEC, signer, id_col)


def verify_simhash_index(spark, name: str, id_col: str = "doc_id") -> dict[str, int]:
    """Consistency audit: raises if any banded document lacks a
    signature row; returns ``{"banded_docs", "signed_docs",
    "orphan_sig_docs", "missing_stamp_keys"}`` otherwise. Runbook
    step 4 of operators/index_lifecycle.py."""
    return verify_index(spark, name, SIMHASH_SPEC, id_col)


def compact_simhash_index(
    spark,
    name: str,
    id_col: str,
    target: str,
    path: str | None = None,
) -> dict[str, int]:
    """Drop duplicate rows from both tables —
    :func:`index_lifecycle.compact_index` (zero-shuffle, into
    ``target`` for :func:`swap_simhash_index`, raising on a doc_id with
    conflicting simhash values)."""
    return compact_index(spark, name, SIMHASH_SPEC, id_col, target, path)


def swap_simhash_index(spark, name: str, target: str) -> dict:
    """Promote a verified (stamp included — an unstamped live index
    would make every future append/probe fall back to the legacy
    default geometry) compact-into-``target`` build via metadata-only
    rename pairs — :func:`index_lifecycle.swap_index`, runbook
    step 6."""
    return swap_index(spark, name, target, SIMHASH_SPEC, "doc_id")


def chunk_bucket_sizes(spark, name: str) -> DataFrame:
    """Occupancy of every (chunk, val) blocking bucket of the persisted
    index, descending: the observability companion to
    ``incremental_simhash_pairs(max_bucket=...)`` — size the cap (or
    audit what a cap drops) from this instead of re-deriving the chunk
    relation. Round-10 motivation (BENCH.md): simhash chunk values
    CLUSTER on shared-vocab text — the 10x-layout measurement found the
    hottest values holding thousands of docs each (7.9M collision rows
    for a 250-doc shard over 50k docs), and widening the chunks
    recovered only 5.4x of the uniform-hash 256x because the skew, not
    the width, governs. One aggregate on the table's own bucket+sort
    key, so it plans WITHOUT an Exchange off the bucketed read."""
    return (
        spark.table(f"{name}_bands")
        .groupBy("chunk", "val")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), "chunk", "val")
    )


def incremental_simhash_pairs(
    spark,
    new_docs: DataFrame,
    name: str,
    max_hamming: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int | None = None,
    n_chunks: int | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs between ``new_docs`` and the indexed corpus:
    (new_id, index_id, hamming), hamming <= ``max_hamming`` over the
    chunk-collision candidates. The shard is signed and chunked under
    the index's STAMPED geometry (module notes; explicit
    ``bits``/``n_chunks`` must agree with the stamp or this raises),
    and ``max_hamming`` defaults to — and is capped at — the stamped
    geometry's pigeonhole guarantee, ``n_chunks - 1``: beyond it the
    chunk blocking silently under-recalls, so the API raises instead.

    To audit the index first, call :func:`verify_simhash_index`. Batch
    equivalence against simhash_near_pairs over corpus+shard is pinned
    by tests/test_simhash_index.py. Runbook step 3 (scale shape,
    probing during a swap) of operators/index_lifecycle.py.

    ``max_bucket`` is the per-bucket skew cap, the probe-side twin of
    ``lsh_candidate_pairs(max_bucket=...)`` (round 10 — the 10x
    measurement showed chunk values clustering on shared-vocab text, a
    hot bucket of m index docs contributing m collision rows per
    matching probe chunk): index buckets holding more than
    ``max_bucket`` documents are dropped BEFORE the candidate join —
    one exchange-free aggregate + a left-semi join on the SAME
    (chunk, val) key the candidate join uses, so the cap adds no extra
    partitioning. Honest recall statement — STRONGER than
    lsh_candidate_pairs' (measured round 10,
    BENCH.md "Round-10"): a pair survives iff the two hashes
    agree on at least one SUB-CAP chunk value, and unlike minhash's
    composed band keys, a single w-bit chunk value is exactly the kind
    of signature corpus-hot boilerplate shares — on the 10x
    vocab-shared fixture a cap of 1000 (5x the uniform-hash bucket
    expectation) kept only 0.4% of the radius-1 pairs, because
    near-dups cluster WITH their boilerplate neighbors on the very
    values the cap drops. Treat the cap as an emergency backstop
    against a melting probe (it bounded the candidate join and ran the
    probe 2x faster there), not a recall-preserving optimization:
    prefer widening the chunks (rebuild) or the minhash index for
    skewed corpora, and ALWAYS audit the drop with
    :func:`chunk_bucket_sizes` before enabling it.

    Output aggregates ``min(hamming)`` per (new_id, index_id) — the
    other probes' max(score) with the inequality flipped, because
    smaller hamming = nearer."""
    bits, n_chunks = _resolve_geometry(spark, name, bits, n_chunks)
    if max_hamming is None:
        max_hamming = n_chunks - 1
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the chunk-blocking "
            f"recall guarantee (pigeonhole over {n_chunks} chunks "
            f"covers hamming <= {n_chunks - 1}); pairs beyond it "
            f"would be silently MISSING from the probe, not slower to "
            f"find. Rebuild the index with more chunks for wider radii."
        )
    from ..plans.scale import fanout_width

    def shape(probe, idx):
        if max_bucket is not None:
            keep = (
                idx.groupBy("chunk", "val")
                .agg(F.count("*").alias("_n"))
                .filter(F.col("_n") <= max_bucket)
                .select("chunk", "val")
            )
            idx = idx.join(keep, ["chunk", "val"], "left_semi")
        # Fan the shard's chunk rows out to the session's width BEFORE
        # the candidate join (measured round 9 at the 10x text layout):
        # AQE coalesces the tiny checkpointed shard to ONE partition, and
        # when the bands table fits a broadcast the collision join runs
        # on the STREAM side's partitioning — one task dragging every
        # collision row (7.9M for a 250-doc shard there: 8-bit chunk
        # buckets hold ~n/256 docs each, so candidates grow with the
        # corpus). The small exchange is free; the join's output work
        # spreads across the cluster. Past the broadcast threshold the
        # bucketed SMJ repartitions the probe side anyway.
        return probe.repartition(fanout_width(spark)), idx

    paired = probe_index(
        spark,
        new_docs,
        name,
        SIMHASH_SPEC,
        _signer(text_col, id_col, bits, n_chunks),
        id_col,
        shape=shape,
    )
    return (
        paired.select(
            "new_id",
            "index_id",
            F.bit_count(F.col("simhash_new").bitwiseXOR(F.col("simhash_idx"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("new_id", "index_id")
        .agg(F.min("hamming").alias("hamming"))
    )
