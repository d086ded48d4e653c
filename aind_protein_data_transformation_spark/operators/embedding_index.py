"""Incremental SRP-LSH embedding index: new embedding shards are
near-dup-checked against an indexed history WITHOUT re-signing,
re-scanning, or re-shuffling it. One of the three families on the
shared two-table lifecycle — the write / append / probe / verify /
compact / swap runbook, crash contract and stamp guard are in
operators/index_lifecycle.py; this module holds the SRP spec, its
signer, its stamp, its cosine verify score and its input checks.

- ``{name}_bands``: (vec_id, band, band_val) bucketed AND sorted by
  (band, band_val) — a probe's candidate join exchanges only the
  shard's band rows; the index side reads co-located.
- ``{name}_vecs``: (vec_id, en array<double>) bucketed by vec_id —
  UNIT-NORMALIZED vectors, so the probe's verify stage is a plain dot
  product (no norms recomputed per candidate pair).

Signatures come from the Arrow GEMM signer
(:func:`~aind_protein_data_transformation_spark.operators.similarity.srp_band_vals_gemm`):
the round-8 dispatch ladder found NO fold-favorable regime for this
family (the fold does O(n_bits x dim) interpreted multiply-adds per
row — kernel 2x at dim-64, ~226x at dim-1024; BENCH.md round 8). The
oracle-replayable fold ``srp_band_vals`` stays the reference: the
probe's pair set equals the fold-signed batch pipeline's
(tests/test_embedding_index.py). ``n_bits``/``n_bands`` are the stamped
geometry (``sparkgraft.srp.*``). The input checks are this family's
own: every write/append/probe validates the whole shard for NULL
vectors, NULL elements, ragged or empty dimensions and (append/probe)
the index's dimension, before any signer runs, so a bad row raises
instead of being stored as an unreachable row.

No counterpart exists in the reference (its array layer is
conversion-only); part of the SURVEY.md §2 training-pipeline addendum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.vector import spark_dot_sql
from .index_lifecycle import (
    IndexSpec,
    Signer,
    append_index,
    compact_index,
    probe_index,
    swap_index,
    verify_index,
    write_index,
)
from .similarity import (
    PAIR_COSINE_UDF_MIN_DIM,
    dispatch_by_dim,
    pair_cosine_batch_col,
    srp_band_vals_gemm,
)

SRP_INDEX_THRESH = 0.9

SRP_STAMP_KEYS = ("sparkgraft.srp.n_bits", "sparkgraft.srp.n_bands")

SRP_SPEC = IndexSpec(
    kind="srp",
    sidecar_suffix="vecs",
    band_keys=("band", "band_val"),
    payload_cols=("en",),
    payload_noun="vectors",
    sidecar_noun="vector row",
    entity="embedding",
    banded_key="banded_vecs",
    stored_key="stored_vecs",
    orphan_key="orphan_vec_rows",
    stamp_keys=SRP_STAMP_KEYS,
)


def _en_expr(vec_col: str) -> str:
    """Unit-normalize ``vec_col`` JVM-side — the SHARED try_divide
    normalize (functions/vector.py): one definition for the signer
    fold and the stored vectors, so they cannot drift apart."""
    from ..functions.vector import spark_try_unit_normalize_sql

    return spark_try_unit_normalize_sql(vec_col)


def _sig_bands(
    vectors: DataFrame,
    vec_id: str,
    vec_col: str,
    n_bits: int,
    n_bands: int,
) -> DataFrame:
    """(vec_id, band, band_val) rows for ``vectors`` — the signer's
    packed band values exploded one row per band. Derived straight
    from the raw vectors (the signer normalizes internally), so bands
    and the vecs-table lineage share one source frame with NO join."""
    sig = srp_band_vals_gemm(vectors, vec_id, vec_col, n_bits=n_bits, n_bands=n_bands)
    return sig.select(
        vec_id, F.posexplode("band_vals").alias("band", "band_val")
    )


def _srp_stamp(n_bits: int, n_bands: int) -> dict[str, str]:
    return {"sparkgraft.srp.n_bits": str(n_bits), "sparkgraft.srp.n_bands": str(n_bands)}


def _signer(vec_id: str, vec_col: str, n_bits: int, n_bands: int) -> Signer:
    """The signed frame carries the raw vector (the band signer
    normalizes internally) and its unit-normalized form ``en`` — the
    sidecar payload and the probe's verify operand."""
    return Signer(
        sign=lambda vectors: vectors.select(
            vec_id, vec_col, F.expr(_en_expr(vec_col)).alias("en")
        ),
        bands=lambda signed: _sig_bands(signed, vec_id, vec_col, n_bits, n_bands),
        stamp=_srp_stamp(n_bits, n_bands),
    )


def _table_dim(spark, name: str) -> int | None:
    """The index's vector dimension, probed from the FIRST stored row —
    sufficient for the index side because every row passed the
    full-shard check below when it was appended (a full scan of the
    corpus-sized vecs table per probe would be the wrong cost)."""
    first = (
        spark.table(f"{name}_vecs").select(F.size("en").alias("d")).limit(1).collect()
    )
    return first[0]["d"] if first else None


def _check_vectors(vectors: DataFrame, vec_col: str) -> int | None:
    """Validate a vector relation in ONE shard-sized aggregate and
    return its (single) dimension, or None if empty. Raises on the
    three inputs the signers degrade on SILENTLY instead of loudly
    (ADVICE r8 + round-9 review):

    - NULL vectors: min/max over size() skip NULLs, but a NULL
      embedding would be stored with NULL normalized form and all-zero
      fold bands — an indexed row no probe can ever match, plus
      permanent zero-band bucket inflation;
    - NULL ELEMENTS inside a vector: size() counts them, but the norm
      fold goes NULL over them, so the row is signed/stored as NULLs
      and silently dropped from every probe;
    - RAGGED dimensions: a shard whose first row happens to match the
      index used to pass the old first-row probe, after which the fold
      signer silently emitted all-zero bands for the mismatched rows
      (zip_with NULL-pads) and NULL verify cosines, while the GEMM
      signer raised — twin divergence on the same bad input.

    The aggregate is one pass over the input (cheap next to signing)
    and makes the fold path fail as loudly as the GEMM path. Called on
    every write/append/probe entry."""
    agg = vectors.select(
        F.size(vec_col).alias("d"),
        F.expr(f"exists({vec_col}, x -> x IS NULL)").alias("has_null_elem"),
    ).agg(
        F.min("d").alias("lo"),
        F.max("d").alias("hi"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count("d").alias("n_dims"),
        F.max("has_null_elem").alias("null_elems"),
    ).collect()[0]
    if agg["n_rows"] == 0:
        return None  # empty input: nothing to index/probe, nothing to check
    if agg["n_dims"] != agg["n_rows"]:
        raise ValueError(
            f"input holds {agg['n_rows'] - agg['n_dims']} NULL "
            f"{vec_col!r} rows — a NULL embedding cannot be signed or "
            f"matched; it would be indexed as an unreachable row with "
            f"all-zero fold bands (silent, permanent). Filter NULLs "
            f"out before indexing or probing."
        )
    if agg["null_elems"]:
        raise ValueError(
            f"input holds vectors with NULL ELEMENTS in {vec_col!r} — "
            f"the norm fold goes NULL over them, so the row would be "
            f"signed and stored as NULLs and silently dropped from "
            f"every probe. Clean or filter those rows first."
        )
    if agg["lo"] != agg["hi"]:
        raise ValueError(
            f"input is RAGGED: vector dimensions range {agg['lo']}–"
            f"{agg['hi']} — the fixed-dimension contract requires one "
            f"dimension per index; the fold signer would silently emit "
            f"all-zero bands for the mismatched rows (zip_with NULL-pads)"
        )
    if agg["lo"] == 0:
        # ADVICE r9: uniformly EMPTY vectors pass the lo==hi check but a
        # zero-dimensional vector cannot be signed or matched — it gets
        # all-zero fold bands and a zero norm (try_divide-degenerate en),
        # exactly the silent unreachable-indexed-row class this guard
        # closes for NULLs and ragged dims.
        raise ValueError(
            f"input holds zero-dimensional (empty) {vec_col!r} vectors — "
            f"a size-0 embedding cannot be signed or matched; it would "
            f"be indexed with all-zero bands and a NULL normalized form "
            f"(silent, unreachable). Filter empty vectors out first."
        )
    return agg["lo"]


def _check_dim(spark, name: str, vectors: DataFrame, vec_col: str) -> None:
    """Full-shard validation (:func:`_check_vectors`) plus the
    index-dimension comparison: zip_with over mismatched lengths pads
    with NULL, so a mismatched fold-path probe would SILENTLY emit no
    pairs instead of failing."""
    shard_dim = _check_vectors(vectors, vec_col)
    if shard_dim is None:
        return
    idx_dim = _table_dim(spark, name)
    if idx_dim is not None and idx_dim != shard_dim:
        raise ValueError(
            f"srp index {name!r} holds dim-{idx_dim} vectors but the "
            f"shard is dim-{shard_dim} — a mismatched probe/append would "
            f"silently drop every candidate at the verify join "
            f"(embeddings-table fixed-dimension contract)"
        )


def write_srp_index(
    vectors: DataFrame,
    name: str,
    n_buckets: int = 16,
    path: str | None = None,
    n_bits: int = 32,
    n_bands: int = 4,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Index ``vectors`` for incremental near-dup probes: persist the
    band and normalized-vector tables described in the module notes,
    stamped with ``n_bits``/``n_bands``. The corpus passes the same
    full validation the append/probe paths run (:func:`_check_vectors`
    — a NULL embedding in a fresh build would be stored as an
    unreachable row). Runbook step 1 of operators/index_lifecycle.py."""
    _check_vectors(vectors, vec_col)
    signer = _signer(vec_id, vec_col, n_bits, n_bands)
    write_index(vectors, name, SRP_SPEC, signer, vec_id, n_buckets, path)


def append_srp_shard(
    spark,
    vectors: DataFrame,
    name: str,
    n_bits: int = 32,
    n_bands: int = 4,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fold an (already-deduplicated) shard into the persisted index —
    a bucketed APPEND of its vector rows, then band rows; the history
    is never read or re-signed. The shard's dimension is checked
    against the index up front (:func:`_check_dim`). Runbook step 2 of
    operators/index_lifecycle.py."""
    _check_dim(spark, name, vectors, vec_col)
    signer = _signer(vec_id, vec_col, n_bits, n_bands)
    append_index(spark, vectors, name, SRP_SPEC, signer, vec_id)


def verify_srp_index(spark, name: str, vec_id: str = "vec_id") -> dict[str, int]:
    """Consistency audit: raises if any banded vec_id lacks a vector
    row; returns ``{"banded_vecs", "stored_vecs", "orphan_vec_rows",
    "missing_stamp_keys"}`` otherwise. Runbook step 4 of
    operators/index_lifecycle.py."""
    return verify_index(spark, name, SRP_SPEC, vec_id)


def compact_srp_index(
    spark,
    name: str,
    vec_id: str,
    target: str,
    path: str | None = None,
) -> dict[str, int]:
    """Drop the duplicate rows crash re-appends accumulate —
    :func:`index_lifecycle.compact_index` (zero-shuffle, into
    ``target`` for :func:`swap_srp_index`, raising on a vec_id with
    conflicting normalized vectors)."""
    return compact_index(spark, name, SRP_SPEC, vec_id, target, path)


def swap_srp_index(spark, name: str, target: str) -> dict:
    """Promote a verified (stamp included) compact-into-``target``
    build to ``name`` via metadata-only rename pairs, crash-recoverable
    by re-running — :func:`index_lifecycle.swap_index`, runbook
    step 6."""
    return swap_index(spark, name, target, SRP_SPEC, "vec_id")


def incremental_srp_pairs(
    spark,
    new_vectors: DataFrame,
    name: str,
    threshold: float = SRP_INDEX_THRESH,
    n_bits: int = 32,
    n_bands: int = 4,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    verify_batch: bool | None = False,
) -> DataFrame:
    """Near-dup pairs between ``new_vectors`` and the indexed corpus:
    (new_id, index_id, cosine), exact cosine >= ``threshold`` over the
    SRP band collisions, one row per pair (``max(cosine)``).

    ``n_bits``/``n_bands`` must match the index's stamp (a mismatch
    raises). To audit the index first, call :func:`verify_srp_index`.
    ``verify_batch`` mirrors ``ivf_topk``: False = JVM dot-product
    fold (both sides are unit vectors, so the dot IS the cosine); True =
    the Arrow pair-cosine kernel; None = dispatch on the index dimension
    against ``PAIR_COSINE_UDF_MIN_DIM``. Batch equivalence (the pair
    set equals the banded batch pipeline's) is pinned by
    tests/test_embedding_index.py.
    Runbook step 3 of operators/index_lifecycle.py."""
    _check_dim(spark, name, new_vectors, vec_col)
    if verify_batch is None:
        dim = _table_dim(spark, name)
        verify_batch = dispatch_by_dim(dim, PAIR_COSINE_UDF_MIN_DIM) == "kernel"
    paired = probe_index(
        spark,
        new_vectors,
        name,
        SRP_SPEC,
        _signer(vec_id, vec_col, n_bits, n_bands),
        vec_id,
    )
    if verify_batch:
        # two-step projection: the UDF lands in its own column FIRST so
        # the NaN->null map cannot double-evaluate it (the round-6
        # when()-guard lesson, same as ivf_topk's verify stage)
        scored = paired.select(
            "new_id",
            "index_id",
            pair_cosine_batch_col()(F.col("en_new"), F.col("en_idx")).alias("_raw"),
        ).select(
            "new_id",
            "index_id",
            F.when(F.isnan("_raw"), F.lit(None))
            .otherwise(F.col("_raw"))
            .alias("cosine"),
        )
    else:
        scored = paired.select(
            "new_id",
            "index_id",
            F.expr(spark_dot_sql("en_new", "en_idx")).alias("cosine"),
        )
    return (
        scored.filter(F.col("cosine") >= threshold)
        .groupBy("new_id", "index_id")
        .agg(F.max("cosine").alias("cosine"))
    )
