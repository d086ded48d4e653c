"""Similarity search over embedding columns (SURVEY.md §2B "LLM:
similarity"; north_star ANN requirement).

Two paths:
- ``brute_force_topk`` — exact cosine top-k: broadcast the (small)
  query set against the corpus scan. Per-executor work is a local
  scan+rank; the only shuffle is the final per-query top-k window,
  which WindowGroupLimit trims to k rows per query BEFORE the
  shuffle. This is the 100-TB baseline when queries are few.
- ``ivf_topk`` — IVF-style bucketed ANN: assign every corpus vector
  to its nearest centroid (one broadcast join, computed once and
  reusable as a materialized index), probe only the ``nprobe``
  nearest buckets per query. Corpus scan cost drops by
  ~n_buckets/nprobe; recall traded per nprobe. Centroids here are a
  deterministic subsample (vec_id % stride) so the DuckDB oracle can
  replay the whole index build — a production build would k-means
  them, which only changes the centroid table.

For 1k+-dim vectors the fold's n*dim interpreted cost crosses the
Arrow transfer cost and the GEMM twins take over: ``assign_buckets_gemm``
(index build), ``brute_force_topk_gemm`` (exact top-k with map-side
per-batch candidate pruning), ``quantize_int8_auto`` (dim-dispatched).
The operator shapes (broadcast/collect-guarded small side, bucket join,
window top-k) stay identical; agreement with the fold forms is pinned
by tests.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401  (resolves pandas_udf type hints)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vector import dot, norm

#: Measured crossover for exact cosine top-k, re-anchored late round 8
#: under the FAIR protocol (every candidate in interleaved_ab's
#: callable form, so the GEMM side's driver collect + matrix build is
#: billed per run: 20k corpus, 5 queries; BENCH.md round 8): hof wins
#: dim-64/128, GEMM from dim-192 (1.33x) through dim-1024 (3.3x) ->
#: bracket midpoint 160. (The earlier 256 came from round 7's
#: prepared-frame protocol, BENCH.md round 7.) Lower than the
#: quantize crossover: the top-k HOF pays three folds per query x
#: corpus pair, so its interpreted cost crosses the Arrow cost sooner.
#: A caller who measured another crossover calls
#: :func:`brute_force_topk` or :func:`brute_force_topk_gemm` directly.
TOPK_GEMM_MIN_DIM = 160


#: Measured crossover for the PAIRWISE cosine projection (the IVF
#: verify stage: one cosine per already-joined (qe, ce) row —
#: BENCH.md round 7, 100k pairs, interleaved protocol). The
#: fold pays three aggregates per row while the batch UDF ships two
#: vectors per row for one fused einsum. Re-anchored late round 8
#: under the fair callable-billing protocol at the same 100k-pair
#: volume: fold wins dim-64 (1.23x), the UDF from dim-128 (1.05x)
#: through dim-1024 (2x) -> bracket midpoint 96. (The earlier 192 came
#: from round 7's prepared-frame protocol.) Volume caveat unchanged:
#: at 20k pairs the crossover sits ~900 (BENCH.md round 8) — callers
#: off this volume pass ``verify_batch=True`` or ``False`` directly.
PAIR_COSINE_UDF_MIN_DIM = 96


def dispatch_by_dim(dim: int | None, kernel_min_dim: int) -> str:
    """The shared dim-dispatch rule (VERDICT r6 #2): ``"hof"`` below
    the measured crossover (or when the dimension is unknown — the HOF
    is never catastrophically wrong, while the kernel pays Arrow
    transfer for nothing at narrow dims), ``"kernel"`` at/above it."""
    if dim is None or dim < kernel_min_dim:
        return "hof"
    return "kernel"


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
) -> DataFrame:
    """Exact cosine top-k of each query vector over the corpus.

    ``queries``: (query_id, qe); ``corpus``: (neighbor_id, ce).
    Deterministic: ties broken by neighbor id.

    Zero-norm contract (module-wide, round 6): try_divide, so a
    zero-norm query or corpus vector yields null cosine and ranks LAST
    (desc nulls-last) instead of raising the ANSI divide-by-zero the
    plain fold would — identical values on every non-degenerate pair.
    The registered static-SQL twin keeps the plain division: the
    fixture corpus has no zero vectors, and the oracle must replay the
    same expression on both engines.
    """
    sims = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col(query_id) != F.col(corpus_id))
        .select(
            query_id,
            corpus_id,
            F.try_divide(dot("qe", "ce"), norm("qe") * norm("ce")).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def brute_force_topk_gemm(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    max_queries: int = 100_000,
    max_query_elements: int = 32_000_000,
) -> DataFrame:
    """Production GEMM twin of :func:`brute_force_topk` for wide dims —
    the swap the module docstring promised for 1k+-dim vectors, now
    real (same pattern as :func:`assign_buckets_gemm`).

    The query set is driver-side metadata by the operator's own
    contract (brute_force_topk broadcasts it); here it is collected
    once (guarded at ``max_queries``), unit-normalized into a q x dim
    matrix captured in the closure. Each corpus Arrow batch then does
    ONE matmul against all queries and keeps only its per-query local
    top-k under (cosine desc, neighbor_id asc) — the global top-k per
    query is a subset of the union of per-batch top-k's, so the
    map-side pruning is lossless. The final per-query window trims the
    union. Scale shape: map-only scoring, the shuffle carries at most
    q * k rows PER INPUT PARTITION instead of q * corpus rows — the
    same WindowGroupLimit bound as the HOF form, but with BLAS doing
    the n*dim work.

    Agreement contract: same columns and ranking as brute_force_topk;
    cosines agree within BLAS-vs-fold low-bit tolerance (~1e-12
    relative), so neighbor sets match exactly unless true cosines tie
    within that tolerance — the same caveat as assign_buckets_gemm,
    pinned by test on tie-free data. Zero-norm vectors mirror the HOF
    edge: a zero-norm query or corpus vector yields null cosine
    (nulls rank last), exactly as the fold's x/0 does.

    Memory guard (ADVICE r7): the q x dim query matrix is captured in
    the mapInPandas closure and pickled into every task, so the bound
    that matters is BYTES, not rows — ``max_queries`` alone would admit
    ~0.8 GB at 100k x dim-1024 float64. ``max_query_elements`` caps
    q * dim (default 32M elements = 256 MB float64); either limit
    raises a clear error naming the alternative (ivf_topk). The query
    vectors also pass through :func:`_stack_vectors`, so a ragged or
    mixed-dim query set gets the same contract error the corpus side
    gets instead of a bare numpy stack trace.
    """
    import math

    import numpy as np

    collected = queries.limit(max_queries + 1).collect()
    if len(collected) > max_queries:
        raise ValueError(
            f"brute_force_topk_gemm collects the query set to the driver "
            f"(the same set brute_force_topk broadcasts); got more than "
            f"{max_queries} rows — that is a corpus, not a query set "
            f"(use ivf_topk or raise max_queries)"
        )
    if not collected:
        return corpus.select(
            F.col(corpus_id),
            F.lit(None).cast("double").alias("cosine"),
        ).limit(0).select(
            F.lit(None).cast("long").alias(query_id),
            corpus_id,
            "cosine",
            F.lit(None).cast("int").alias("rank"),
        )
    # ids are bigint by the embeddings-table contract (the output schema
    # pins them; an id of another type belongs to the HOF form)
    qrows = sorted(
        ((r[query_id], list(r["qe"])) for r in collected), key=lambda t: t[0]
    )
    q_ids = np.array([t[0] for t in qrows], dtype=np.int64)
    # same contract error as the corpus side for ragged/mixed-dim sets
    qmat = _stack_vectors(
        np, [t[1] for t in qrows], "brute_force_topk_gemm (query set)"
    )
    if qmat.size > max_query_elements:
        raise ValueError(
            f"brute_force_topk_gemm captures the q x dim query matrix in "
            f"every task closure; {qmat.shape[0]} queries x dim "
            f"{qmat.shape[1]} = {qmat.size} elements exceeds "
            f"max_query_elements={max_query_elements} "
            f"(~{max_query_elements * 8 // 2**20} MB float64) — use "
            f"ivf_topk for query sets this large, or raise the cap if the "
            f"executors have the headroom"
        )
    qnorm = np.linalg.norm(qmat, axis=1)
    q_dead = qnorm == 0
    qnorm[q_dead] = 1.0
    qmat = (qmat.T / qnorm).T

    src = corpus.select(F.col(corpus_id).alias("_cid"), F.col("ce").alias("_ce"))

    def _score(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            m = _stack_vectors(np, pdf["_ce"].to_numpy(), "brute_force_topk_gemm")
            cids = pdf["_cid"].to_numpy()
            cnorm = np.linalg.norm(m, axis=1)
            c_dead = cnorm == 0
            cnorm[c_dead] = 1.0
            sims = qmat @ ((m.T / cnorm)).astype(np.float64)
            # null-cosine edges: zero-norm query rows / corpus cols
            sims[q_dead, :] = math.nan
            sims[:, c_dead] = math.nan
            out_q, out_c, out_s = [], [], []
            for qi in range(len(q_ids)):
                row = sims[qi]
                mask = cids != q_ids[qi]  # the HOF form's self-exclusion
                cand_ids = cids[mask]
                cand_sims = row[mask]
                if len(cand_ids) == 0:
                    continue
                # local top-k under (cosine desc, id asc), NaN last —
                # argsort on (-sim, id) with NaN pushed to +inf key
                key = np.where(np.isnan(cand_sims), np.inf, -cand_sims)
                order = np.lexsort((cand_ids, key))[:k]
                out_q.extend([q_ids[qi]] * len(order))
                out_c.extend(cand_ids[order])
                out_s.extend(cand_sims[order])
            yield pd.DataFrame(
                {
                    query_id: np.array(out_q, dtype=np.int64),
                    corpus_id: np.array(out_c, dtype=np.int64),
                    "cosine": np.array(out_s, dtype=np.float64),
                }
            )

    scored = src.mapInPandas(
        _score,
        schema=f"`{query_id}` bigint, `{corpus_id}` bigint, cosine double",
    )
    # NaN markers become SQL nulls so ordering matches the HOF form
    scored = scored.withColumn(
        "cosine", F.when(F.isnan("cosine"), F.lit(None)).otherwise(F.col("cosine"))
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def brute_force_topk_auto(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "neighbor_id",
    dim: int | None = None,
) -> DataFrame:
    """Dim-aware exact top-k: route to the JVM HOF form or the GEMM
    twin by embedding dimension (the top-k counterpart of
    :func:`quantize_int8_auto`, with its own measured crossover —
    lower, because the HOF pays three folds per pair). ``dim=None``
    probes ONE query row (bounded; fixed-dimension contract). Same
    neighbors/ranks either way (agreement test-pinned); cosines differ
    only in BLAS-vs-fold low bits on the kernel side."""
    if dim is None:
        first = queries.select(F.size("qe").alias("d")).limit(1).collect()
        dim = first[0]["d"] if first else None
    if dispatch_by_dim(dim, TOPK_GEMM_MIN_DIM) == "hof":
        return brute_force_topk(queries, corpus, k, query_id, corpus_id)
    return brute_force_topk_gemm(queries, corpus, k, query_id, corpus_id)


def assign_buckets(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_id: str = "vid",
    vec_col: str = "ve",
) -> DataFrame:
    """Nearest-centroid assignment: (vec_id, bucket). One broadcast
    join + per-vector argmax; at scale this is the index build, run
    once and persisted.

    Zero-norm edges (shared contract with :func:`assign_buckets_gemm`):
    a zero-norm CENTROID is excluded up front — its raw cosine is 0/0,
    an ANSI division error (and pre-ANSI, a NaN that sorts first under
    desc and captures every vector); a zero-norm VECTOR gets null
    cosine against every remaining centroid (try_divide: null instead
    of the ANSI error; nulls sort last) and lands in the lowest-id
    valid bucket. If every centroid is zero-norm the vector is
    dropped. try_divide, NOT a CASE guard: a when(denom == 0, ...)
    evaluates the two norm folds twice (condition + value branch are
    not CSE'd), which measured +60% on the fold-heavy kmeans sweep —
    try_divide keeps the original three folds per pair.

    Round-17 shape (guide §1.2 per-task work + §2.3 aggregate before
    you shuffle), result identical by construction:

    - The two norm folds are hoisted OUT of the pair loop: the vector
      norm is projected once per vector below the broadcast join and
      the centroid norm once per centroid inside the broadcast build,
      so each of the n*k pairs pays ONE interpreted HOF fold (the dot)
      instead of three. Same doubles, same divisions — sqrt(fold) per
      row is the same value whether computed per row or per pair.
    - The per-vector argmax is a declarative max(struct) aggregate with
      map-side partial combine instead of row_number over a window: the
      exchange carries one row per VECTOR, not one per (vector,
      centroid) pair, and no per-partition sort runs. The struct key
      (c_cos IS NOT NULL, coalesce(c_cos, -Infinity), -centroid_id)
      replays the window's exact total order: any non-null cosine beats
      null (desc NULLS LAST), doubles compare identically (Spark's
      total order, NaN greatest, in both sort and struct comparison —
      the boolean field keeps a hypothetical -Infinity cosine from
      tying with the nulls), and equal cosines break to the LOWEST
      centroid_id (max of the negated id). Zero-norm vectors (all
      cosines null) take max over equal (false, -Infinity, ·) keys —
      the lowest-id valid bucket, exactly rk=1 under NULLS LAST.
      Agreement is pinned by tests/test_operators.py
      (gemm-agreement, zero-norm edges, and the argmax property test).
    Measured same-session interleaved at sf0.1: see
    OPTIMIZATION_r17.md (kmeans/semantic-keep rows)."""
    valid = F.broadcast(
        centroids.filter(norm("centroid_vec") != 0).withColumn(
            "_cn", norm("centroid_vec")
        )
    )
    guarded = F.try_divide(
        dot(vec_col, "centroid_vec"),
        F.col("_vn") * F.col("_cn"),
    )
    best = F.max(
        F.struct(
            F.col("c_cos").isNotNull().alias("has_cos"),
            F.coalesce(F.col("c_cos"), F.lit(float("-inf"))).alias("cos"),
            (-F.col("centroid_id")).alias("neg_id"),
            F.col("centroid_id").alias("centroid_id"),
        )
    )
    return (
        vectors.withColumn("_vn", norm(vec_col))
        .crossJoin(valid)
        .select(
            vec_id,
            "centroid_id",
            guarded.alias("c_cos"),
        )
        .groupBy(vec_id)
        .agg(best.alias("_best"))
        .select(vec_id, F.col("_best.centroid_id").alias("bucket"))
    )


def _stack_vectors(np, vals, op_name):
    """np.stack a pandas column of vectors with a clear contract error
    instead of a bare numpy stack trace: the Arrow-batch kernels
    require fixed-dimension, non-empty vectors (the embeddings-table
    schema). Ragged batches and empty arrays fail np.stack /
    zero-size reductions in ways that read as numpy internals."""
    try:
        m = np.stack(vals).astype(np.float64)
    except (ValueError, TypeError) as exc:
        raise ValueError(
            f"{op_name} requires fixed-dimension vectors "
            f"(embeddings-table contract); this batch mixes dimensions "
            f"or holds non-numeric elements"
        ) from exc
    if m.ndim != 2 or m.shape[1] == 0:
        raise ValueError(
            f"{op_name} requires non-empty fixed-dimension vectors; "
            f"got batch shape {m.shape}"
        )
    return m


def assign_buckets_gemm(
    vectors: DataFrame,
    centroids: DataFrame,
    vec_id: str = "vid",
    vec_col: str = "ve",
) -> DataFrame:
    """Nearest-centroid assignment via one BLAS GEMM per Arrow batch —
    the production index build :func:`assign_buckets` documents.

    Same contract and same result as ``assign_buckets`` (cosine argmax,
    ties to the lowest centroid_id — numpy's first-max argmax over the
    id-sorted centroid matrix implements the identical tie-break), but
    the per-pair work is a dense matmul instead of n·k interpreted
    higher-order folds: the k x dim centroid matrix is unit-normalized
    once on the driver and captured in the mapInPandas closure (k
    centroid rows are bounded driver-side metadata, the same budget the
    IVF/k-means operators already spend), each corpus batch normalizes
    and multiplies in one einsum/GEMM, and only (vec_id, bucket) rows
    come back. No shuffle at all — a map-only pass, so the index build
    scales with corpus bytes on any cluster size.

    Kept OUT of the oracle-checked queries: BLAS pairwise summation
    order differs from the SQL fold in the low bits, so this path is
    agreement-tested against ``assign_buckets`` (exact on non-tied
    data) rather than hash-checked. Zero-norm centroids are excluded in
    BOTH paths (here: the -inf column mask; there: the pre-broadcast
    filter), so the agreement holds on that edge too — a zero-norm
    vector lands in the lowest-id valid bucket either way.
    """
    import numpy as np

    # The centroid table is driver-side metadata by contract (a codebook
    # of design-constant size). Guard the collect so a caller passing a
    # data-sized frame gets a clear error instead of a driver OOM.
    max_centroids = 1_000_000
    collected = centroids.limit(max_centroids + 1).collect()
    if len(collected) > max_centroids:
        raise ValueError(
            f"assign_buckets_gemm collects the centroid table to the driver; "
            f"got more than {max_centroids} rows — that is a corpus, not a "
            f"codebook (use assign_buckets for a distributed build)"
        )
    rows = sorted(
        ((r["centroid_id"], list(r["centroid_vec"])) for r in collected),
        key=lambda t: t[0],
    )
    if not rows:
        return vectors.select(
            F.col(vec_id).alias(vec_id), F.lit(None).cast("long").alias("bucket")
        ).limit(0)
    cent_ids = np.array([t[0] for t in rows], dtype=np.int64)
    cmat = np.array([t[1] for t in rows], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    # Zero-norm centroids are EXCLUDED, mirroring assign_buckets (which
    # filters them before the broadcast — the old norm=1 substitute gave
    # them cosine 0, capturing vectors the fold path never would). Keep
    # the column at -inf so argmax can't pick it; if every centroid is
    # degenerate, drop the vectors like the fold path's empty join does.
    dead = cnorm == 0
    if dead.all():
        return vectors.select(
            F.col(vec_id).alias(vec_id), F.lit(None).cast("long").alias("bucket")
        ).limit(0)
    cnorm[dead] = 1.0
    cmat = (cmat.T / cnorm).T

    src = vectors.select(F.col(vec_id).alias("_vid"), F.col(vec_col).alias("_ve"))

    def _assign(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            m = _stack_vectors(np, pdf["_ve"].to_numpy(), "assign_buckets_gemm")
            vnorm = np.linalg.norm(m, axis=1)
            vnorm[vnorm == 0] = 1.0
            sims = (m.T / vnorm).T @ cmat.T
            sims[:, dead] = -np.inf
            yield pd.DataFrame(
                {
                    vec_id: pdf["_vid"].to_numpy(),
                    "bucket": cent_ids[np.argmax(sims, axis=1)],
                }
            )

    out_schema = f"`{vec_id}` {dict(vectors.dtypes)[vec_id]}, bucket bigint"
    return src.mapInPandas(_assign, schema=out_schema)


def assign_buckets_ivf(
    vectors: DataFrame,
    centroids: DataFrame,
    coarse_stride: int,
    nprobe: int = 2,
    gemm: bool = True,
    vec_id: str = "vid",
    vec_col: str = "ve",
) -> DataFrame:
    """Two-level (hierarchical) nearest-centroid assignment — the scale
    regime for CORPUS-PROPORTIONAL codebooks, where the flat paths'
    O(N·K) flops are O(N²/stride) by construction (measured:
    BENCH.md round 12, "SemDeDup core slope" — the fold read 10.8×
    wall at 10× corpus with a stride-derived codebook; the GEMM twin absorbed the
    same 100× flops at this layout, but its flop count grows the same
    way and no BLAS outruns a quadratic at 100 TB).

    Structure (the same two-level shape :func:`ivf_topk` probes, with
    the CENTROIDS as the searched set and no self-exclusion — a
    centroid vector must be allowed to assign to itself):

    1. coarse codebook: hash-spread picks over the centroids,
       ``pmod(xxhash64(centroid_id), coarse_stride) == 0`` (~K/stride
       picks; hash-spread, not modulo, so non-dense centroid ids —
       e.g. the stride-derived ids :func:`stride_centroids` emits —
       still thin uniformly);
    2. centroid→coarse map: EXACT flat assignment of every centroid to
       its nearest coarse pick (K × K/stride flops, codebook-sized;
       ``gemm=True`` routes it through :func:`assign_buckets_gemm`);
    3. vector→coarse probes: top-``nprobe`` coarse picks per vector
       (N × K/stride flops, the :func:`ivf_topk` probe shape);
    4. fine argmax: each vector scored ONLY against the centroids whose
       coarse bucket it probed (~N × nprobe·stride flops), cosine
       argmax with the flat paths' exact tie-break (desc cosine,
       asc centroid_id).

    Total ~N·(K/stride + nprobe·stride) vs flat N·K — minimized around
    stride ≈ sqrt(K/nprobe). APPROXIMATE by construction: the true
    nearest centroid may live in an unprobed coarse bucket, so this is
    a documented regime (like ``max_bucket=``), never a
    silent default — the flat paths stay the exact, oracle-replayable
    forms.

    When it pays — measured honestly (BENCH.md round 12, "SemDeDup
    core slope"): at sandbox scale the 10× slope is 5.45× vs the
    flat fold's 7.89× (the subquadratic flop count emerging), but
    :func:`assign_buckets_gemm` still wins OUTRIGHT (0.73s at ×10)
    because this codebook fits on the driver and BLAS absorbs N·K.
    This operator's regime is the codebook PAST the driver-collect
    budget (the gemm path's 1M-row guard): every stage here is
    distributed — the only driver-sized object is the coarse pick set,
    √K of the codebook — so it is the assignment that still runs when
    no flat path can. What IS exact, and test-pinned: the returned bucket is the
    true argmax within the probed candidate set, every input vector
    with a non-degenerate probe appears exactly once, and the whole
    construction is deterministic (hash picks + total-order
    tie-breaks). Zero-norm contract matches the flat paths: dead
    centroids are excluded from every stage; a zero-norm vector gets
    null cosines (try_divide) that sort last, landing it in the
    lowest-id candidate bucket rather than erroring.
    """
    if coarse_stride < 2:
        raise ValueError(
            f"assign_buckets_ivf: coarse_stride={coarse_stride} — a stride "
            f"under 2 makes every centroid a coarse pick (the flat-scan "
            f"regime; call assign_buckets/assign_buckets_gemm instead)"
        )
    live = centroids.filter(norm("centroid_vec") != 0)
    coarse = live.filter(
        F.pmod(F.xxhash64(F.col("centroid_id")), F.lit(coarse_stride)) == 0
    )
    # a stride that thins the codebook to NOTHING would silently assign
    # nothing — raise with the fix instead (codebook-sized checks, tiny
    # jobs, the same driver-side budget the gemm collect spends). The
    # all-dead-codebook edge matches the flat paths: drop the vectors
    # (empty result), don't error.
    if not coarse.limit(1).count():
        if not live.limit(1).count():
            return vectors.select(
                F.col(vec_id).alias(vec_id),
                F.lit(None).cast("long").alias("bucket"),
            ).limit(0)
        raise ValueError(
            f"assign_buckets_ivf: coarse_stride={coarse_stride} leaves zero "
            f"coarse picks for this codebook — lower the stride (aim for "
            f"sqrt(K/nprobe)) or use the flat paths for a codebook this small"
        )
    # every centroid's ONE nearest coarse pick (exact, codebook-sized)
    flat_assign = assign_buckets_gemm if gemm else assign_buckets
    cent_coarse = flat_assign(
        live.select(
            F.col("centroid_id").alias("vid"), F.col("centroid_vec").alias("ve")
        ),
        coarse,
    ).select(
        F.col("vid").alias("centroid_id"), F.col("bucket").alias("coarse_bucket")
    )
    # top-nprobe coarse picks per vector (the ivf_topk probe shape)
    wp = Window.partitionBy(vec_id).orderBy(F.desc("c_cos"), F.asc("centroid_id"))
    probes = (
        vectors.crossJoin(F.broadcast(coarse))
        .select(
            vec_id,
            "centroid_id",
            F.try_divide(
                dot(vec_col, "centroid_vec"), norm(vec_col) * norm("centroid_vec")
            ).alias("c_cos"),
        )
        .withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= nprobe)
        .select(vec_id, F.col("centroid_id").alias("coarse_bucket"))
    )
    # fine argmax over only the probed coarse buckets' centroids. NO
    # broadcast hints on the codebook-sized sides: cent_coarse and live
    # are K rows — the object this operator exists to keep OFF any
    # single node — so these joins must stay shuffle-joinable (AQE
    # still broadcasts them when K is actually small). Only `coarse`
    # (√K picks, above) is declared driver-sized.
    cands = (
        probes.join(cent_coarse, "coarse_bucket")
        .join(live, "centroid_id")
        .join(vectors, vec_id)
    )
    wf = Window.partitionBy(vec_id).orderBy(F.desc("f_cos"), F.asc("centroid_id"))
    return (
        cands.select(
            vec_id,
            "centroid_id",
            F.try_divide(
                dot(vec_col, "centroid_vec"), norm(vec_col) * norm("centroid_vec")
            ).alias("f_cos"),
        )
        .withColumn("rk", F.row_number().over(wf))
        .filter(F.col("rk") == 1)
        .select(vec_id, F.col("centroid_id").alias("bucket"))
    )


def quantize_int8_hof(
    embeddings: DataFrame,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization as a pure JVM
    higher-order projection — scale = max|x|/127, code =
    floor(x/scale + 0.5) clipped to ±127 — returning
    (vec_id, qscale, n_saturated, recon_mse). No UDF, no shuffle;
    stays inside whole-stage codegen, which makes it the measured
    WINNER at narrow dims (see :func:`quantize_int8_auto`). The
    reconstruction-MSE fold accumulates left-to-right (SQL
    ``aggregate`` order) — the order :func:`quantize_int8_batch`
    replays for bit-identity. The registered oracle query
    (queries/llm_similarity.py) wraps this same projection."""
    x = F.col(vec_col)
    amax = F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
    qscale = F.when(amax == 0, F.lit(1.0)).otherwise(amax / F.lit(127.0))
    with_scale = embeddings.select(vec_id, vec_col, qscale.alias("qscale"))
    codes = F.transform(
        F.col(vec_col),
        lambda v: F.greatest(
            F.lit(-127.0),
            F.least(
                F.lit(127.0),
                F.floor(v.cast("double") / F.col("qscale") + F.lit(0.5)).cast(
                    "double"
                ),
            ),
        ),
    )
    with_codes = with_scale.select(
        vec_id, vec_col, "qscale", codes.alias("codes")
    )
    sq_err = F.zip_with(
        F.col(vec_col),
        F.col("codes"),
        lambda v, q: (v.cast("double") - q * F.col("qscale"))
        * (v.cast("double") - q * F.col("qscale")),
    )
    return with_codes.select(
        vec_id,
        "qscale",
        F.size(F.filter(F.col("codes"), lambda q: F.abs(q) == 127.0))
        .cast("long")
        .alias("n_saturated"),
        (
            F.aggregate(sq_err, F.lit(0.0), lambda acc, v: acc + v)
            / F.size(F.col(vec_col))
        ).alias("recon_mse"),
    )


#: Measured HOF-vs-Arrow-kernel crossover (BENCH.md round-6 addendum +
#: round-7 dim sweep): the JVM
#: higher-order projection wins at narrow dims (whole-stage codegen, no
#: Arrow transfer), the batch kernel wins at wide ones (the interpreted
#: fold's n*dim cost crosses the near-flat Arrow cost). The round-7
#: sweep, re-anchored late round 8 under the fair callable-billing
#: protocol (20k vectors, 32-part layout): HOF through dim-384, kernel
#: from dim-512 (1.15x there, 1.6x at dim-1024) -> bracket midpoint
#: 448 (round 7's prepared-frame sweep had said 544; the fair per-run
#: billing and session moved the bracket one rung down).
#: The crossover is layout- and cluster-dependent
#: (round 6's 10-file layout measured a much larger kernel win at
#: dim-1024) — callers who measured their own call
#: :func:`quantize_int8_hof` or :func:`quantize_int8_batch` directly;
#: the dispatch errs toward the HOF, which is never catastrophically
#: wrong, while the kernel pays Arrow transfer for nothing at narrow
#: dims.
QUANTIZE_KERNEL_MIN_DIM = 448


def quantize_int8_auto(
    embeddings: DataFrame,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Dim-aware int8 quantization: route to the JVM HOF projection or
    the Arrow-batch kernel by embedding dimension, so a production
    caller gets the measured winner without reading BENCH.md
    (VERDICT r6 #2). Both paths are BIT-IDENTICAL (exact-agreement
    tests across the dispatch boundary in tests/test_operators.py), so
    the dispatch can never change results — only cost.

    ``dim``: pass it when known (schema/contract) to skip the probe;
    otherwise ONE first row is read (bounded driver-side metadata, the
    same budget assign_buckets_gemm's codebook collect spends — the
    embeddings-table contract is fixed-dimension, so any row's size is
    THE dimension). An empty frame dispatches to the HOF form, whose
    empty result is free."""
    if dim is None:
        first = embeddings.select(F.size(vec_col).alias("d")).limit(1).collect()
        dim = first[0]["d"] if first else None
    if dispatch_by_dim(dim, QUANTIZE_KERNEL_MIN_DIM) == "hof":
        return quantize_int8_hof(embeddings, vec_id, vec_col)
    return quantize_int8_batch(embeddings, vec_id, vec_col)


def quantize_int8_batch(
    embeddings: DataFrame,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batch kernel for symmetric per-vector int8 quantization —
    the HIGH-DIM twin of the oracle-parity HOF projection in
    ``embedding_quantize_int8`` (queries/llm_similarity.py), same
    pattern as :func:`assign_buckets_gemm`. Measured crossover
    (BENCH.md round 6): at the fixtures' dim-64 the JVM HOF projection
    WINS (stays in whole-stage codegen; this kernel pays Arrow
    transfer of every vector) — use the built-in form there. The
    kernel wins 4.7x at dim-1024 x 20k vectors, where the interpreted
    fold's n*dim cost crosses the per-byte Arrow cost — the 1k+-dim
    regime this module's docstring reserves for pandas-UDF paths.

    Returns (vec_id, qscale, n_saturated, recon_mse), BIT-IDENTICAL to
    the oracle-parity HOF query (exact-agreement tests in
    tests/test_operators.py): scale/codes/saturation are exact by
    construction (float→double widening, division, floor, clip — the
    same IEEE ops in the same order), and the reconstruction-MSE sum
    deliberately accumulates with a sequential per-dimension loop, the
    exact left-to-right order of the HOF ``aggregate`` fold, instead of
    numpy's pairwise ``sum`` (which differs in the low bits). Map-only:
    no shuffle, no driver state — scales with corpus bytes.

    Contract domain: fixed-dimension, non-empty, non-null vectors (the
    embeddings-table schema). Ragged/empty batches raise a clear
    ValueError (see _stack_vectors) instead of a numpy stack trace;
    null ELEMENTS inside a vector are outside the bit-identity
    contract (numpy coerces them to NaN where the HOF propagates SQL
    nulls).
    """
    import numpy as np

    src = embeddings.select(
        F.col(vec_id).alias("_vid"), F.col(vec_col).alias("_ve")
    )

    def _quant(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            m = _stack_vectors(np, pdf["_ve"].to_numpy(), "quantize_int8_batch")
            amax = np.abs(m).max(axis=1)
            qscale = np.where(amax == 0.0, 1.0, amax / 127.0)
            codes = np.clip(np.floor(m / qscale[:, None] + 0.5), -127.0, 127.0)
            n_sat = (np.abs(codes) == 127.0).sum(axis=1).astype(np.int64)
            err = m - codes * qscale[:, None]
            sq = err * err
            acc = np.zeros(len(m), dtype=np.float64)
            for j in range(sq.shape[1]):
                acc += sq[:, j]
            yield pd.DataFrame(
                {
                    vec_id: pdf["_vid"].to_numpy(),
                    "qscale": qscale,
                    "n_saturated": n_sat,
                    "recon_mse": acc / sq.shape[1],
                }
            )

    id_type = dict(embeddings.dtypes)[vec_id]
    return src.mapInPandas(
        _quant,
        schema=(
            f"`{vec_id}` {id_type}, qscale double, "
            "n_saturated bigint, recon_mse double"
        ),
    )


def pair_cosine_batch_col():
    """Arrow-batched pairwise cosine column for already-joined vector
    pairs — the verify-stage twin of the HOF
    ``try_divide(dot, norm*norm)`` projection, for the wide-dim regime
    (:data:`PAIR_COSINE_UDF_MIN_DIM`). One fused einsum per Arrow
    batch; zero-norm rows come back as NaN markers (numpy division
    silenced) which the CALLER maps to SQL null (``isnan -> null``,
    as ivf_topk does) to replicate try_divide's nulls-rank-last
    semantics. Values differ from the fold only in BLAS-vs-fold low
    bits — not oracle-hashable, agreement-tested."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _pair_cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = _stack_vectors(np, a.to_numpy(), "pair_cosine_batch_col")
        mb = _stack_vectors(np, b.to_numpy(), "pair_cosine_batch_col")
        with np.errstate(divide="ignore", invalid="ignore"):
            dots = np.einsum("ij,ij->i", ma, mb)
            na = np.sqrt(np.einsum("ij,ij->i", ma, ma))
            nb = np.sqrt(np.einsum("ij,ij->i", mb, mb))
            out = dots / (na * nb)
        out[~np.isfinite(out)] = np.nan
        return pd.Series(out)

    return _pair_cos


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    gemm: bool = False,
    verify_batch: bool | None = False,
) -> DataFrame:
    """IVF ANN: probe the nprobe nearest buckets per query, exact
    cosine within candidates. queries: (query_id, qe);
    corpus: (neighbor_id, ce); centroids: (centroid_id, centroid_vec).

    ``gemm=True`` builds the corpus index with
    :func:`assign_buckets_gemm` (one BLAS call per Arrow batch —
    measured ~9x cheaper than the fold at any corpus size, BENCH.md
    round 5's 10x embedding experiment) instead of the oracle-replayable HOF
    fold; identical assignment by the exact-agreement test, so the
    top-k result is unchanged.

    ``verify_batch`` swaps the VERIFY stage's per-pair cosine fold for
    the Arrow-batched einsum (:func:`pair_cosine_batch_col`) — the
    wide-dim production path, same dispatch family as the other GEMM
    twins (measured crossover :data:`PAIR_COSINE_UDF_MIN_DIM`; the
    probe stage's query x centroid ranking stays a fold — it is
    codebook-sized, never the cost). ``None`` auto-dispatches by
    probing one corpus row's dimension against
    :data:`PAIR_COSINE_UDF_MIN_DIM`; the crossover is layout- and
    volume-dependent, so a caller who measured another one passes
    ``True`` or ``False``. Neighbor sets and ranks agree
    with the fold form on tie-free data (BLAS low-bit caveat,
    agreement-tested); default False keeps the oracle-replayable plan.

    The zero-norm contract matches the assignment paths end to end:
    dead centroids are excluded from the PROBE ranking too (not just
    the index build — otherwise a zero-norm centroid crashes the probe
    cosine under ANSI, or pre-ANSI silently eats one of every query's
    nprobe slots while owning no corpus vectors), and the verify
    cosine yields null for a zero-norm query/corpus vector on BOTH
    verify paths (try_divide / NaN-to-null), ranking last instead of
    erroring.
    """
    if verify_batch is None:
        first = corpus.select(F.size("ce").alias("d")).limit(1).collect()
        dim = first[0]["d"] if first else None
        verify_batch = dispatch_by_dim(dim, PAIR_COSINE_UDF_MIN_DIM) == "kernel"
    assign = assign_buckets_gemm if gemm else assign_buckets
    valid_cents = centroids.filter(norm("centroid_vec") != 0)
    corpus_buckets = assign(
        corpus.select(F.col("neighbor_id").alias("vid"), F.col("ce").alias("ve")),
        centroids,
    ).select(F.col("vid").alias("neighbor_id"), "bucket")
    wq = Window.partitionBy("query_id").orderBy(F.desc("c_cos"), F.asc("centroid_id"))
    query_probes = (
        queries.crossJoin(F.broadcast(valid_cents))
        .select(
            "query_id",
            "centroid_id",
            F.try_divide(
                dot("qe", "centroid_vec"), norm("qe") * norm("centroid_vec")
            ).alias("c_cos"),
        )
        .withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= nprobe)
        .select("query_id", F.col("centroid_id").alias("bucket"))
    )
    candidates = (
        F.broadcast(query_probes)
        .join(corpus_buckets, "bucket")
        .join(F.broadcast(queries), "query_id")
        .join(corpus, "neighbor_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    if verify_batch:
        # two-step projection: the UDF lands in its own column FIRST,
        # then the NaN->null map reads that column — a single
        # when(isnan(udf)).otherwise(udf) would risk evaluating the
        # UDF expression twice (the round-6 when()-guard lesson)
        scored = candidates.select(
            "query_id",
            "neighbor_id",
            pair_cosine_batch_col()(F.col("qe"), F.col("ce")).alias("_raw"),
        ).select(
            "query_id",
            "neighbor_id",
            F.when(F.isnan("_raw"), F.lit(None))
            .otherwise(F.col("_raw"))
            .alias("cosine"),
        )
    else:
        scored = candidates.select(
            "query_id",
            "neighbor_id",
            F.try_divide(dot("qe", "ce"), norm("qe") * norm("ce")).alias(
                "cosine"
            ),
        )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ------------------------------------------------------------- SRP-LSH
#
# Signed-random-projection signatures — the LSH-bucketed embedding
# near-dup family (the oracle-checked query form is
# queries/llm_similarity.py::dedup_embedding_srp; these are its
# reusable operator forms, fold + Arrow twin, for arbitrary frames).

SRP_W_MOD = 2001
SRP_W_OFF = 1000


def srp_weight_matrix(n_bits: int, dim: int):
    """The deterministic hyperplane matrix as numpy (n_bits x dim),
    replaying the portable md5 hash64 arithmetic the SQL forms use:
    w(b, j) = hash64('srp:b:j') % 2001 - 1000 — integer-valued, so
    every engine (Spark fold, DuckDB oracle, this numpy twin) builds
    the IDENTICAL matrix from nothing but the (b, j) indices."""
    import hashlib

    import numpy as np

    w = np.empty((n_bits, dim), dtype=np.float64)
    for b in range(n_bits):
        for j in range(1, dim + 1):
            h = int(hashlib.md5(f"srp:{b}:{j}".encode()).hexdigest()[:15], 16)
            w[b, j - 1] = h % SRP_W_MOD - SRP_W_OFF
    return w


def srp_band_vals(
    vectors: DataFrame,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 32,
    n_bands: int = 4,
) -> DataFrame:
    """(vec_id, band_vals array<int>) — SRP signature bands via the
    JVM fold (whole-stage codegen, oracle-replayable arithmetic):
    normalize, take the sign of each hyperplane projection, pack
    big-endian into n_bands integers of n_bits/n_bands bits. Identical
    construction to the dedup_embedding_srp query's sigs stage, except
    the normalize divides through try_divide (the module-wide zero-norm
    contract): a zero-norm vector's elements go NULL, every projection
    sum goes NULL, every >= test fails, and the signature comes out
    all-zero bands — exactly what the GEMM twin's NaN comparisons
    produce (the query keeps the plain division the oracle replays; its
    fixtures hold no zero vectors). The weight matrix rides in as ONE
    broadcast row (bounded by construction: n_bits x dim integers)."""
    if n_bits % n_bands:
        raise ValueError(f"n_bits={n_bits} must divide into n_bands={n_bands}")
    band_bits = n_bits // n_bands
    spark = vectors.sparkSession
    first = vectors.select(F.size(vec_col).alias("d")).limit(1).collect()
    if not first:
        return vectors.select(
            F.col(vec_id), F.array().cast("array<int>").alias("band_vals")
        ).limit(0)
    dim = first[0]["d"]
    w = spark.sql(
        f"""
        SELECT transform(sequence(0, {n_bits - 1}), b ->
                 transform(sequence(1, {dim}), j ->
                   CAST(conv(substring(md5(concat('srp:', CAST(b AS STRING),
                        ':', CAST(j AS STRING))), 1, 15), 16, 10) AS BIGINT)
                   % {SRP_W_MOD} - {SRP_W_OFF})) AS wm
        """
    )
    from ..functions.vector import spark_try_unit_normalize_sql

    src = vectors.select(
        F.col(vec_id),
        F.expr(spark_try_unit_normalize_sql(vec_col)).alias("_en"),
    )
    return src.crossJoin(F.broadcast(w)).select(
        vec_id,
        F.expr(
            f"""transform(sequence(0, {n_bands - 1}), b ->
              aggregate(sequence(1, {band_bits}), 0, (acc, k) ->
                acc * 2 + CASE WHEN aggregate(
                    zip_with(_en, element_at(wm, b * {band_bits} + k),
                             (e, wt) -> e * CAST(wt AS DOUBLE)),
                    0.0D, (acc2, x) -> acc2 + x) >= 0.0D
                  THEN 1 ELSE 0 END))"""
        ).alias("band_vals"),
    )


def srp_band_vals_gemm(
    vectors: DataFrame,
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 32,
    n_bands: int = 4,
) -> DataFrame:
    """Arrow/BLAS twin of :func:`srp_band_vals` for wide dims — the
    signature stage as ONE matmul per batch (sign(en @ W.T), then a
    vectorized big-endian band pack), the same production swap
    assign_buckets_gemm makes for the index build. Map-only, no
    shuffle; the weight matrix is built on the driver from the same
    md5 arithmetic (:func:`srp_weight_matrix`) and captured in the
    closure (n_bits x dim doubles — KBs).

    Agreement caveat (the module-wide BLAS rule): fold and BLAS sums
    differ in the low bits, so a projection balanced within ~1e-12 of
    zero could flip a sign between the two forms; real embeddings sit
    far from that knife-edge (exact agreement on the fixtures,
    test-pinned). Zero-norm vectors: 0/0 elements propagate NaN and
    every comparison is False, so all bits come out 0 — matching the
    fold form, where the SQL NULL sum fails the >= 0 test the same
    way."""
    if n_bits % n_bands:
        raise ValueError(f"n_bits={n_bits} must divide into n_bands={n_bands}")
    import numpy as np

    band_bits = n_bits // n_bands
    first = vectors.select(F.size(vec_col).alias("d")).limit(1).collect()
    if not first:
        return vectors.select(
            F.col(vec_id), F.array().cast("array<int>").alias("band_vals")
        ).limit(0)
    dim = first[0]["d"]
    wt = srp_weight_matrix(n_bits, dim).T  # dim x n_bits
    pack = (2 ** np.arange(band_bits - 1, -1, -1)).astype(np.int64)

    src = vectors.select(F.col(vec_id).alias("_vid"), F.col(vec_col).alias("_ve"))

    def _sign(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            m = _stack_vectors(np, pdf["_ve"].to_numpy(), "srp_band_vals_gemm")
            if m.shape[1] != wt.shape[0]:
                # a batch can be internally consistent yet disagree with
                # the probed dimension (cross-batch raggedness) — same
                # contract error as the in-batch check
                raise ValueError(
                    f"srp_band_vals_gemm requires fixed-dimension vectors "
                    f"(embeddings-table contract); probed dim "
                    f"{wt.shape[0]}, batch dim {m.shape[1]}"
                )
            with np.errstate(divide="ignore", invalid="ignore"):
                vnorm = np.linalg.norm(m, axis=1)
                en = (m.T / vnorm).T
                bits = (en @ wt >= 0.0).astype(np.int64)
            vals = bits.reshape(len(m), -1, band_bits) @ pack
            yield pd.DataFrame(
                {
                    vec_id: pdf["_vid"].to_numpy(),
                    "band_vals": [row.astype("int32") for row in vals],
                }
            )

    id_type = dict(vectors.dtypes)[vec_id]
    return src.mapInPandas(
        _sign, schema=f"`{vec_id}` {id_type}, band_vals array<int>"
    )


def stride_centroids(corpus: DataFrame, stride: int) -> DataFrame:
    """Deterministic stride init: every ``stride``-th id becomes a seed
    centroid, keyed by its own id. A plain modulo filter on the id —
    no global sort, no window, no driver round-trip — so the init is a
    map-only scan that survives any corpus size. (For non-dense ids use
    ``pmod(xxhash64(id), stride) == 0``: same shape, hash-spread picks.)

    Corpus columns: (vid, ve) → returns (centroid_id, centroid_vec).
    """
    return corpus.filter(F.col("vid") % stride == 0).select(
        F.col("vid").alias("centroid_id"), F.col("ve").alias("centroid_vec")
    )


def centroid_update_exact(corpus: DataFrame, assigned: DataFrame) -> DataFrame:
    """Element-wise mean per bucket via posexplode + DECIMAL(25,6) sums.

    The decimal detour makes the mean order-independent and bit-identical
    to DuckDB's replay (the repo-wide determinism trick, registry.py
    docstring), which is what lets a k-means iteration be oracle-checked.
    Scale shape: posexplode emits dim rows per vector but the groupBy
    (bucket, pos) does map-side partial aggregation, so the shuffle
    carries only k·dim partial sums per task — same traffic as a UDAF
    combine, with no Python in the loop.

    ``corpus``: (vid, ve); ``assigned``: (vid, bucket).
    Returns (centroid_id, centroid_vec) — empty buckets simply produce
    no row; callers that must keep k stable coalesce with the previous
    centroid set (see ``train_centroids``).
    """
    return (
        corpus.join(assigned, "vid")
        .select("bucket", F.posexplode("ve").alias("pos", "val"))
        .groupBy("bucket", "pos")
        .agg(
            (
                F.sum(F.col("val").cast("double").cast("decimal(25,6)")).cast("double")
                / F.count("*")
            ).alias("mean_val")
        )
        .groupBy("bucket")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mean_val"))),
                lambda s: s["mean_val"],
            ).alias("centroid_vec")
        )
        .select(F.col("bucket").alias("centroid_id"), "centroid_vec")
    )


def sql_centroid_update(corpus_rel: str, assigned_rel: str) -> str:
    """DuckDB twin of :func:`centroid_update_exact` as a CTE body.

    ``corpus_rel`` must expose (vid, ve), ``assigned_rel`` (vid, bucket).
    """
    return f"""
        SELECT bucket AS centroid_id,
               list(mean_val ORDER BY pos) AS centroid_vec
        FROM (
            SELECT a.bucket, i.i AS pos,
                   CAST(SUM(CAST(CAST(c.ve[i.i] AS DOUBLE) AS DECIMAL(25,6)))
                        AS DOUBLE) / COUNT(*) AS mean_val
            FROM {corpus_rel} c
            JOIN {assigned_rel} a ON a.vid = c.vid,
            LATERAL (SELECT unnest(generate_series(1, len(c.ve))) AS i) i
            GROUP BY a.bucket, i.i
        )
        GROUP BY bucket
    """


def train_centroids(
    corpus: DataFrame,
    n_centroids: int,
    n_iters: int = 3,
    corpus_id: str = "neighbor_id",
    vec_col: str = "ce",
    exact: bool = False,
    gemm: bool = False,
) -> DataFrame:
    """Lloyd's k-means over embeddings — the iterative upgrade from
    ``ivf_topk``'s deterministic-subsample centroids to trained ones.

    Each iteration is two distributed steps: nearest-centroid assignment
    (broadcast join + per-vector argmax) and the centroid update (by
    default one grouped-agg pandas UDAF doing a numpy mean per bucket;
    with ``exact=True`` the decimal-sum built-in path of
    :func:`centroid_update_exact`, which is oracle-replayable).
    ``gemm=True`` runs each iteration's assignment through
    :func:`assign_buckets_gemm` — with the UDAF update that makes a
    whole Lloyd iteration two Arrow-batched BLAS passes and zero
    interpreted folds, the full-production configuration.

    Determinism: stride init by plain id modulo (map-only — the round-1
    ``Window.orderBy`` global sort is gone), assignment ties break by
    centroid id. Empty buckets KEEP their previous centroid (left join +
    coalesce) so k never silently shrinks and downstream centroid_id
    references cannot dangle; an empty corpus returns an empty centroid
    frame instead of raising.

    At 100 TB: assignment is a map-side broadcast pass over the corpus;
    the update shuffles only k·dim partial sums per task; only k
    centroid rows ever reach the driver.
    """
    vectors = corpus.select(F.col(corpus_id).alias("vid"), F.col(vec_col).alias("ve"))
    n_total = vectors.count()
    if n_total == 0:
        return vectors.select(
            F.col("vid").alias("centroid_id"), F.col("ve").alias("centroid_vec")
        )
    stride = max(1, n_total // n_centroids)
    centroids = stride_centroids(vectors, stride).withColumn(
        "centroid_vec", F.col("centroid_vec").cast("array<double>")
    )

    if exact:
        update = lambda assigned: centroid_update_exact(vectors, assigned)  # noqa: E731
    else:
        from ..functions.vector import make_centroid_udaf

        dim = len(vectors.first()["ve"])
        centroid_udaf = make_centroid_udaf(dim)

        def update(assigned: DataFrame) -> DataFrame:
            return (
                vectors.join(assigned, "vid")
                .groupBy(F.col("bucket").alias("centroid_id"))
                .agg(
                    centroid_udaf(F.col("ve").cast("array<double>")).alias(
                        "centroid_vec"
                    )
                )
            )

    for _ in range(n_iters):
        if gemm:
            assigned = assign_buckets_gemm(vectors, centroids, "vid", "ve")
        else:
            assigned = assign_buckets(vectors, F.broadcast(centroids), "vid", "ve")
        updated = update(assigned).withColumnRenamed("centroid_vec", "_new_vec")
        centroids = (
            centroids.join(updated, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce(F.col("_new_vec"), F.col("centroid_vec")).alias(
                    "centroid_vec"
                ),
            )
        )
    return centroids
