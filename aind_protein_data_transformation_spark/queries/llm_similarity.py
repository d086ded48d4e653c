"""Similarity-search queries over the embeddings table.

The oracle replays the same dot-product fold (see functions/vector.py:
Spark's aggregate and DuckDB's list_sum are bit-identical for the same
element order), so even the ROW_NUMBER ranking on raw double cosines is
deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import ensure_views, load_table
from ..functions.vector import (
    dot,
    spark_cosine_sql,
    sql_cosine,
    sql_dot,
    sql_unit_normalize,
    unit_normalize,
)
from ..plans.scale import fanout_width, materialize, sorted_small
from ..operators.similarity import (
    SRP_W_MOD,
    SRP_W_OFF,
    assign_buckets,
    centroid_update_exact,
    ivf_topk,
    quantize_int8_hof,
    sql_centroid_update,
    stride_centroids,
)
from .registry import query

TOPK_NQUERIES = 5
TOPK_K = 10
IVF_CENTROID_STRIDE = 40
IVF_NPROBE = 2
KMEANS_STRIDE = 40


def _sql_assign(corpus_rel: str, cent_rel: str) -> str:
    """DuckDB twin of operators.similarity.assign_buckets — including
    its round-6 zero-norm contract: dead centroids are excluded (Spark
    filters them before the broadcast; DuckDB's raw 0/0 would be a NaN
    that sorts FIRST under DESC and captures every vector), and a
    zero-norm vector's cosines become NULL (NULLS LAST mirrors Spark's
    try_divide + desc-nulls-last), landing it in the lowest-id valid
    bucket. The stride-sampled fixtures contain no zero-norm rows, so
    this is contract parity, not a value change."""
    return f"""
        SELECT vid, centroid_id AS bucket FROM (
            SELECT c.vid, t.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY c.vid
                       ORDER BY CASE WHEN {sql_dot('c.ve', 'c.ve')} = 0
                                     THEN NULL
                                     ELSE {sql_cosine('c.ve', 't.centroid_vec')}
                                END DESC NULLS LAST,
                                t.centroid_id) AS rk
            FROM {corpus_rel} c,
                 (SELECT * FROM {cent_rel}
                  WHERE {sql_dot('centroid_vec', 'centroid_vec')} <> 0) t
        ) WHERE rk = 1
    """


_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
           WHERE vec_id < {TOPK_NQUERIES}),
c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
sims AS (
    SELECT /*+ BROADCAST(q) */ query_id, neighbor_id,
           {spark_cosine_sql('qe', 'ce')} AS cosine
    FROM q CROSS JOIN c WHERE query_id <> neighbor_id
),
ranked AS (
    SELECT query_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM sims
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= {TOPK_K}
"""


@query(
    "similarity_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
               WHERE vec_id < {TOPK_NQUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
    sims AS (
        SELECT query_id, neighbor_id, {sql_cosine('qe', 'ce')} AS cosine
        FROM q, c WHERE query_id <> neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM sims
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM ranked WHERE rank <= {TOPK_K}
    ORDER BY query_id, rank
    """,
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k (the ANN baseline): broadcast the
    query set over the corpus scan; WindowGroupLimit trims each
    partition to k before the final shuffle. Static-SQL form of
    operators.similarity.brute_force_topk (one py4j crossing; identical
    plan — the rank<=k filter over the window still plans the
    WindowGroupLimit pushdown)."""
    ensure_views(spark, sf_dir, "embeddings")
    return sorted_small(spark.sql(_TOPK_SQL), "query_id", "rank")


@query(
    "similarity_ivf_ann",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS centroid_id, embedding AS centroid_vec
        FROM embeddings WHERE vec_id % {IVF_CENTROID_STRIDE} = 0
    ),
    corpus AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
          WHERE vec_id < {TOPK_NQUERIES}),
    corpus_assign AS (
        SELECT neighbor_id, centroid_id AS bucket FROM (
            SELECT c.neighbor_id, cent.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY c.neighbor_id
                       ORDER BY {sql_cosine('c.ce', 'cent.centroid_vec')} DESC,
                                cent.centroid_id) AS rk
            FROM corpus c, cent
        ) WHERE rk = 1
    ),
    query_probes AS (
        SELECT query_id, centroid_id AS bucket FROM (
            SELECT q.query_id, cent.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY {sql_cosine('q.qe', 'cent.centroid_vec')} DESC,
                                cent.centroid_id) AS rk
            FROM q, cent
        ) WHERE rk <= {IVF_NPROBE}
    ),
    sims AS (
        SELECT p.query_id, a.neighbor_id, {sql_cosine('q.qe', 'c.ce')} AS cosine
        FROM query_probes p
        JOIN corpus_assign a ON a.bucket = p.bucket
        JOIN q ON q.query_id = p.query_id
        JOIN corpus c ON c.neighbor_id = a.neighbor_id
        WHERE p.query_id <> a.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM sims
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM ranked WHERE rank <= {TOPK_K}
    ORDER BY query_id, rank
    """,
)
def similarity_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate NN — the scale path: probe nprobe=2 of
    the deterministic-subsample centroids, exact cosine only within the
    probed buckets. Fully deterministic (subsample centroids + tie
    breaks), so unlike most ANN this one IS oracle-checkable."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % IVF_CENTROID_STRIDE == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    queries = emb.filter(F.col("vec_id") < TOPK_NQUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
    )
    return (
        ivf_topk(queries, corpus, centroids, k=TOPK_K, nprobe=IVF_NPROBE)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .transform(lambda d: sorted_small(d, "query_id", "rank"))
    )


@query(
    "similarity_kmeans_assign",
    oracle=f"""
    WITH corpus AS (SELECT vec_id AS vid, embedding AS ve FROM embeddings),
    cent0 AS (
        SELECT vec_id AS centroid_id, embedding AS centroid_vec
        FROM embeddings WHERE vec_id % {KMEANS_STRIDE} = 0
    ),
    assign1 AS ({_sql_assign('corpus', 'cent0')}),
    cent1 AS ({sql_centroid_update('corpus', 'assign1')}),
    assign2 AS ({_sql_assign('corpus', 'cent1')})
    SELECT vid, bucket FROM assign2 ORDER BY vid
    """,
)
def similarity_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One oracle-checkable Lloyd iteration: stride-seeded centroids
    (plain id modulo — map-only, no global sort), broadcast nearest-
    centroid assignment, DECIMAL-mean centroid update (bit-identical
    across engines, see centroid_update_exact), then re-assignment.
    The production multi-iteration path is operators.similarity.
    train_centroids; this query pins its per-iteration semantics.

    r17: the corpus fans out hashed on vid ahead of the two assignment
    passes (guide §2.5 "one huge unsplittable file" + the r16 minhash
    doc_id-fan precedent): the broadcast-argmax probe inherits the
    scan's task layout, and a one-row-group file serializes ~n*k
    interpreted dot folds onto ONE core. Hash-by-vid (deterministic,
    retry-safe) buys fold parallelism AND pre-clusters every downstream
    vid keying — the argmax groupBy, the centroid-update join — so no
    further exchange of the vectors is needed. Values are unchanged:
    the per-pair folds are row-local and the centroid means are
    DECIMAL sums (order-independent by construction)."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("ve")
    ).repartition(fanout_width(spark), "vid")
    cent0 = stride_centroids(corpus, KMEANS_STRIDE)
    assign1 = assign_buckets(corpus, cent0, "vid", "ve")
    cent1 = centroid_update_exact(corpus, assign1)
    assign2 = assign_buckets(corpus, cent1, "vid", "ve")
    return assign2.select("vid", "bucket").orderBy("vid")


DEDUP_COS_STRIDE = 40
DEDUP_COS_NPROBE = 2


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH perturbed AS (
        SELECT vec_id + 1000000 AS vec_id,
               list_transform(generate_series(1, len(embedding)),
                   i -> CAST(CAST(embedding[i] AS DOUBLE)
                        + 0.02 * ((i % 3) - 1) AS FLOAT)) AS embedding
        FROM embeddings WHERE vec_id % 20 = 0
    ),
    corpus AS (
        SELECT vec_id, {sql_unit_normalize('embedding')} AS en
        FROM (SELECT vec_id, embedding FROM embeddings
              UNION ALL SELECT vec_id, embedding FROM perturbed)
    ),
    cent AS (
        SELECT vec_id AS centroid_id, en AS cvec FROM corpus
        WHERE vec_id % {DEDUP_COS_STRIDE} = 0 AND vec_id < 1000000
    ),
    probes AS (
        SELECT vec_id, centroid_id AS bucket FROM (
            SELECT c.vec_id, t.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY c.vec_id
                       ORDER BY {sql_dot('c.en', 't.cvec')} DESC,
                                t.centroid_id) AS rk
            FROM corpus c, cent t
        ) WHERE rk <= {DEDUP_COS_NPROBE}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM probes a JOIN probes b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    ),
    sims AS (
        SELECT id_a, id_b, {sql_dot('ca.en', 'cb.en')} AS cosine
        FROM cand
        JOIN corpus ca ON ca.vec_id = id_a
        JOIN corpus cb ON cb.vec_id = id_b
    )
    SELECT id_a, id_b, cosine FROM sims
    WHERE cosine >= 0.9
    ORDER BY id_a, id_b
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (north_star dedup family): pairs with
    cosine >= 0.9. Random unit vectors concentrate near cosine 0, so
    the query injects perturbed mutants (vec_id+1e6) that land near
    0.999 — every mutant pair must surface, no random pair may.

    Bucketed, not all-pairs: each vector probes its ``nprobe`` nearest
    IVF buckets (deterministic stride centroids, same index shape as
    ``similarity_ivf_ann``); candidate pairs are vectors sharing a
    probed bucket, exact-verified with one dot fold over the
    unit-normalized (materialized) corpus. Near-identical vectors rank
    centroids near-identically, so dup pairs co-bucket while the pair
    stage shrinks from n² to ~n·bucket_size·nprobe — the same
    contract the text near-dup family gets from LSH banding. The
    oracle replays the identical blocking, so the check is exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    perturbed = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.size("embedding")),
            lambda i: (
                F.element_at("embedding", i).cast("double")
                + 0.02 * ((i % 3) - 1)
            ).cast("float"),
        ).alias("embedding"),
    )
    corpus = materialize(
        emb.select("vec_id", "embedding")
        .unionByName(perturbed)
        .select("vec_id", unit_normalize("embedding").alias("en"))
    )
    cents = corpus.filter(
        (F.col("vec_id") % DEDUP_COS_STRIDE == 0) & (F.col("vec_id") < 1000000)
    ).select(F.col("vec_id").alias("centroid_id"), F.col("en").alias("cvec"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("centroid_id"))
    probes = (
        corpus.crossJoin(F.broadcast(cents))
        .select("vec_id", "centroid_id", dot("en", "cvec").alias("sim"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= DEDUP_COS_NPROBE)
        .select("vec_id", F.col("centroid_id").alias("bucket"))
    )
    pa = probes.select(F.col("vec_id").alias("id_a"), "bucket")
    pb = probes.select(F.col("vec_id").alias("id_b"), "bucket")
    cand = (
        pa.join(pb, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ca = corpus.select(F.col("vec_id").alias("id_a"), F.col("en").alias("ea"))
    cb = corpus.select(F.col("vec_id").alias("id_b"), F.col("en").alias("eb"))
    return (
        cand.join(ca, "id_a")
        .join(cb, "id_b")
        .select("id_a", "id_b", dot("ea", "eb").alias("cosine"))
        .filter(F.col("cosine") >= 0.9)
        .transform(lambda d: sorted_small(d, "id_a", "id_b"))
    )


# ----------------------------------------------------- SRP-LSH near-dup
#
# The LSH-bucketed variant of the embedding near-dup scale path (the
# companion to dedup_embedding_cosine's IVF-bucketed blocking): 32
# signed-random-projection bits per vector, banded 4 x 8, candidates =
# pairs sharing a band, exact cosine verify. Hyperplane weights are
# derived from the portable md5 hash64 (integer-valued, bit-identical
# on both engines), so the ORACLE REPLAYS THE ENTIRE INDEX — weights,
# signatures, banding, and verify.

SRP_N_BITS = 32
SRP_N_BANDS = 4
SRP_BAND_BITS = 8
# SRP_W_MOD / SRP_W_OFF (weights in [-1000, 1000], integer-valued) are
# imported from operators.similarity — ONE definition for the query's
# oracle-replayed hyperplanes and the operator signers / persisted
# indexes, so a retune cannot desynchronize them.
SRP_THRESH = 0.9

_SRP_SPARK_SQL = f"""
WITH base AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000 AS vec_id,
           transform(sequence(1, size(embedding)),
               i -> CAST(CAST(element_at(embedding, i) AS DOUBLE)
                    + 0.02 * ((i % 3) - 1) AS FLOAT)) AS embedding
    FROM embeddings WHERE vec_id % 20 = 0
),
corpus AS (
    SELECT vec_id,
           transform(embedding, x -> CAST(x AS DOUBLE) /
               sqrt(aggregate(embedding, 0.0D,
                   (acc, e) -> acc + CAST(e AS DOUBLE) * CAST(e AS DOUBLE)))) AS en
    FROM base
),
w AS (
    SELECT transform(sequence(0, {SRP_N_BITS - 1}), b ->
             transform(sequence(1, d), j ->
               CAST(conv(substring(md5(concat('srp:', CAST(b AS STRING),
                    ':', CAST(j AS STRING))), 1, 15), 16, 10) AS BIGINT)
               % {SRP_W_MOD} - {SRP_W_OFF})) AS wm
    FROM (SELECT size(embedding) AS d FROM embeddings
          WHERE vec_id = (SELECT min(vec_id) FROM embeddings))
),
sigs AS (
    -- REPARTITION before the 32 x dim signature folds: the fixture
    -- parquet is a single row group, and fusing this CPU-dense kernel
    -- into the scan would serialize it on one core (the narrow-scan
    -- pattern, plans.scale.fanout_width)
    SELECT /*+ BROADCAST(w) */ vec_id, en,
           transform(sequence(0, {SRP_N_BANDS - 1}), b ->
             aggregate(sequence(1, {SRP_BAND_BITS}), 0, (acc, k) ->
               acc * 2 + CASE WHEN aggregate(
                   zip_with(en, element_at(wm, b * {SRP_BAND_BITS} + k),
                            (e, wt) -> e * CAST(wt AS DOUBLE)),
                   0.0D, (acc2, x) -> acc2 + x) >= 0.0D
                 THEN 1 ELSE 0 END)) AS band_vals
    FROM (SELECT /*+ REPARTITION({{fan}}) */ * FROM corpus) CROSS JOIN w
),
bands AS (
    SELECT vec_id, band, band_val
    FROM sigs LATERAL VIEW posexplode(band_vals) t AS band, band_val
),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_val = b.band_val
     AND a.vec_id < b.vec_id
),
sims AS (
    SELECT id_a, id_b,
           aggregate(zip_with(ca.en, cb.en, (x, y) -> x * y), 0.0D,
                     (acc, v) -> acc + v) AS cosine
    FROM cand
    JOIN corpus ca ON ca.vec_id = id_a
    JOIN corpus cb ON cb.vec_id = id_b
)
SELECT id_a, id_b, cosine FROM sims WHERE cosine >= {SRP_THRESH}
ORDER BY id_a, id_b
"""


@query(
    "dedup_embedding_srp",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id,
               list_transform(generate_series(1, len(embedding)),
                   i -> CAST(CAST(embedding[i] AS DOUBLE)
                        + 0.02 * ((i % 3) - 1) AS FLOAT)) AS embedding
        FROM embeddings WHERE vec_id % 20 = 0
    ),
    corpus AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE) /
                   sqrt(list_sum(list_transform(embedding,
                       e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))) AS en
        FROM base
    ),
    w AS (
        SELECT list_transform(generate_series(0, {SRP_N_BITS - 1}), b ->
                 list_transform(generate_series(1, d), j ->
                   (('0x' || substr(md5('srp:' || CAST(b AS VARCHAR)
                        || ':' || CAST(j AS VARCHAR)), 1, 15))::BIGINT)
                   % {SRP_W_MOD} - {SRP_W_OFF})) AS wm
        FROM (SELECT len(embedding) AS d FROM embeddings
              WHERE vec_id = (SELECT min(vec_id) FROM embeddings))
    ),
    sigs AS (
        SELECT vec_id, en,
               list_transform(generate_series(0, {SRP_N_BANDS - 1}), b ->
                 list_sum(list_transform(generate_series(1, {SRP_BAND_BITS}), k ->
                   CAST(pow(2, {SRP_BAND_BITS} - k) AS BIGINT) *
                   CASE WHEN list_sum(list_transform(generate_series(1, len(en)),
                            i -> en[i] * CAST(wm[b * {SRP_BAND_BITS} + k][i] AS DOUBLE)))
                        >= 0.0 THEN 1 ELSE 0 END))) AS band_vals
        FROM corpus CROSS JOIN w
    ),
    bands AS (
        SELECT vec_id, i - 1 AS band, band_vals[i] AS band_val
        FROM sigs, (SELECT unnest(generate_series(1, {SRP_N_BANDS})) AS i) t
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_val = b.band_val
         AND a.vec_id < b.vec_id
    ),
    sims AS (
        SELECT id_a, id_b,
               list_sum(list_transform(generate_series(1, len(ca.en)),
                   i -> ca.en[i] * cb.en[i])) AS cosine
        FROM cand
        JOIN corpus ca ON ca.vec_id = id_a
        JOIN corpus cb ON cb.vec_id = id_b
    )
    SELECT id_a, id_b, cosine FROM sims WHERE cosine >= {SRP_THRESH}
    ORDER BY id_a, id_b
    """,
)
def dedup_embedding_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH embedding near-dup — the LSH-bucketed variant of the
    similarity scale path (companion to ``dedup_embedding_cosine``'s
    IVF-bucketed blocking; north_star "an IVF or LSH-bucketed variant").

    Blocking: each vector gets a 32-bit signed-random-projection
    signature (sign of <en, w_b> per hyperplane), banded 4 x 8;
    candidate pairs share at least one band value (the classic
    SimHash/SRP pigeonhole: near-parallel vectors agree on almost
    every sign bit, so some 8-bit band matches, while random pairs
    collide on an 8-bit band with p = 1/256 per band). Exact cosine
    verify over the shared-band candidates — the same mutant-injection
    fixture as the IVF variant, where the blocked result provably
    equals brute force (test-pinned).

    Hyperplanes are NOT floats from an RNG: w(b, j) =
    hash64('srp:b:j') % 2001 - 1000 — integer-valued, derived from the
    repo's portable md5 hash64, so DuckDB replays the ENTIRE index
    build bit-for-bit (weights, signature bits, band values, verify
    cosines) and the oracle check is exact, not statistical.

    Scale shape: the weight matrix is ONE broadcast row (32 x dim
    integers, ~16 KB at dim-64 — the only nested-loop join, build
    side bounded by construction); signatures are a map-side projection
    (no shuffle); the band self-join is a hash join on (band,
    band_val) carrying 4 rows per vector; the verify join
    touches only colliding pairs. Same 100-TB contract as the text
    LSH: no all-pairs stage anywhere. The production signature path is
    :func:`operators.similarity.srp_band_vals_gemm` (sign(en @ W.T) in
    one matmul per batch, agreement-tested against the fold).

    Sizing note (the honest LSH-banding scale caveat): random pairs
    collide on an 8-bit band with p = 1/256, so expected candidate
    volume is ~n^2 * n_bands / 2^band_bits — band_bits is a DESIGN
    constant that must grow with log2(n) (8 bits suits the 2k-row
    fixture; a 1e9-row corpus wants 16-20-bit bands and more of them
    to keep recall), exactly as MinHash's band width does. The
    per-bucket skew cap pattern (lsh_candidate_pairs(max_bucket=...))
    applies unchanged if a degenerate embedding mass collides.
    """
    ensure_views(spark, sf_dir, "embeddings")
    from ..plans.scale import fanout_width

    return spark.sql(_SRP_SPARK_SQL.format(fan=fanout_width(spark)))


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH s AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE)))) AS amax
        FROM embeddings
    ), sc AS (
        SELECT vec_id, embedding,
               CASE WHEN amax = 0 THEN 1.0 ELSE amax / 127.0 END AS qscale
        FROM s
    ), c AS (
        SELECT vec_id, qscale, embedding,
               list_transform(embedding,
                    x -> greatest(-127.0, least(127.0,
                         floor(CAST(x AS DOUBLE) / qscale + 0.5)))) AS codes
        FROM sc
    )
    SELECT vec_id, qscale,
           CAST(len(list_filter(codes, q -> abs(q) = 127.0)) AS BIGINT)
               AS n_saturated,
           list_sum(list_transform(generate_series(1, len(embedding)),
                i -> (CAST(embedding[i] AS DOUBLE) - codes[i] * qscale)
                   * (CAST(embedding[i] AS DOUBLE) - codes[i] * qscale)))
               / len(embedding) AS recon_mse
    FROM c
    ORDER BY vec_id
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard 4× storage
    shrink before ANN indexing: scale = max|x|/127, code =
    floor(x/scale + 0.5) clipped to ±127, reporting per-vector scale,
    saturation count, and reconstruction MSE. Everything is an
    element-wise JVM higher-order projection (no UDF, no shuffle except
    none at all — this is scan→project→sort); at 100 TB the quantized
    codes would be written alongside the fp32 originals in one pass.
    Cross-engine exactness: floor(x+0.5) sidesteps ROUND-semantics
    divergence, max/abs are order-free, and the MSE fold follows the
    verified aggregate==list_sum element order. A kernel A/B times
    ``quantize_int8_hof`` itself, not this query: sorted_small's
    coalesce(1) fuses into the projection and runs the whole scan as
    one task."""
    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_int8_hof(emb, vec_id="vec_id", vec_col="embedding").transform(
        lambda d: sorted_small(d, "vec_id")
    )


SEMDEDUP_STRIDE = 40
SEMDEDUP_TAU = 0.9


@query(
    "dedup_semantic_keep",
    oracle=f"""
    WITH perturbed AS (
        SELECT vec_id + 1000000 AS vec_id,
               list_transform(generate_series(1, len(embedding)),
                   i -> CAST(CAST(embedding[i] AS DOUBLE)
                        + 0.02 * ((i % 3) - 1) AS FLOAT)) AS embedding
        FROM embeddings WHERE vec_id % 20 = 0
    ),
    corpus AS (
        SELECT vec_id, {sql_unit_normalize('embedding')} AS en
        FROM (SELECT vec_id, embedding FROM embeddings
              UNION ALL SELECT vec_id, embedding FROM perturbed)
    ),
    c AS (SELECT vec_id AS vid, en AS ve FROM corpus),
    cent AS (
        SELECT vec_id AS centroid_id, en AS centroid_vec FROM corpus
        WHERE vec_id % {SEMDEDUP_STRIDE} = 0 AND vec_id < 1000000
    ),
    assigned AS ({_sql_assign('c', 'cent')}),
    wb AS (
        SELECT co.vec_id, co.en, a.bucket
        FROM corpus co JOIN assigned a ON a.vid = co.vec_id
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id AS did
        FROM wb a JOIN wb b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         AND {sql_dot('a.en', 'b.en')} >= {SEMDEDUP_TAU}
    )
    SELECT wb.bucket,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CASE WHEN d.did IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
           CAST(SUM(CASE WHEN d.did IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM wb LEFT JOIN dropped d ON d.did = wb.vec_id
    GROUP BY wb.bucket
    ORDER BY wb.bucket
    """,
)
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the corpus
    (nearest stride centroid — the deterministic, oracle-replayable
    stand-in for the k-means index the production path trains), then
    WITHIN each cluster drop every item whose cosine to a lower-id
    cluster-mate reaches tau=0.9, keeping the earliest representative.
    Reports per-cluster item/dropped/kept counts.

    This is the standard single-pass simplification of SemDeDup's
    iterative keep-list (drop-if-similar-to-any-lower-id vs
    drop-if-similar-to-a-KEPT-item): deterministic, SQL-expressible,
    and it upper-bounds the true drop set. Scale shape: the pair stage
    is cluster-bucketed (cluster size ~ stride), never all-pairs —
    measured ~flat wall at 10x corpus (BENCH.md round 12, the
    decomposed slope table). The assignment is one broadcast-centroid
    pass, the same index build similarity_ivf_ann probes; with a
    corpus-proportional codebook its flat forms are O(N*K) by
    construction — ``assign_buckets_gemm`` absorbs that at any
    driver-sized codebook, and past the driver budget
    ``operators.similarity.assign_buckets_ivf`` is the fully
    distributed two-level regime (same measurement).

    r17: the materialized corpus fans out hashed on vec_id (guide §2.5;
    the r16 minhash doc_id-fan precedent): the one-row-group scan
    otherwise serializes the normalize folds, the broadcast-argmax
    assignment, and the in-bucket pair folds onto single tasks. Values
    unchanged — every fold is row- or pair-local."""
    emb = load_table(spark, sf_dir, "embeddings")
    perturbed = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.size("embedding")),
            lambda i: (
                F.element_at("embedding", i).cast("double")
                + 0.02 * ((i % 3) - 1)
            ).cast("float"),
        ).alias("embedding"),
    )
    corpus = materialize(
        emb.select("vec_id", "embedding")
        .unionByName(perturbed)
        .repartition(fanout_width(spark), "vec_id")
        .select("vec_id", unit_normalize("embedding").alias("en"))
    )
    cents = corpus.filter(
        (F.col("vec_id") % SEMDEDUP_STRIDE == 0) & (F.col("vec_id") < 1000000)
    ).select(F.col("vec_id").alias("centroid_id"), F.col("en").alias("centroid_vec"))
    assigned = assign_buckets(
        corpus.select(F.col("vec_id").alias("vid"), F.col("en").alias("ve")), cents
    )
    wb = corpus.join(assigned, corpus.vec_id == assigned.vid).select(
        "vec_id", "en", "bucket"
    )
    a = wb.select(
        F.col("vec_id").alias("id_a"), F.col("en").alias("ea"), "bucket"
    )
    b = wb.select(
        F.col("vec_id").alias("id_b"), F.col("en").alias("eb"), "bucket"
    )
    dropped = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(dot("ea", "eb") >= SEMDEDUP_TAU)
        .select(F.col("id_b").alias("did"))
        .distinct()
    )
    return (
        wb.join(dropped, wb.vec_id == dropped.did, "left")
        .groupBy("bucket")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT) AS n_items"),
            F.expr(
                "CAST(SUM(CASE WHEN did IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)"
                " AS n_dropped"
            ),
            F.expr(
                "CAST(SUM(CASE WHEN did IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
                " AS n_kept"
            ),
        )
        .transform(lambda d: sorted_small(d, "bucket"))
    )
