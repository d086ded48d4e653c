"""Corpus-curation queries: repetition filtering, PII scanning, and
benchmark decontamination — the remaining standard stages of a
large-scale training-data pipeline (alongside dedup / similarity /
quality in llm_dedup.py, llm_similarity.py, llm_text.py).

Scale design (100 TB corpus):
- repetition stats: per-row array expressions (no shuffle) for n-gram
  duplication fractions; the top-token mode is a two-level groupBy on
  (doc_id, token) then doc_id — both map-side combined, both keyed by
  doc_id so AQE coalesces them into one exchange reuse chain. No joins.
- PII scan: a union of per-table projections scanned once each; every
  regex runs JVM-side in one codegen'd projection, and the per-type
  aggregate is a 4-row result.
- decontamination: the eval set is tiny by construction (benchmarks are
  thousands of docs, the corpus is billions), so its distinct-n-gram
  relation broadcasts; the corpus side is one shuffle on (doc_id,
  eval_id) for the overlap count. Never corpus x corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.text import (
    SQL_HASH64,
    SQL_TOKENS,
    hash64,
    sql_word_shingles,
    tokens,
    word_shingles,
)
from ..operators.dedup import shingle_set
from ..plans.scale import materialize, sorted_small
from .registry import query

# Gopher-style repetition thresholds (Rae et al. 2021 use 0.2 for
# duplicate-n-gram character fractions; we apply them to count
# fractions — the mechanism, not the paper's exact constants).
DUP_2GRAM_MAX = 0.2
TOP_TOKEN_MAX = 0.2

# Deterministic eval-set selector for the decontamination demo: every
# 97th document plays the "benchmark" role. In production this is a
# real benchmark table; the query shape (tiny side broadcast, corpus
# side streamed) is identical.
EVAL_MOD = 97
DECON_MIN_SHARED = 2


@query(
    "text_repetition_stats",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {SQL_TOKENS.format(expr='text')} AS t
        FROM documents
    ),
    base AS (
        SELECT doc_id,
               len(t) AS n_tokens,
               len({sql_word_shingles('t', 2)}) AS n_2grams,
               len(list_distinct({sql_word_shingles('t', 2)})) AS n_distinct_2grams,
               len({sql_word_shingles('t', 3)}) AS n_3grams,
               len(list_distinct({sql_word_shingles('t', 3)})) AS n_distinct_3grams
        FROM toks
        WHERE len(t) > 0
    ),
    tok_counts AS (
        SELECT doc_id, token, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(t) AS token FROM toks)
        GROUP BY doc_id, token
    ),
    top AS (
        SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_token_count
        FROM tok_counts GROUP BY doc_id
    )
    SELECT b.doc_id,
           b.n_tokens,
           CASE WHEN b.n_2grams > 0
                THEN 1.0 - CAST(b.n_distinct_2grams AS DOUBLE) / b.n_2grams
                ELSE 0.0 END AS dup_2gram_frac,
           CASE WHEN b.n_3grams > 0
                THEN 1.0 - CAST(b.n_distinct_3grams AS DOUBLE) / b.n_3grams
                ELSE 0.0 END AS dup_3gram_frac,
           t.top_token_count,
           CAST(t.top_token_count AS DOUBLE) / b.n_tokens AS top_token_frac,
           ((b.n_2grams > 0 AND
             1.0 - CAST(b.n_distinct_2grams AS DOUBLE) / b.n_2grams > {DUP_2GRAM_MAX})
            OR CAST(t.top_token_count AS DOUBLE) / b.n_tokens > {TOP_TOKEN_MAX})
               AS flagged
    FROM base b JOIN top t USING (doc_id)
    ORDER BY doc_id
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate 2-/3-gram
    fractions and the most-frequent-token share, plus the composite
    ``flagged`` filter bit.

    The n-gram fractions are pure array expressions (zero shuffle,
    whole-stage codegen). The token mode needs true per-token counts, so
    it explodes and aggregates twice — (doc_id, token) then doc_id —
    both partial-aggregated map-side; the join back to the array-stat
    side is keyed on doc_id, the same key the aggregate already
    shuffled on, so no extra exchange of the large side."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens("text").alias("t")).filter(F.size("t") > 0)
    g2 = word_shingles(F.col("t"), 2)
    g3 = word_shingles(F.col("t"), 3)
    base = toks.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.size(g2).alias("n_2grams"),
        F.size(F.array_distinct(g2)).alias("n_distinct_2grams"),
        F.size(g3).alias("n_3grams"),
        F.size(F.array_distinct(g3)).alias("n_distinct_3grams"),
    )
    top = (
        toks.select("doc_id", F.explode("t").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_token_count"))
    )
    dup2 = F.when(
        F.col("n_2grams") > 0,
        F.lit(1.0) - F.col("n_distinct_2grams").cast("double") / F.col("n_2grams"),
    ).otherwise(F.lit(0.0))
    dup3 = F.when(
        F.col("n_3grams") > 0,
        F.lit(1.0) - F.col("n_distinct_3grams").cast("double") / F.col("n_3grams"),
    ).otherwise(F.lit(0.0))
    top_frac = F.col("top_token_count").cast("double") / F.col("n_tokens")
    return (
        base.join(top, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            dup2.alias("dup_2gram_frac"),
            dup3.alias("dup_3gram_frac"),
            "top_token_count",
            top_frac.alias("top_token_frac"),
            ((dup2 > DUP_2GRAM_MAX) | (top_frac > TOP_TOKEN_MAX)).alias("flagged"),
        )
        .transform(lambda df: sorted_small(df, "doc_id"))
    )


# Patterns shared verbatim with the oracle; RE2 (DuckDB) and Java
# (Spark) agree on this subset (no backrefs, no lookaround).
PII_DIGIT_RUN = "[0-9]{6,}"
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"


@query(
    "pii_redact_scan",
    oracle=f"""
    WITH payloads AS (
        SELECT 'customer_name' AS record_type, c_name AS payload FROM customer
        UNION ALL
        SELECT 'supplier_name', s_name FROM supplier
        UNION ALL
        SELECT 'event_props', props FROM events
        UNION ALL
        SELECT 'document_text', text FROM documents
    ),
    scanned AS (
        SELECT record_type, payload,
               len(regexp_extract_all(payload, '{PII_DIGIT_RUN}')) AS n_digit,
               len(regexp_extract_all(payload, '{PII_EMAIL}')) AS n_email,
               regexp_replace(regexp_replace(payload, '{PII_DIGIT_RUN}', '<NUM>', 'g'),
                              '{PII_EMAIL}', '<EMAIL>', 'g') AS redacted
        FROM payloads
    )
    SELECT record_type,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           CAST(SUM(CASE WHEN n_digit + n_email > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged,
           CAST(SUM(n_digit) AS BIGINT) AS n_digit_matches,
           CAST(SUM(n_email) AS BIGINT) AS n_email_matches,
           CAST(COUNT(DISTINCT payload) AS BIGINT) AS n_distinct_raw,
           CAST(COUNT(DISTINCT redacted) AS BIGINT) AS n_distinct_redacted
    FROM scanned
    GROUP BY record_type
    ORDER BY record_type
    """,
)
def pii_redact_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction audit across heterogeneous payload columns
    (names, JSON props, document text): per record type, how many
    records carry identifier-shaped spans (long digit runs, emails),
    total matches, and the distinct-value collapse the redaction
    achieves (customer/supplier names all collapse to one redacted
    form — the k-anonymity effect a curation pipeline reports before
    releasing data).

    Regexes evaluate JVM-side inside one projection per source table;
    the union is a no-shuffle concatenation of four column-pruned scans
    and the final aggregate is per-record-type (4 groups)."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.lit("customer_name").alias("record_type"), F.col("c_name").alias("payload")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier_name").alias("record_type"), F.col("s_name").alias("payload")
    )
    ev = load_table(spark, sf_dir, "events").select(
        F.lit("event_props").alias("record_type"), F.col("props").alias("payload")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        F.lit("document_text").alias("record_type"), F.col("text").alias("payload")
    )
    payloads = cust.unionByName(supp).unionByName(ev).unionByName(docs)
    n_digit = F.regexp_count("payload", F.lit(PII_DIGIT_RUN))
    n_email = F.regexp_count("payload", F.lit(PII_EMAIL))
    redacted = F.regexp_replace(
        F.regexp_replace("payload", PII_DIGIT_RUN, "<NUM>"), PII_EMAIL, "<EMAIL>"
    )
    return (
        payloads.select(
            "record_type",
            "payload",
            n_digit.alias("n_digit"),
            n_email.alias("n_email"),
            redacted.alias("redacted"),
        )
        .groupBy("record_type")
        .agg(
            F.count("*").alias("n_records"),
            F.sum(((F.col("n_digit") + F.col("n_email")) > 0).cast("int"))
            .cast("bigint")
            .alias("n_flagged"),
            F.sum("n_digit").cast("bigint").alias("n_digit_matches"),
            F.sum("n_email").cast("bigint").alias("n_email_matches"),
            F.countDistinct("payload").alias("n_distinct_raw"),
            F.countDistinct("redacted").alias("n_distinct_redacted"),
        )
        .transform(lambda df: sorted_small(df, "record_type"))
    )


def _sql_decon_shingles(src_filter: str) -> str:
    toks = SQL_TOKENS.format(expr="text")
    return f"""
        SELECT doc_id, {SQL_HASH64.format(expr='g')} AS h
        FROM (
            SELECT doc_id, unnest(list_distinct({sql_word_shingles('t', 3)})) AS g
            FROM (SELECT doc_id, {toks} AS t FROM documents WHERE {src_filter})
        )
    """


@query(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH corpus_sh AS ({_sql_decon_shingles(f'doc_id % {EVAL_MOD} <> 0')}),
    eval_sh AS (
        SELECT doc_id AS eval_id, h
        FROM ({_sql_decon_shingles(f'doc_id % {EVAL_MOD} = 0')})
    ),
    doc_n AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
        FROM corpus_sh GROUP BY doc_id
    ),
    hits AS (
        SELECT c.doc_id, e.eval_id, CAST(COUNT(*) AS BIGINT) AS shared
        FROM corpus_sh c JOIN eval_sh e USING (h)
        GROUP BY c.doc_id, e.eval_id
    ),
    best AS (
        SELECT doc_id, eval_id, shared,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY shared DESC, eval_id) AS rn
        FROM hits
        WHERE shared >= {DECON_MIN_SHARED}
    )
    SELECT b.doc_id, b.eval_id, b.shared,
           CAST(b.shared AS DOUBLE) / d.n_grams AS containment
    FROM best b JOIN doc_n d USING (doc_id)
    WHERE rn = 1
    ORDER BY doc_id
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every corpus document, the eval-set
    document it shares the most distinct 3-grams with (ties broken by
    smallest eval id), reported with the containment ratio
    shared/|corpus-doc 3-grams|. Documents below {DECON_MIN_SHARED}
    shared 3-grams are clean and omitted.

    The eval side is broadcast (benchmarks are tiny next to a training
    corpus); the corpus shingle relation streams through a map-side hash
    probe of it, then one shuffle on (doc_id, eval_id) counts overlaps.
    The shingle relation is materialized because it feeds both the overlap
    join and the per-doc size normalizer."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % EVAL_MOD != 0)
    eval_docs = d.filter(F.col("doc_id") % EVAL_MOD == 0)
    corpus_sh = materialize(shingle_set(corpus, k=3))
    eval_sh = shingle_set(eval_docs, k=3).select(
        F.col("doc_id").alias("eval_id"), "h"
    )
    doc_n = corpus_sh.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (
        corpus_sh.join(F.broadcast(eval_sh), "h")
        .groupBy("doc_id", "eval_id")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= DECON_MIN_SHARED)
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("shared"), F.asc("eval_id"))
    best = hits.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.join(doc_n, "doc_id")
        .select(
            "doc_id",
            "eval_id",
            "shared",
            (F.col("shared").cast("double") / F.col("n_grams")).alias("containment"),
        )
        .transform(lambda df: sorted_small(df, "doc_id"))
    )


# ------------------------------------------------------- boilerplate mining

#: shared Spark-SQL trigram relation: DISTINCT (doc_id, trigram) per doc.
_TG_SQL = """
toks AS (
    SELECT doc_id, filter(split(text, '\\\\s+'), t -> t <> '') AS t
    FROM documents
),
tg AS (
    SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               explode(CASE WHEN size(t) < 3 THEN array()
                       ELSE transform(sequence(1, size(t) - 2),
                            i -> concat_ws(' ', element_at(t, i),
                                 element_at(t, i + 1), element_at(t, i + 2)))
                       END) AS g
        FROM toks
    )
)
"""

_FREQ_NGRAMS_SQL = f"""
WITH {_TG_SQL}
SELECT g AS ngram, COUNT(*) AS doc_freq
FROM tg GROUP BY g
ORDER BY doc_freq DESC, ngram
LIMIT 20
"""

#: DuckDB twin of the trigram relation.
_SQL_TG_DUCK = """
toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
    FROM documents
),
tg AS (
    SELECT DISTINCT doc_id,
           unnest(CASE WHEN len(t) < 3 THEN []
                  ELSE list_transform(generate_series(1, len(t) - 2),
                       i -> concat_ws(' ', t[i], t[i+1], t[i+2])) END) AS g
    FROM toks
)
"""


@query(
    "text_frequent_ngrams",
    oracle=f"""
    WITH {_SQL_TG_DUCK}
    SELECT g AS ngram, COUNT(*) AS doc_freq
    FROM tg GROUP BY g
    ORDER BY doc_freq DESC, ngram
    LIMIT 20
    """,
)
def text_frequent_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate candidate mining: the 20 word-trigrams appearing in
    the most documents (document frequency over DISTINCT per-doc
    trigrams — a trigram repeated inside one doc counts once). The
    C4/RefinedWeb-style signal for templated text: headers, footers,
    cookie banners all surface here first.

    Scale shape: per-doc distinct happens in the same shuffle as the
    df groupBy (partial aggregation map-side); top-20 is a TakeOrdered,
    never a global sort."""
    from ..catalog import ensure_views

    ensure_views(spark, sf_dir, "documents")
    return spark.sql(_FREQ_NGRAMS_SQL)


_BOILERPLATE_SQL = f"""
WITH {_TG_SQL},
df AS (SELECT g, COUNT(*) AS doc_freq FROM tg GROUP BY g),
tot AS (
    SELECT GREATEST(CAST(3 AS BIGINT),
                    CAST(CEIL(0.01D * COUNT(*)) AS BIGINT)) AS thr
    FROM documents
),
freq AS (SELECT g FROM df CROSS JOIN tot WHERE doc_freq >= thr)
SELECT /*+ BROADCAST(f) */ t.doc_id,
       COUNT(*) AS n_ngrams,
       COUNT(f.g) AS n_common,
       CAST(COUNT(f.g) AS DOUBLE) / COUNT(*) AS common_ratio
FROM tg t LEFT JOIN freq f ON t.g = f.g
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


@query(
    "curate_boilerplate_ratio",
    oracle=f"""
    WITH {_SQL_TG_DUCK},
    df AS (SELECT g, COUNT(*) AS doc_freq FROM tg GROUP BY g),
    tot AS (
        SELECT GREATEST(CAST(3 AS BIGINT),
                        CAST(CEIL(0.01 * COUNT(*)) AS BIGINT)) AS thr
        FROM documents
    ),
    freq AS (SELECT g FROM df CROSS JOIN tot WHERE doc_freq >= thr)
    SELECT t.doc_id,
           COUNT(*) AS n_ngrams,
           COUNT(f.g) AS n_common,
           CAST(COUNT(f.g) AS DOUBLE) / COUNT(*) AS common_ratio
    FROM tg t LEFT JOIN freq f ON t.g = f.g
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def curate_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate signal: the fraction of a doc's distinct
    trigrams that are corpus-common (document frequency >= max(3,
    1% of docs)) — the filter stage that pairs with
    ``text_frequent_ngrams``'s mining stage; docs above a ratio cutoff
    get dropped or line-cleaned in a production pipeline.

    Scale shape: the frequent set is tiny by construction (df threshold
    scales with corpus size) so it BROADCASTS back into the trigram
    scan; the corpus pays two passes (df aggregation + probe), both
    map-side combined, no corpus x corpus join anywhere. Docs with
    fewer than 3 tokens have no trigrams and drop out on both engines."""
    from ..catalog import ensure_views

    ensure_views(spark, sf_dir, "documents")
    return spark.sql(_BOILERPLATE_SQL)
