"""Text-analysis queries (north_star: language-ID, quality scoring,
token counting, document fingerprinting) over the documents table.

All JVM builtins — regex, higher-order array functions, window frames —
so the hot path is map-side and codegen'd; nothing here shuffles except
the final small aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import ensure_views, load_table
from ..functions.text import hash64, tokens
from ..plans.scale import fanout_width, materialize, sorted_small
from .registry import query

# Stopword lists for the n-gram/stopword language heuristic. The synthetic
# corpus is English-ish for every label, so the *mechanism* is what the
# oracle checks.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "was", "it", "for"),
    "de": ("der", "die", "das", "und", "nicht", "ist", "ich", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "je", "pas", "que"),
    "es": ("el", "los", "las", "y", "es", "un", "una", "no", "que", "por"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "就", "不", "人"),
}


def _sql_stopword_values() -> str:
    rows = []
    for lang, words in sorted(LANG_STOPWORDS.items()):
        rows.extend(f"('{lang}', '{w}')" for w in words)
    return ", ".join(rows)


def _sql_en_list() -> str:
    return "[" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"]) + "]"


_PIPELINE_SQL = f"""
WITH toks AS (
    SELECT doc_id, lang, source, text,
           filter(split(text, '\\\\s+'), t -> t <> '') AS t
    FROM documents
),
quality AS (
    SELECT doc_id, lang, source, text FROM toks
    WHERE size(t) >= 10 AND size(t) <= 5000
      AND CAST(size(filter(t, x -> array_contains(
              array({", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])}),
              lower(x)))) AS DOUBLE) / size(t) <= 0.6
),
hashed AS (
    SELECT doc_id, lang, source,
           sha2(trim(regexp_replace(lower(text), '\\\\s+', ' ')), 256)
               AS content_hash
    FROM quality
),
survivors AS (
    -- r16 (guide §2.3 "aggregate before you shuffle"): the survivor
    -- pick (row with MIN doc_id per content_hash) was a ROW_NUMBER
    -- window, which ships EVERY hashed row through the exchange and
    -- sorts each group; min_by is a declarative aggregate with
    -- map-side partial combine, so the exchange carries one partial
    -- row per (map task, hash). doc_id is unique, so min_by is
    -- deterministic and picks the identical row.
    SELECT min_by(lang, doc_id) AS lang, min_by(source, doc_id) AS source
    FROM hashed
    GROUP BY content_hash
)
SELECT source, lang, COUNT(*) AS n_docs
FROM survivors
GROUP BY source, lang
"""


_SPARK_EN_ARRAY = "array(" + ", ".join(
    f"'{w}'" for w in LANG_STOPWORDS["en"]
) + ")"

#: ``{fan}`` = plans.scale.fanout_width at call time: the corpus scan
#: is one task per row group, and this projection (two HOF stopword
#: filters + four regexes per doc) is the query's entire cost — fanning
#: the raw rows out first parallelizes it (0.65s -> 0.35s at sf0.1).
#:
#: Round 16 (guide §2.4/§4.4): two plan fixes, same results.
#: 1. The old ``WHERE size(t) > 0`` was pushed below the repartition and
#:    inlined, so the tokenize HOF ran TWICE per row — once
#:    single-threaded in the scan stage, once post-exchange. The filter
#:    is now the equivalent cheap scan-side predicate ``text RLIKE
#:    '\\S'`` (a row survives iff it holds one non-whitespace char,
#:    exactly when filter(split(text,'\\s+'), t -> t <> '') is
#:    non-empty; NULL text fails both), and the tokenize runs once,
#:    parallel.
#: 2. The fan-out is REPARTITION_BY_RANGE(doc_id) instead of
#:    round-robin, so the final ORDER BY is a partition-local SORT BY:
#:    one exchange instead of two, and the range sampler reads only the
#:    cheap scan side (the old global sort's sampler re-executed the
#:    whole regex projection). Output order is identical (range
#:    partitions are ascending in doc_id, rows sorted within).
_QUALITY_SQL = f"""
WITH toks AS (
    SELECT doc_id, lang, source, text,
           filter(split(text, '\\\\s+'), t -> t <> '') AS t
    FROM (SELECT /*+ REPARTITION_BY_RANGE({{fan}}, doc_id) */ * FROM documents
          WHERE text RLIKE '\\\\S')
)
SELECT doc_id, lang, source,
       length(text) AS n_chars,
       size(t) AS n_tokens,
       size(array_distinct(t)) AS n_unique_tokens,
       CAST(length(regexp_replace(text, '\\\\s+', '')) AS DOUBLE) / size(t)
           AS avg_token_len,
       size(regexp_extract_all(text, '[^\\\\w\\\\s]', 0)) AS n_punct,
       size(regexp_extract_all(text, '\\\\d', 0)) AS n_digits,
       size(filter(t, x -> array_contains({_SPARK_EN_ARRAY}, x)))
           AS stopword_hits,
       CAST(size(filter(t, x -> array_contains({_SPARK_EN_ARRAY}, x))) AS DOUBLE)
           / size(t) AS stopword_ratio,
       CAST(size(array_distinct(t)) AS DOUBLE) / size(t) AS lexical_diversity
FROM toks
SORT BY doc_id
"""


@query(
    "text_quality_stats",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, source, text,
               list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
        FROM documents
    )
    SELECT doc_id, lang, source,
           length(text) AS n_chars,
           len(t) AS n_tokens,
           len(list_distinct(t)) AS n_unique_tokens,
           CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
               / len(t) AS avg_token_len,
           len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
           len(regexp_extract_all(text, '\\d')) AS n_digits,
           len(list_filter(t, x -> list_contains({_sql_en_list()}, x))) AS stopword_hits,
           CAST(len(list_filter(t, x -> list_contains({_sql_en_list()}, x))) AS DOUBLE)
               / len(t) AS stopword_ratio,
           CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS lexical_diversity
    FROM toks
    WHERE len(t) > 0
    ORDER BY doc_id
    """,
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: char/token/unique-token counts,
    average token length, punctuation & digit counts, stopword ratio,
    lexical diversity — the standard pre-training quality-filter
    feature set, computed in one codegen'd projection. Static-SQL form
    (one py4j crossing); the corpus fans out to total-cores first —
    the narrow-scan pattern (plans.scale.fanout_width)."""
    ensure_views(spark, sf_dir, "documents")
    return spark.sql(_QUALITY_SQL.format(fan=fanout_width(spark)))


@query(
    "text_lang_id",
    oracle=f"""
    WITH stop(slang, word) AS (VALUES {_sql_stopword_values()}),
    tok AS (
        SELECT doc_id, lang,
               unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                  t -> t <> '')) AS token
        FROM documents
    ),
    hits AS (
        SELECT t.doc_id, t.lang, s.slang, COUNT(*) AS n_hits
        FROM tok t JOIN stop s ON t.token = s.word
        GROUP BY t.doc_id, t.lang, s.slang
    ),
    best AS (
        SELECT doc_id, lang, slang AS pred_lang, n_hits,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY n_hits DESC, slang) AS rk
        FROM hits
    )
    SELECT d.doc_id, d.lang,
           COALESCE(b.pred_lang, 'unknown') AS pred_lang,
           COALESCE(b.n_hits, 0) AS n_hits,
           (d.lang = COALESCE(b.pred_lang, 'unknown')) AS is_correct
    FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rk = 1
    ORDER BY d.doc_id
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID: explode tokens, broadcast-join the
    stopword dictionary, argmax hits per doc (ties broken by language
    code). Dictionary join beats a per-language CASE cascade: adding a
    language is a data change, not a plan change."""
    d = load_table(spark, sf_dir, "documents")
    stop_rows = [
        (lang, w) for lang, words in sorted(LANG_STOPWORDS.items()) for w in words
    ]
    stop = spark.createDataFrame(stop_rows, "slang string, word string")
    tok = d.select(
        "doc_id", "lang", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    hits = (
        tok.join(F.broadcast(stop), tok.token == stop.word)
        .groupBy("doc_id", "lang", "slang")
        .agg(F.count("*").alias("n_hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("n_hits"), F.asc("slang"))
    best = (
        hits.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("slang").alias("pred_lang"), "n_hits")
    )
    return (
        d.select("doc_id", "lang")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("pred_lang", F.lit("unknown")).alias("pred_lang"),
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (
                F.col("lang") == F.coalesce("pred_lang", F.lit("unknown"))
            ).alias("is_correct"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_token_count_bpe",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))) AS BIGINT)
               AS total_tokens,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))) AS DOUBLE)
               / COUNT(*) AS avg_tokens_per_doc
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (word-or-single-punct regex — the standard
    pre-tokenizer shape) aggregated per source: the 'how many tokens is
    this corpus' pipeline question, one scan."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.expr(r"regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)"))
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(n_tok).alias("total_tokens"),
            F.sum(F.length("text")).alias("total_chars"),
            (F.sum(n_tok).cast("double") / F.count("*")).alias("avg_tokens_per_doc"),
        )
        .transform(lambda d: sorted_small(d, "source"))
    )


@query(
    "doc_fingerprint_winnow",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id, pos,
               ('0x' || substr(md5(substr(text, pos, 5)), 1, 15))::BIGINT AS h
        FROM documents,
             LATERAL (SELECT unnest(generate_series(1, length(text) - 4)) AS pos)
        WHERE length(text) >= 5
    ),
    winnowed AS (
        SELECT doc_id,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
        FROM grams
    )
    SELECT doc_id,
           COUNT(DISTINCT fp) AS n_fingerprints,
           MIN(fp) AS min_fp,
           MAX(fp) AS max_fp
    FROM winnowed
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def doc_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints: rolling min over windows of 8
    consecutive char-5-gram hashes (Schleimer et al.'s local algorithm —
    position-robust plagiarism/near-dup signatures). The rolling min is
    a window frame, partition-local after one shuffle on doc_id."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= 5)
        # narrow-scan fan-out: ~1k char-5-gram md5 calls per document
        # would otherwise run inside the single scan task
        .repartition(fanout_width(spark))
    )
    grams = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text") - 4)).alias("pos"),
        "text",
    ).select(
        "doc_id", "pos", hash64(F.expr("substr(text, pos, 5)")).alias("h")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, 7)
    )
    winnowed = grams.select("doc_id", F.min("h").over(w).alias("fp"))
    return (
        winnowed.groupBy("doc_id")
        .agg(
            F.countDistinct("fp").alias("n_fingerprints"),
            F.min("fp").alias("min_fp"),
            F.max("fp").alias("max_fp"),
        )
        .orderBy("doc_id")
    )


@query(
    "pipeline_clean_corpus",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, source, text,
               list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
        FROM documents
    ),
    quality AS (
        SELECT doc_id, lang, source, text
        FROM toks
        WHERE len(t) BETWEEN 10 AND 5000
          AND CAST(len(list_filter(t, x -> list_contains({_sql_en_list()}, lower(x)))) AS DOUBLE)
              / len(t) <= 0.6
    ),
    hashed AS (
        SELECT doc_id, lang, source,
               sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash
        FROM quality
    ),
    survivors AS (
        SELECT * FROM (
            SELECT doc_id, lang, source,
                   ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
            FROM hashed
        ) WHERE rn = 1
    )
    SELECT source, lang, COUNT(*) AS n_docs
    FROM survivors
    GROUP BY source, lang
    ORDER BY source, lang
    """,
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data cleaning pipeline (north_star shape):
    token-count band + stopword-ratio quality gate -> exact dedup
    keeping the lowest doc_id per content hash -> per-(source, lang)
    survivor counts. One linear operator chain, two shuffles total
    (dedup window + final aggregate); every stage is the same operator
    the standalone queries check individually — this pins that they
    compose. Static-SQL form (one py4j crossing; same plan as the
    Column chain — the lambda HOFs are Catalyst LambdaFunctions either
    way)."""
    ensure_views(spark, sf_dir, "documents")
    return sorted_small(spark.sql(_PIPELINE_SQL), "source", "lang")


@query(
    "text_unigram_logprob",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                  t -> t <> '')) AS token
        FROM documents
    ),
    vocab AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY token
    ),
    tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM vocab),
    scored AS (
        SELECT t.doc_id,
               ln(CAST(v.cnt AS DOUBLE) / tot.n) AS lp
        FROM toks t JOIN vocab v ON t.token = v.token CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(lp), 6) AS avg_logprob,
           ROUND(MIN(lp), 6) AS min_logprob
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram log-probability quality score — the perplexity-filter
    stand-in of CCNet/Gopher-style curation (a real deployment swaps
    the corpus-trained unigram table for a KenLM binary behind the same
    join). Two passes over one tokenized relation: vocabulary counts
    (map-side combined), then per-document mean/min token logprob. The
    vocabulary joins back by token — broadcast here; at a 100-TB
    corpus, cap it to a top-K frequency table (the standard move) or
    let AQE pick a shuffled join. ROUND(…, 6) on both engines keeps the
    sub-ulp ln()/sum-order differences below the driver's 6-decimal
    hash.

    The tokenized relation is materialized: vocab and scoring are its two
    consumers, and recomputing the regex split of the whole corpus per
    consumer is the kind of double scan a 100-TB pipeline cannot
    afford."""
    d = load_table(spark, sf_dir, "documents")
    toks = materialize(
        d.selectExpr(
            "doc_id",
            "explode(filter(split(text, '\\\\s+'), t -> t != '')) AS token",
        )
    )
    vocab = toks.groupBy("token").agg(F.expr("CAST(COUNT(*) AS BIGINT) AS cnt"))
    total = vocab.agg(F.expr("CAST(SUM(cnt) AS DOUBLE) AS n"))
    scored = (
        toks.join(F.broadcast(vocab), "token")
        .join(F.broadcast(total))
        .selectExpr("doc_id", "ln(CAST(cnt AS DOUBLE) / n) AS lp")
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.expr("CAST(COUNT(*) AS BIGINT) AS n_tokens"),
            F.expr("ROUND(AVG(lp), 6) AS avg_logprob"),
            F.expr("ROUND(MIN(lp), 6) AS min_logprob"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_tfidf_keywords",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                  t -> t <> '')) AS token
        FROM documents
    ),
    tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, token
    ),
    df AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.token,
               -- idf rounded to 6dp BEFORE the product: the score is then
               -- an exact double product both engines compute identically,
               -- so the ranking cannot flip on sub-ulp ln() differences
               CAST(tf.tf AS DOUBLE) * ROUND(ln(n.n / df.df), 6) AS score
        FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, token, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, token) AS rnk
        FROM scored
    )
    SELECT doc_id, rnk, token, score
    FROM ranked WHERE rnk <= 3
    ORDER BY doc_id, rnk
    """,
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document — the classic content-tagging
    pass of a curation pipeline. tf and df stack on ONE tokenized
    relation (materialized: df re-aggregates the tf partials, never the
    raw tokens); idf is rounded to 6dp before the product so the
    ranking is an exact-double comparison on both engines; the top-k
    window partitions by doc_id (bounded groups, fully parallel)."""
    d = load_table(spark, sf_dir, "documents")
    tf = materialize(
        d.selectExpr(
            "doc_id",
            "explode(filter(split(text, '\\\\s+'), t -> t != '')) AS token",
        )
        .groupBy("doc_id", "token")
        .agg(F.expr("CAST(COUNT(*) AS BIGINT) AS tf"))
    )
    df_rel = tf.groupBy("token").agg(F.expr("CAST(COUNT(*) AS BIGINT) AS df"))
    n = d.agg(F.expr("CAST(COUNT(*) AS DOUBLE) AS n"))
    scored = (
        tf.join(df_rel, "token")
        .join(F.broadcast(n))
        .selectExpr(
            "doc_id",
            "token",
            "CAST(tf AS DOUBLE) * ROUND(ln(n / df), 6) AS score",
        )
    )
    return (
        scored.selectExpr(
            "doc_id",
            "token",
            "score",
            "ROW_NUMBER() OVER (PARTITION BY doc_id"
            " ORDER BY score DESC, token) AS rnk",
        )
        .where("rnk <= 3")
        .select("doc_id", "rnk", "token", "score")
        .orderBy("doc_id", "rnk")
    )
