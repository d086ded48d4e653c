"""Dedup queries (SURVEY.md §2B "LLM: dedup"; BASELINE.json north_star).

The documents table has no natural duplicates, so each query first
builds ``corpus`` = documents UNION mutated copies (dropped first word /
case+whitespace noise) with doc_id+1,000,000 — the same construction on
both engines — making every dedup check non-vacuous: the known mutant
pairs MUST come out, and (for LSH/SimHash) random-soup pairs must not.

Oracle SQL is generated from the very constants the Spark operators use
(operators/dedup.py), so the MinHash permutations, band layout, and
SimHash bit math are identical by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import ensure_views, load_table
from ..operators.graph import connected_components
from ..plans.scale import fanout_width, materialize, sorted_small
from ..operators.dedup import (
    LSH_BAND_SIZE,
    MINHASH_PERMS,
    MINHASH_PRIME,
    minhash_coeffs,
    shingle_set,
    simhash,
    simhash_near_pairs,
)
from .registry import query

# ------------------------------------------------------ shared subtrees
# Every multi-consumer frame below (signature frames, shingle
# relations, the simhash pairs) computes once through
# plans.scale.materialize: a GC-managed checkpoint, so there is no
# cache-manager entry for a caller to release.

# ---------------------------------------------------------------- corpus

_SQL_CORPUS_NEAR = """
    corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               regexp_replace(text, '^\\S+\\s+', '') AS text
        FROM documents WHERE doc_id % 20 = 0
    )
"""


def _corpus_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + near-duplicate mutants (first word dropped)."""
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutants = base.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    return base.unionByName(mutants)


# ---------------------------------------------------------------- exact

_EXACT_SQL = """
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, CONCAT(UPPER(text), '   ') AS text
    FROM documents WHERE doc_id % 10 = 0
)
SELECT sha2(trim(regexp_replace(lower(text), '\\\\s+', ' ')), 256)
           AS content_hash,
       MIN(doc_id) AS kept_doc, COUNT(*) AS group_size
FROM corpus
GROUP BY 1
ORDER BY kept_doc
"""


@query(
    "dedup_exact",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               upper(text) || '   ' AS text
        FROM documents WHERE doc_id % 10 = 0
    ),
    normed AS (
        SELECT doc_id,
               sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash
        FROM corpus
    )
    SELECT content_hash, MIN(doc_id) AS kept_doc, COUNT(*) AS group_size
    FROM normed
    GROUP BY content_hash
    ORDER BY kept_doc
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text sha256: one shuffle on the content
    hash, deterministic survivor (min doc_id). The mutants differ only
    in case/whitespace, so every one of them collapses onto its source
    (group_size 2) — verified by the oracle groups.

    Aggregates directly on the content hash (ONE shuffle) — the
    row-marking form (operators/dedup.py exact_dedup, window-based
    is_kept) exists for pipelines that must keep full rows; a group
    summary never needs it. Static-SQL form (one py4j crossing)."""
    ensure_views(spark, sf_dir, "documents")
    return spark.sql(_EXACT_SQL)


# ---------------------------------------------------------------- minhash lsh

def _minhash_chain(recursive: bool = False, set_h: bool = False) -> str:
    """The shared WITH-chain computing LSH-verified near-dup pairs,
    ending at CTE ``verified(doc_a, doc_b, jaccard)`` (J >= 0.4).
    ``recursive=True`` emits WITH RECURSIVE so callers can append
    recursive CTEs (DuckDB requires the keyword up front).

    ``set_h=True`` switches the chain to set-of-hashes semantics end to
    end — ``shh`` deduplicates on (doc_id, h) after hashing every
    occurrence (mirroring the registered query's hash-first shingle
    pass), sizes count distinct hashes, and the pair intersection is
    the shared-hash set size (what array_intersect computes).
    ``False`` keeps the distinct-string-then-hash order and row-join
    count (what shingle_set + jaccard_for_pairs compute, used by
    dedup_cluster_components). The two differ only when one document
    holds two distinct shingle strings whose md5 mod P collide (~1e-5
    per document); each query is self-consistent with its oracle
    either way."""
    perms = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in ((i, minhash_coeffs(i)) for i in range(MINHASH_PERMS))
    )
    p = MINHASH_PRIME
    # Numeric band-key columns, mirroring lsh_candidate_pairs' struct.
    band_keys = ",\n               ".join(
        f"MIN(CASE WHEN i % {LSH_BAND_SIZE} = {j} THEN m END) AS k{j}"
        for j in range(LSH_BAND_SIZE)
    )
    band_eq = " AND ".join(f"a.k{j} = b.k{j}" for j in range(LSH_BAND_SIZE))
    kw = "WITH RECURSIVE" if recursive else "WITH"
    return f"""
    {kw} {_SQL_CORPUS_NEAR},
    toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
        FROM corpus
    ),
    sh_raw AS (
        SELECT doc_id,
               unnest(CASE WHEN len(t) < 3 THEN []
                      ELSE list_transform(generate_series(1, len(t) - 2),
                           i -> concat_ws(' ', t[i], t[i+1], t[i+2])) END) AS shingle
        FROM toks
    ),
    shh AS (
        {'''-- hash-first, distinct on the NUMERIC (doc_id, h) — the
        -- registered query's order (set-of-hashes semantics)
        SELECT DISTINCT doc_id,
               ('0x' || substr(md5(shingle), 1, 15))::BIGINT % ''' + str(p) + ''' AS h
        FROM sh_raw''' if set_h else '''-- distinct on the STRING then hash, mirroring shingle_set's
        -- hash-call-minimizing order (collision semantics identical)
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 15))::BIGINT % ''' + str(p) + ''' AS h
        FROM (SELECT DISTINCT doc_id, shingle FROM sh_raw)'''}
    ),
    perms(i, a, b) AS (VALUES {perms}),
    sig AS (
        SELECT doc_id, i, MIN((a * h + b) % {p}) AS m
        FROM shh CROSS JOIN perms
        GROUP BY doc_id, i
    ),
    bands AS (
        SELECT doc_id, i // {LSH_BAND_SIZE} AS band,
               {band_keys}
        FROM sig GROUP BY doc_id, i // {LSH_BAND_SIZE}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND {band_eq} AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shh GROUP BY doc_id),
    inter AS (
        SELECT p.doc_a, p.doc_b, COUNT({"DISTINCT a.h" if set_h else "*"}) AS shared
        FROM pairs p
        JOIN shh a ON a.doc_id = p.doc_a
        JOIN shh b ON b.doc_id = p.doc_b AND b.h = a.h
        GROUP BY p.doc_a, p.doc_b
    ),
    verified AS (
        SELECT i.doc_a, i.doc_b,
               CAST(i.shared AS DOUBLE) / (na.n + nb.n - i.shared) AS jaccard
        FROM inter i
        JOIN sizes na ON na.doc_id = i.doc_a
        JOIN sizes nb ON nb.doc_id = i.doc_b
        WHERE CAST(i.shared AS DOUBLE) / (na.n + nb.n - i.shared) >= 0.4
    )
    """


def _minhash_oracle() -> str:
    return f"""
    {_minhash_chain(set_h=True)}
    SELECT doc_a, doc_b, jaccard FROM verified ORDER BY doc_a, doc_b
    """


# Spark-side band join + Jaccard verify, mirroring lsh_candidate_pairs +
# jaccard_for_pairs over the _mh_shingles/_mh_sig views (the sig view
# is an eager checkpoint since r16).
# Static module-level string: zero per-call construction cost.
#
# Band keys are PACKED bijectively into two bigints (p01 = m0*P + m1,
# p23 = m2*P + m3; every m < P = 2^31-1 so the products stay under
# 2^62): the collision set is identical to joining on the four raw
# keys, but the self-join exchange carries 2 longs instead of 4 and
# the join-key comparator is half as wide. Measured on the registered
# query round-robin same-session (BENCH.md round 4 plan work): 1.31s vs
# 1.61s unpacked, and 1.69 vs 2.39 on a loaded VM — adopted round 4
# (the round-3 wash measurement is outvoted by two later sessions).
_MH_BAND_STRUCTS = ", ".join(
    "struct({b} AS band, "
    "m{i0} * CAST({p} AS BIGINT) + m{i1} AS p01, "
    "m{i2} * CAST({p} AS BIGINT) + m{i3} AS p23)".format(
        b=b,
        p=MINHASH_PRIME,
        i0=b * LSH_BAND_SIZE,
        i1=b * LSH_BAND_SIZE + 1,
        i2=b * LSH_BAND_SIZE + 2,
        i3=b * LSH_BAND_SIZE + 3,
    )
    for b in range(MINHASH_PERMS // LSH_BAND_SIZE)
)
_MH_BAND_EQ = "a.p01 = b.p01 AND a.p23 = b.p23"
#: r16: the verify statement is pure NESTED SUBQUERIES — no WITH at
#: all. On this Spark (4.1.2) the cache manager does not substitute a
#: cached relation referenced inside ANY WithCTE/CTERelationDef
#: (single- or multi-ref; bisected empirically), so the old CTE chain
#: re-inlined ``_mh_sig`` and the whole shingle+signature pipeline
#: executed FOUR times per run — the dominant cost of the query. The
#: signature frame is now an eager checkpoint (plans.scale.materialize;
#: see the fn body), and the no-CTE form keeps every ``_mh_sig``
#: mention resolving to that one materialized relation (4x checkpoint
#: scan, 0 parquet re-scans — plan-asserted in tests/test_scale.py).
#:
#: r17 recorded NEGATIVE (VERDICT r16 #7, guide §1.1): the packed-pair
#: candidate DISTINCT (dedupe on doc_a*2^31+doc_b, one bigint instead of
#: two) measured no win — interleaved best 0.474 vs 0.382, medians
#: equal — because the candidate relation is bounded by LSH collisions
#: (533 pairs at sf0.1): the DISTINCT's cost is its exchange BARRIER,
#: not its key width. Kept the two-column form (it reads better and the
#: packing adds a doc_id < 2^31 domain coupling the band packing already
#: carries but the pair stage otherwise would not).
#:
#: Recorded NEGATIVE (VERDICT r16 #7, closed): the band-GROUP aggregate
#: candidate — GROUP BY the packed band key, collect the sorted doc_ids
#: per bucket and explode the i<j pairs, so the band exchange carries
#: one row per (doc, band) and the self-join disappears — read ~12%
#: slower: join form best 1.21s vs 1.36s, rows equal at 533, one 4-core
#: same-session interleaved order-alternated run, not confirmed with
#: event-log counters. The band self-join stays.
#:
#: Join-hint placement is unchanged in intent: only the (doc_a, doc_b)
#: PAIR KEYS are hint-broadcast (bounded by the LSH candidate count);
#: the second join carries ha on the STREAMED side and gets no hint —
#: AQE broadcasts it at candidate counts that fit and degrades to a
#: spillable doc_id shuffle join on a dup-heavy corpus instead of an
#: OOM a forced hint would cause.
_MH_BANDED_SUB = f"(SELECT doc_id, inline(array({_MH_BAND_STRUCTS})) FROM _mh_sig)"
_MH_VERIFY_SQL = f"""
    SELECT doc_a, doc_b,
           CAST(shared AS DOUBLE) / (na + nb - shared) AS jaccard
    FROM (
        SELECT w.doc_a, w.doc_b, w.na, d.n AS nb,
               size(array_intersect(w.ha, d.hs)) AS shared
        FROM (
            SELECT /*+ BROADCAST(p) */ p.doc_a, p.doc_b, d.hs AS ha, d.n AS na
            FROM (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM {_MH_BANDED_SUB} a JOIN {_MH_BANDED_SUB} b
                  ON a.band = b.band AND {_MH_BAND_EQ} AND a.doc_id < b.doc_id
            ) p JOIN _mh_sig d ON d.doc_id = p.doc_a
        ) w JOIN _mh_sig d ON d.doc_id = w.doc_b
    )
    WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.4
"""


#: Spark twin of the oracle's corpus+shingle chain, ending at the
#: DISTINCT (doc_id, h) set. HASH-FIRST: md5 every occurrence, dedup
#: on the numeric pair — at sf0.1 a wash vs distinct-string-then-hash
#: (the md5 chain costs ~0.25s per 2.7M strings across 32 cores), but
#: the distinct exchange carries 16-byte pairs instead of ~50-byte
#: shingle strings, which is the term that grows with the corpus
#: (measured at the 10× text layout: the string-distinct exchange is
#: the largest single stage). Matches the set_h oracle chain exactly.
#: ``{fan}`` = plans.scale.fanout_width at call time — the narrow-scan
#: fan-out ahead of the tokenize+shingle+md5 kernel (the single-row-
#: group scan otherwise serializes the kernel).
#:
#: r16 (guide §2.4 "share one exchange"): the fan-out hashes on doc_id
#: instead of round-robin. Every downstream keying — the DISTINCT on
#: (doc_id, h) and the per-doc signature GROUP BY — is then already
#: clustered, so BOTH of their exchanges (the two largest in the query,
#: carrying the exploded hashed-shingle relation) vanish from the plan;
#: the one remaining exchange moves the raw corpus rows. Hash-by-doc
#: spreads 15k+ docs over the fan width, preserving the kernel
#: parallelism + skew balance the round-robin bought.
_MH_SHINGLES_SQL = f"""
WITH corpus AS (
    SELECT /*+ REPARTITION({{fan}}, doc_id) */ doc_id, text FROM (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               regexp_replace(text, '^\\\\S+\\\\s+', '') AS text
        FROM documents WHERE doc_id % 20 = 0
    )
),
toks AS (
    SELECT doc_id, filter(split(text, '\\\\s+'), t -> t <> '') AS tk
    FROM corpus
),
pos AS (
    SELECT doc_id, tk, explode(sequence(1, size(tk) - 2)) AS i
    FROM toks WHERE size(tk) >= 3
)
SELECT DISTINCT doc_id,
       CAST(CONV(SUBSTRING(MD5(concat_ws(' ', element_at(tk, i),
            element_at(tk, i + 1), element_at(tk, i + 2))), 1, 15),
            16, 10) AS BIGINT) % {MINHASH_PRIME} AS h
FROM pos
"""

#: 32 min-aggregates + the distinct-shingle count + the doc's sorted
#: hash set, one GROUP BY pass. Carrying ``hs`` (~distinct-shingles
#: longs per doc) lets the verify phase compute pair intersections with
#: array_intersect instead of re-joining the exploded shingle relation
#: — the per-doc set must fit one aggregation buffer, which it does for
#: any real document (a 1 MB doc is ~200k shingles = 1.6 MB of longs);
#: the exploded-join verify (operators/dedup.py jaccard_for_pairs)
#: remains the unbounded-document fallback.
_MH_SIG_SQL = "SELECT doc_id, " + ", ".join(
    f"min(({a} * h + {b}) % {MINHASH_PRIME}) AS m{i}"
    for i, (a, b) in ((i, minhash_coeffs(i)) for i in range(MINHASH_PERMS))
) + ", count(*) AS n, sort_array(collect_list(h)) AS hs" \
    " FROM _mh_shingles GROUP BY doc_id"


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection, then exact-Jaccard verification of
    the LSH candidates only. Spark computes signatures as 32 min-agg
    columns in ONE pass (no per-permutation row expansion — the oracle
    replays it row-expanded, same arithmetic). Shingle k=3, 32 perms,
    8 bands of 4; verified pairs filtered at J >= 0.4.

    Every phase is a static SQL statement (~6 py4j crossings for the
    whole query; the Column-form composition cost a measured 0.36s of
    per-call plan construction):
    - shingles (corpus union + tokenize + distinct + md5) flow straight
      into ONE aggregation producing the signature frame: 32 min
      columns, the set size n, and the doc's sorted hash set ``hs``;
    - that signature frame (one row per doc) is the ONLY materialized
      relation (an eager checkpoint) — it feeds both band-join
      sides AND the verify, so the corpus is scanned once at any scale;
    - verify needs no pass over an exploded shingle relation at all:
      the candidate PAIR KEYS broadcast into the signature frame (the
      only forced broadcast — bounded by the LSH candidate count) and
      the intersection is size(array_intersect(ha, hb)) — set semantics
      on the hashed shingles, replayed by the oracle as
      COUNT(DISTINCT h) (measured 1.40s vs 1.64s for the exploded-join
      verify at sf0.1 same-session). The second verify join is left to
      the planner: AQE broadcasts it at candidate counts that fit, and
      degrades to a spillable doc_id shuffle join when pairs x
      shingles/doc would not."""
    ensure_views(spark, sf_dir, "documents")
    spark.sql(_MH_SHINGLES_SQL.format(fan=fanout_width(spark))).createOrReplaceTempView("_mh_shingles")
    # The signature frame is an eager checkpoint (materialize), not a
    # persist(). Both give compute-once for the four consumers on a
    # FRESH build (r16: measured equal, best 1.07 both, same-session
    # interleaved at sf0.1), but a reused persisted DataFrame whose
    # cache was cleared between bench runs re-executes its
    # InMemoryRelation per CONSUMER without re-storing — the pipeline
    # silently computed 4x again (bench run B read 1.83s that way). The
    # checkpoint is eager per fn() call, so bench's eager-RDD rule
    # rebuilds the query each run and bills the one materialization
    # inside the timing; the checkpoint is GC-managed, and a session
    # checkpoint dir makes it survive executor loss (see materialize).
    materialize(spark.sql(_MH_SIG_SQL)).createOrReplaceTempView("_mh_sig")
    return spark.sql(_MH_VERIFY_SQL).transform(
        lambda d: sorted_small(d, "doc_a", "doc_b")
    )


# ---------------------------------------------------------------- ngram jaccard

@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SQL_CORPUS_NEAR},
    toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS t
        FROM corpus
    ),
    sh_raw AS (
        SELECT doc_id,
               unnest(CASE WHEN len(t) < 3 THEN []
                      ELSE list_transform(generate_series(1, len(t) - 2),
                           i -> concat_ws(' ', t[i], t[i+1], t[i+2])) END) AS shingle
        FROM toks
    ),
    sh AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS h
        FROM (SELECT DISTINCT doc_id, shingle FROM sh_raw)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.shared AS DOUBLE) / (na.n + nb.n - i.shared) AS jaccard
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    WHERE CAST(i.shared AS DOUBLE) / (na.n + nb.n - i.shared) >= 0.4
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive n-gram Jaccard: candidates = any shared 3-shingle
    (complete for J > 0), one count per pair. The shared-shingle join
    is skew-prone on hot shingles; the scale path caps document
    frequency before pairing (operators/dedup.py notes) — here kept
    exact so the oracle semantics are identical."""
    corpus = _corpus_near(spark, sf_dir)
    shingles = materialize(shingle_set(corpus, k=3))
    a = shingles.alias("a")
    b = shingles.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    # sizes feeds both the n_a and n_b legs; materialize the per-doc counts
    # so the count-agg over the shingle relation runs once, not twice.
    sizes = materialize(shingles.groupBy("doc_id").agg(F.count("*").alias("n")))
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.4)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------- simhash

@query(
    "dedup_simhash",
    oracle=f"""
    WITH {_SQL_CORPUS_NEAR},
    toks AS (
        SELECT DISTINCT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS token
        FROM corpus
    ),
    th AS (
        SELECT doc_id, token,
               ('0x' || substr(md5(token), 1, 15))::BIGINT AS h
        FROM toks
    ),
    votes AS (
        SELECT doc_id, bit,
               SUM(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
        FROM th CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bit) bits
        GROUP BY doc_id, bit
    ),
    sims AS (
        SELECT doc_id,
               SUM(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS simhash
        FROM votes GROUP BY doc_id
    ),
    chunks AS (
        SELECT doc_id, simhash, c, (simhash >> (8 * c)) & 255 AS val
        FROM sims CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) cs
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM chunks a JOIN chunks b
          ON a.c = b.c AND a.val = b.val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM pairs
    WHERE hamming <= 3
    ORDER BY doc_a, doc_b
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash near-dup pairs at hamming <= 3, candidate-blocked
    by 8-bit chunks (pigeonhole: 4 chunks cover distance 3). Mutant
    docs differ by one word out of ~dozens of distinct tokens, so their
    bit-majority votes stay close; random pairs sit near hamming 16."""
    corpus = _corpus_near(spark, sf_dir).repartition(fanout_width(spark))
    sims = simhash(corpus)
    # materialize ahead of the ORDER BY: the output is data-sized (2.35M
    # near-pairs at sf0.1 on this vocab-shared corpus), so the range
    # partitioner's sampling pass would otherwise re-execute the whole
    # chunk join; the checkpointed relation is what both the sampler and
    # the sort read. The checkpoint is GC-managed (ContextCleaner drops
    # it when the returned DataFrame goes unreferenced), so library use
    # leaves no cache-manager entry behind.
    pairs = materialize(
        simhash_near_pairs(sims, max_hamming=3)
        .select("doc_a", "doc_b", "hamming")
    )
    return pairs.orderBy("doc_a", "doc_b")


# ------------------------------------------------------- cluster components

#: r17 (VERDICT r16 #4): static-SQL one-pass pipeline for the cluster
#: edge relation — the r16 minhash treatment applied under THIS query's
#: semantics: DISTINCT on the shingle STRING then hash (shingle_set's
#: order) and the exploded COUNT(*) pair verify (multiset semantics its
#: recursive oracle replays; minhash's array_intersect SET verify would
#: not be equivalent on an intra-document hash collision). The corpus
#: fans out hashed on doc_id so the string DISTINCT and the signature
#: GROUP BY are partition-local (guide §2.4); the (doc_id, h) relation
#: and the signature frame are the two eager checkpoints — the
#: operator composition re-ran the tokenize+shingle+md5 pipeline per
#: consumer above the fan exchange (2 verify probes) and the 33-agg
#: signature pass per band-join side. Same plan-shape rules as
#: _MH_VERIFY_SQL: packed band keys (bijective — identical collision
#: set), broadcast hint only on the bounded candidate PAIR relation.
_CC_SHINGLES_SQL = f"""
WITH corpus AS (
    SELECT /*+ REPARTITION({{fan}}, doc_id) */ doc_id, text FROM (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               regexp_replace(text, '^\\\\S+\\\\s+', '') AS text
        FROM documents WHERE doc_id % 20 = 0
    )
),
toks AS (
    SELECT doc_id, filter(split(text, '\\\\s+'), t -> t <> '') AS tk
    FROM corpus
),
pos AS (
    SELECT doc_id, tk, explode(sequence(1, size(tk) - 2)) AS i
    FROM toks WHERE size(tk) >= 3
),
dist AS (
    SELECT DISTINCT doc_id,
           concat_ws(' ', element_at(tk, i), element_at(tk, i + 1),
                     element_at(tk, i + 2)) AS shingle
    FROM pos
)
SELECT doc_id,
       CAST(CONV(SUBSTRING(MD5(shingle), 1, 15), 16, 10) AS BIGINT)
           % {MINHASH_PRIME} AS h
FROM dist
"""

_CC_SIG_SQL = "SELECT doc_id, " + ", ".join(
    f"min(({a} * h + {b}) % {MINHASH_PRIME}) AS m{i}"
    for i, (a, b) in ((i, minhash_coeffs(i)) for i in range(MINHASH_PERMS))
) + ", count(*) AS n FROM _cc_sh GROUP BY doc_id"

_CC_BANDED_SUB = f"(SELECT doc_id, inline(array({_MH_BAND_STRUCTS})) FROM _cc_sig)"
_CC_VERIFY_SQL = f"""
    SELECT doc_a, doc_b FROM (
        SELECT i.doc_a, i.doc_b, i.shared, na.n AS n_a, nb.n AS n_b
        FROM (
            SELECT /*+ BROADCAST(p) */ p.doc_a, p.doc_b, COUNT(*) AS shared
            FROM (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM {_CC_BANDED_SUB} a JOIN {_CC_BANDED_SUB} b
                  ON a.band = b.band AND {_MH_BAND_EQ} AND a.doc_id < b.doc_id
            ) p
            JOIN _cc_sh sa ON sa.doc_id = p.doc_a
            JOIN _cc_sh sb ON sb.doc_id = p.doc_b AND sb.h = sa.h
            GROUP BY p.doc_a, p.doc_b
        ) i
        JOIN _cc_sig na ON na.doc_id = i.doc_a
        JOIN _cc_sig nb ON nb.doc_id = i.doc_b
    )
    WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= 0.4
"""


def _cluster_oracle() -> str:
    return f"""
    {_minhash_chain(recursive=True)},
    edges AS (
        SELECT doc_a AS e_src, doc_b AS e_dst FROM verified
        UNION ALL
        SELECT doc_b, doc_a FROM verified
    ),
    reach(node, label) AS (
        SELECT DISTINCT e_src, e_src FROM edges
        UNION
        SELECT e.e_dst, r.label FROM reach r JOIN edges e ON e.e_src = r.node
    ),
    comp AS (SELECT node AS doc_id, MIN(label) AS component FROM reach GROUP BY node)
    SELECT doc_id, component,
           CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS cluster_size
    FROM comp
    ORDER BY doc_id
    """


@query("dedup_cluster_components", oracle=_cluster_oracle())
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the LSH-verified near-dup pairs: connected
    components turn PAIRS into CLUSTERS, so one representative survives
    for {A,B,C} even when (A,C) was never an LSH candidate — the step
    that makes near-dedup actually drop whole duplicate families. Spark
    runs iterative min-label propagation (operators/graph.py; rounds =
    cluster diameter, each round one join + one agg, lineage truncated
    per round); the oracle replays it as a recursive CTE — the same
    fixpoint, reached by a strategy only viable single-node.

    r17: the edge pipeline is the static-SQL checkpointed form (see
    _CC_SHINGLES_SQL note) — identical values to the former
    shingle_set + minhash_signatures + lsh_candidate_pairs +
    jaccard_for_pairs composition (equality-checked same-session,
    OPTIMIZATION_r17.md item 4; the operators remain the general API),
    with the shingle pipeline and the 33-agg signature pass each
    computed ONCE instead of per consumer."""
    ensure_views(spark, sf_dir, "documents")
    materialize(
        spark.sql(_CC_SHINGLES_SQL.format(fan=fanout_width(spark)))
    ).createOrReplaceTempView("_cc_sh")
    materialize(spark.sql(_CC_SIG_SQL)).createOrReplaceTempView("_cc_sig")
    verified = spark.sql(_CC_VERIFY_SQL)
    comp = connected_components(verified, "doc_a", "doc_b")
    w = Window.partitionBy("component")
    return (
        comp.select(
            F.col("node").alias("doc_id"),
            "component",
            F.count("*").over(w).cast("long").alias("cluster_size"),
        )
        .transform(lambda d: sorted_small(d, "doc_id"))
    )
