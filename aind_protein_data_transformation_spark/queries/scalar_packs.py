"""Scalar function packs (SURVEY.md §2B: string / date / math / array /
json / conditional) plus exact + approximate percentiles and SQL
subqueries.

Every function here is a JVM builtin — no Python UDFs — so the whole
projection stays inside WholeStageCodegen; at 100 TB these are pure
map-side work with zero shuffle (the small ORDER BY outputs exist only
for the oracle's determinism contract).

Engine-parity notes baked into the oracles:
- DuckDB ``log`` is log10, Spark's is ln -> use ``ln``/``log10``.
- DuckDB ``regexp_replace`` is first-match unless the 'g' flag is given.
- DuckDB ``quantile_cont`` quantizes to the input's DECIMAL scale ->
  cast to DOUBLE first.
- DATE-typed outputs are cast to STRING on both sides (Spark returns
  datetime.date, DuckDB returns Timestamp — they would never hash equal).
- Spark ``signum`` returns DOUBLE, DuckDB ``sign`` INT -> cast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import ensure_views, load_table, register_views
from ..functions.numeric import exact_sum
from ..operators.percentile import (
    log_bucket_id_sql,
    multi_column_percentiles_rank_select,
)
from ..plans.scale import sorted_small
from .registry import query


@query(
    "q_string_functions",
    oracle="""
    SELECT c_custkey,
           CAST(regexp_extract(c_name, 'Customer#(\\d+)', 1) AS BIGINT) AS cust_num,
           upper(c_mktsegment) AS seg_upper,
           lower(c_name) AS name_lower,
           substring(c_name, 1, 8) AS name_prefix,
           length(c_name) AS name_len,
           concat_ws('|', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key,
           regexp_replace(c_name, '0+', '0', 'g') AS name_squeezed,
           lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS key_padded,
           reverse(c_mktsegment) AS seg_rev,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_trans,
           levenshtein(c_mktsegment, 'BUILDING') AS seg_dist,
           printf('%06x', CAST(c_custkey AS INT)) AS key_hex,
           strpos(c_name, '9') AS first_nine,
           left(c_name, 4) AS l4,
           right(c_name, 4) AS r4,
           trim(' ' || c_mktsegment || ' ') AS seg_trim
    FROM customer
    ORDER BY c_custkey
    """,
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String pack. The regexp_extract + concat path is the reference's
    stack-name parser (zeiss_job.py:132-139: 'name(3).czi' -> 'name_3');
    printf('%06x') is its channel-color hex formatter (czi_to_zarr.py:80)."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_custkey",
            F.regexp_extract("c_name", r"Customer#(\d+)", 1)
            .cast("bigint")
            .alias("cust_num"),
            F.upper("c_mktsegment").alias("seg_upper"),
            F.lower("c_name").alias("name_lower"),
            F.substring("c_name", 1, 8).alias("name_prefix"),
            F.length("c_name").alias("name_len"),
            F.concat_ws("|", "c_mktsegment", F.col("c_custkey").cast("string")).alias(
                "seg_key"
            ),
            F.regexp_replace("c_name", "0+", "0").alias("name_squeezed"),
            F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("key_padded"),
            F.reverse("c_mktsegment").alias("seg_rev"),
            F.translate("c_mktsegment", "AEIOU", "aeiou").alias("seg_trans"),
            F.levenshtein("c_mktsegment", F.lit("BUILDING")).alias("seg_dist"),
            F.format_string("%06x", F.col("c_custkey").cast("int")).alias("key_hex"),
            F.instr("c_name", "9").alias("first_nine"),
            F.substring("c_name", 1, 4).alias("l4"),
            F.col("c_name").substr(F.length("c_name") - 3, F.lit(4)).alias("r4"),
            F.trim(F.concat(F.lit(" "), F.col("c_mktsegment"), F.lit(" "))).alias(
                "seg_trim"
            ),
        )
        .orderBy("c_custkey")
    )


@query(
    "q_date_functions",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_month,
           day(o_orderdate) AS order_day,
           quarter(o_orderdate) AS order_quarter,
           isodow(o_orderdate) - 1 AS order_weekday,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS VARCHAR) AS due_date,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
           datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_epoch_start,
           CAST(extract(epoch FROM o_orderdate) AS BIGINT) AS order_unix
    FROM orders
    WHERE o_orderkey % 10 = 0
    ORDER BY o_orderkey
    """,
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time pack. weekday normalized to Monday=0 on both engines
    (Spark weekday vs DuckDB isodow-1); DATE outputs stringified."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    return (
        o.select(
            "o_orderkey",
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.dayofmonth("o_orderdate").alias("order_day"),
            F.quarter("o_orderdate").alias("order_quarter"),
            F.weekday("o_orderdate").alias("order_weekday"),
            F.date_trunc("month", "o_orderdate").alias("month_start"),
            F.date_add(F.col("o_orderdate"), 30).cast("string").alias("due_date"),
            F.last_day("o_orderdate").cast("string").alias("month_end"),
            F.datediff(
                F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
            ).alias("days_since_epoch_start"),
            F.unix_timestamp("o_orderdate").alias("order_unix"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q_math_functions",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_kb,
           CAST(ceil(l_quantity / 7) AS BIGINT) AS qty_ceil,
           l_extendedprice * l_discount AS disc_amount,
           round(l_quantity / 8, 2) AS qty_eighth,
           abs(l_quantity - 25.0) AS qty_dev,
           sqrt(l_extendedprice) AS price_sqrt,
           ln(l_extendedprice + 1) AS price_ln,
           log10(l_extendedprice + 1) AS price_log10,
           exp(l_discount) AS disc_exp,
           power(l_quantity, 2) AS qty_sq,
           ((CAST(l_orderkey AS BIGINT) % 7) + 7) % 7 AS key_pmod,
           CAST(sign(l_quantity - 25.0) AS DOUBLE) AS qty_sign,
           greatest(l_tax, l_discount) AS max_rate,
           least(l_tax, l_discount) AS min_rate
    FROM lineitem
    WHERE l_orderkey % 50 = 0
    ORDER BY l_orderkey, l_linenumber
    """,
)
def q_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math pack: per-row IEEE doubles are bit-identical across engines,
    so these hash-match without the DECIMAL trick. floor/ceil mirror the
    reference's pyramid shape recurrence (czi_to_zarr.py:181-183); pmod
    its round-robin dealing (zeiss_job.py:41)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.floor(F.col("l_extendedprice") / 1000).alias("price_kb"),
            F.ceil(F.col("l_quantity") / 7).alias("qty_ceil"),
            (F.col("l_extendedprice") * F.col("l_discount")).alias("disc_amount"),
            # round() only on exactly-representable values: engines disagree
            # on knife-edge doubles (5914.394999... rounds 5914.39 in Spark,
            # 5914.4 in DuckDB); l_quantity/8 ties are exact binary.
            F.round(F.col("l_quantity") / 8, 2).alias("qty_eighth"),
            F.abs(F.col("l_quantity") - 25.0).alias("qty_dev"),
            F.sqrt("l_extendedprice").alias("price_sqrt"),
            F.log(F.col("l_extendedprice") + 1).alias("price_ln"),
            F.log10(F.col("l_extendedprice") + 1).alias("price_log10"),
            F.exp("l_discount").alias("disc_exp"),
            F.pow("l_quantity", F.lit(2)).alias("qty_sq"),
            F.pmod(F.col("l_orderkey"), F.lit(7)).cast("bigint").alias("key_pmod"),
            F.signum(F.col("l_quantity") - 25.0).alias("qty_sign"),
            F.greatest("l_tax", "l_discount").alias("max_rate"),
            F.least("l_tax", "l_discount").alias("min_rate"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q_array_functions",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_val,
           CAST(embedding[len(embedding)] AS DOUBLE) AS last_val,
           CAST(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS DOUBLE) AS sq_norm,
           len(list_filter(embedding, x -> x > 0)) AS n_positive,
           CAST(list_min(embedding) AS DOUBLE) AS min_val,
           CAST(list_max(embedding) AS DOUBLE) AS max_val,
           list_contains(list_transform(embedding, x -> x > 0.5), true) AS has_large,
           len(generate_series(1, vec_id % 5 + 1)) AS seq_len
    FROM embeddings
    WHERE vec_id % 10 = 0
    ORDER BY vec_id
    """,
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array / higher-order-function pack over the embedding column
    (generalizes the reference's block-slice enumeration A19,
    zarr_writer.py:129-186: sequence + per-element transforms). The
    fold runs left-to-right in both engines, so the double sum is
    order-identical."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    return (
        e.select(
            "vec_id",
            F.size("embedding").alias("dim"),
            F.element_at("embedding", 1).cast("double").alias("first_val"),
            F.element_at("embedding", -1).cast("double").alias("last_val"),
            F.expr(
                "aggregate(embedding, 0D, (acc, x) ->"
                " acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
            ).alias("sq_norm"),
            F.size(F.expr("filter(embedding, x -> x > 0)")).alias("n_positive"),
            F.array_min("embedding").cast("double").alias("min_val"),
            F.array_max("embedding").cast("double").alias("max_val"),
            F.array_contains(
                F.expr("transform(embedding, x -> x > 0.5)"), True
            ).alias("has_large"),
            F.size(F.sequence(F.lit(1), F.col("vec_id") % 5 + 1)).alias("seq_len"),
        )
        .orderBy("vec_id")
    )


@query(
    "q_explode_tokens",
    oracle="""
    SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    )
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 50
    """,
)
def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode + re-aggregate: the lateral-view word count. Explode is
    the §2A block-enumeration idiom (A19); at 100 TB the explode output
    never materializes — it streams straight into the partial agg."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("n_docs"))
        .orderBy(F.desc("n"), "token")
        .limit(50)
    )


@query(
    "q_json_functions",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(props->>'$.k' AS BIGINT)) AS min_k,
           MAX(CAST(props->>'$.k' AS BIGINT)) AS max_k,
           COUNT(DISTINCT CAST(props->>'$.k' AS BIGINT)) AS distinct_k,
           CAST(SUM(len(json_keys(props))) AS BIGINT) AS sum_n_keys,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k_via_map
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON + MAP pack over events.props (the reference's nested-JSON
    scan A22: utils/utils.py:111-135 reads acquisition.json and projects
    nested fields). Two extraction paths are checked against one oracle:
    ``get_json_object`` (no full parse) and ``from_json`` to a typed
    MAP probed with ``map_keys``/``element_at`` — sum_k and
    sum_k_via_map must agree, which differentially tests both planners.
    The row-level map explode lives in q_map_functions (registry tail)."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    m = F.from_json("props", "map<string,bigint>")
    return (
        e.select("event_type", k.alias("k"), m.alias("m"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.countDistinct("k").alias("distinct_k"),
            F.sum(F.size(F.map_keys("m"))).alias("sum_n_keys"),
            F.sum(F.element_at(F.col("m"), "k")).alias("sum_k_via_map"),
        )
        .orderBy("event_type")
    )


@query(
    "q_conditional_price_bands",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                WHEN o_totalprice < 200000 THEN 'mid'
                ELSE 'high' END AS band,
           o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(nullif(o_orderpriority, '1-URGENT')) AS n_non_urgent,
           CAST(SUM(CAST(greatest(o_totalprice, 100000.0) AS DECIMAL(25,6))) AS DOUBLE) AS sum_floored
    FROM orders
    GROUP BY 1, 2
    ORDER BY band, o_orderstatus
    """,
)
def q_conditional_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN banding + nullif + greatest (the reference clamps chunk
    shapes with min(shape, chunk), czi_to_zarr.py:164-170 — same idiom)."""
    o = load_table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 200000, "mid")
        .otherwise("high")
    )
    return (
        o.groupBy(band.alias("band"), F.col("o_orderstatus"))
        .agg(
            F.count("*").alias("n_orders"),
            F.count(F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))).alias(
                "n_non_urgent"
            ),
            exact_sum(F.greatest("o_totalprice", F.lit(100000.0))).alias(
                "sum_floored"
            ),
        )
        .orderBy("band", "o_orderstatus")
    )


def _pct_lohi_sql(p: float, alias: str, guard: str = "") -> str:
    """lo/hi/n aggregates for one percentile over rank-interval rows
    (v answers every rank in [cum_start, cum_end)). ``guard`` is ANDed
    into each CASE so several legs can share ONE aggregation pass."""
    lo = f"FLOOR(CAST(n - 1 AS DOUBLE) * {p!r}D)"
    g = f"{guard} AND " if guard else ""
    return (
        f"max(CASE WHEN {g}cum_start <= {lo} AND {lo} < cum_end THEN v END)"
        f" AS __lo_{alias},\n"
        f"max(CASE WHEN {g}cum_start <= {lo} + 1 AND {lo} + 1 < cum_end"
        f" THEN v END) AS __hi_{alias},\n"
        f"max(CASE WHEN {guard or 'true'} THEN n END) AS __n_{alias}"
    )


def _pct_interp_sql(p: float, alias: str) -> str:
    h = f"(CAST(__n_{alias} - 1 AS DOUBLE) * {p!r}D)"
    frac = f"({h} - CAST(FLOOR({h}) AS DOUBLE))"
    # __hi falls back to __lo: when the target rank is the group's last
    # row (n=1, or p=1.0 in future reuse) no row answers rank lo+1, so
    # __hi is NULL — the unclamped interpolation would return NULL where
    # the boundary value is correct. frac is 0 in every such case, so
    # the coalesce never shifts a genuinely interpolated value.
    hi = f"COALESCE(__hi_{alias}, __lo_{alias})"
    return (
        f"CASE WHEN {frac} > 0 THEN __lo_{alias} * (1.0D - {frac}) "
        f"+ {hi} * {frac} ELSE __lo_{alias} END AS {alias}"
    )


_PCT_QTY = [(0.25, "qty_p25"), (0.5, "qty_median"), (0.75, "qty_p75")]
_PCT_H90 = "CAST(n - 1 AS DOUBLE) * 0.9D"
#: the hybrid percentile plan as ONE static SQL statement — identical
#: plan (and bit-identical results, exp-asserted) to composing
#: column_percentiles + multi_column_percentiles_rank_select, but built
#: in one py4j crossing instead of ~120 (measured 0.50s -> 0.17s of
#: per-call construction at any SF, and 2.05s -> 1.40s end-to-end at
#: sf0.1 because analysis also runs once over one tree).
#:
#: Round 16 note (guide §1.1, recorded NEGATIVE): a GROUPING-SETS
#: fusion of the two phase-1 histograms (one lineitem scan instead of
#: two, one shared window exchange, the bounded ranked histogram
#: localCheckpoint'ed because Spark inlines multi-ref CTEs and the
#: isp branch filters push below the windows, killing exchange reuse)
#: measured a WASH in loud interleaved sessions but +0.25s in QUIET
#: bench passes (1.15 vs 0.88): the checkpoint job + per-run rebuild
#: overhead exceeds the saved scan, and at scale the saving is only the
#: flag column's IO (both forms are column-pruned; CPU identical, the
#: Expand doubles in-flight rows). Reverted to the 3-scan form.
#:
#: Round 17 re-attempt (VERDICT r16 #1; OPTIMIZATION_r17.md item 1): the
#: checkpoint objection was ELIMINATED — a checkpoint-free fusion where
#: no branch filter can descend below the windows (per-leg counts are
#: conditional CASE projections, the targets-side GROUPING() filter is
#: blocked by the (flag)-partitioned windows, and the picked join uses
#: null-safe `<=>` on the flag so no IsNotNull is inferred into one
#: inlined copy only) plans 2 lineitem scans with the grouping-set
#: stage executed ONCE via AQE ReusedExchange (plans/r17/
#: q_percentiles_exact_candidate_gsets_*.txt), results bit-identical at
#: all three SFs. Measured interleaved, order-alternated, 8 rounds:
#: sf0.1 best 1.10 (old) vs 1.35, medians ~equal; 10x layout best 1.81
#: vs 2.02, medians ~equal — a TIE at both venues. First-principles
#: agrees: column pruning means the fusion saves only the RLE-encoded
#: flag column's pass (~few % of bytes) while the Expand doubles the
#: rows through the partial aggregate, so the r16 revert stands on
#: better evidence. The 3-scan statement below stays byte-identical.
_PCT_EXACT_SQL = f"""
WITH qh AS (
    SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
    FROM lineitem GROUP BY l_returnflag, l_quantity
),
qr AS (
    SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS v, cnt,
           SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS cum_end,
           SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
    FROM qh
),
qre AS (SELECT *, cum_end - cnt AS cum_start FROM qr),
pb AS (
    SELECT l_returnflag, v, {log_bucket_id_sql("v")} AS bid
    FROM (SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem)
    WHERE v IS NOT NULL
),
bc AS (
    SELECT l_returnflag, bid, COUNT(*) AS cnt
    FROM pb GROUP BY l_returnflag, bid
),
bcw AS (
    SELECT *, SUM(cnt) OVER (PARTITION BY l_returnflag) AS n,
           SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bid) AS cum_end
    FROM bc
),
targets AS (
    SELECT l_returnflag, bid, cum_end - cnt AS cum_start, n
    FROM bcw
    WHERE ((cum_end - cnt) <= FLOOR({_PCT_H90}) AND FLOOR({_PCT_H90}) < cum_end)
       OR ((cum_end - cnt) <= LEAST(FLOOR({_PCT_H90}) + 1, n - 1)
           AND LEAST(FLOOR({_PCT_H90}) + 1, n - 1) < cum_end)
),
picked AS (
    SELECT /*+ BROADCAST(t) */ p.l_returnflag, p.v, t.n,
           t.cum_start + ROW_NUMBER() OVER (PARTITION BY p.l_returnflag, p.bid
                                            ORDER BY p.v) - 1 AS grank
    FROM pb p JOIN targets t ON p.l_returnflag = t.l_returnflag AND p.bid = t.bid
),
united AS (
    -- both legs normalized to rank-interval rows (v answers every rank
    -- in [cum_start, cum_end)) and tagged, so ONE aggregation replaces
    -- the former qagg + pagg + broadcast join — two fewer stages; the
    -- union carries O(distinct qty values) + O(selected price rows).
    SELECT l_returnflag, 1 AS isq, v, cum_start, cum_end, n FROM qre
    UNION ALL
    SELECT l_returnflag, 0 AS isq, v, grank AS cum_start,
           grank + 1 AS cum_end, n
    FROM picked
),
agg AS (
    SELECT l_returnflag,
           {", ".join(_pct_lohi_sql(p, a, "isq = 1") for p, a in _PCT_QTY)},
           {_pct_lohi_sql(0.9, "price_p90", "isq = 0")}
    FROM united GROUP BY l_returnflag
)
SELECT l_returnflag,
       {", ".join(_pct_interp_sql(p, a) for p, a in _PCT_QTY)},
       {_pct_interp_sql(0.9, "price_p90")}
FROM agg
"""


@query(
    "q_percentiles_exact",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS qty_p25,
           quantile_cont(CAST(l_quantity AS DOUBLE), 0.5)  AS qty_median,
           quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS qty_p75,
           quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9) AS price_p90
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (== DuckDB `quantile_cont`) — the
    data-driven stats the reference rejected as too slow on dask
    (czi_to_zarr.py:478-480 comments out da.percentile). Computed by the
    distributed histogram + rank-interval plan instead of Spark's
    built-in `percentile`, whose per-group value map lives in one
    unspillable agg buffer.

    Per-column plan choice is the point of this query: l_quantity has a
    BOUNDED domain (~50 distinct integers at every SF), so the
    histogram+window form is scale-safe — its window input is O(distinct)
    rows per group, never O(n) — and cheapest. l_extendedprice is
    near-unique, where that window would funnel O(n) rows through one
    task, so the price leg takes the two-phase rank-select path (bounded
    log-bucket histogram, then many small parallel sorts). No plan
    branch sorts a whole group in a single task.

    Ships as ONE static SQL statement (_PCT_EXACT_SQL) — the exact plan
    the operator composition (operators/percentile.py) builds, minus
    ~120 py4j crossings of per-call construction; the operators remain
    the general API (property-tested vs this query's oracle). A
    GROUPING-SETS phase-1 fusion was tried and reverted this round —
    see _PCT_EXACT_SQL's note."""
    ensure_views(spark, sf_dir, "lineitem")
    return sorted_small(spark.sql(_PCT_EXACT_SQL), "l_returnflag")


@query(
    "q_percentiles_rank_select",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS qty_p25,
           quantile_cont(CAST(l_quantity AS DOUBLE), 0.5)  AS qty_median,
           quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS qty_p75,
           quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9) AS price_p90
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_percentiles_rank_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as q_percentiles_exact via the fused two-phase
    rank-select operator (operators/percentile.py:
    multi_column_percentiles_rank_select): both value columns stack
    into one (cid, v) pipeline, a bounded bucket histogram locates the
    target ranks, then only the hit buckets are sorted — ONE scan, no
    per-group single-task sort, so the plan stays fully parallel even
    with FEW groups over HUGE data (the one scale gap of the window
    form)."""
    li = load_table(spark, sf_dir, "lineitem")
    return sorted_small(
        multi_column_percentiles_rank_select(
            li,
            ["l_returnflag"],
            {
                "l_quantity": [
                    (0.25, "qty_p25"),
                    (0.5, "qty_median"),
                    (0.75, "qty_p75"),
                ],
                "l_extendedprice": [(0.9, "price_p90")],
            },
        ),
        "l_returnflag",
    )


@query(
    "q_approx_aggregates",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           TRUE AS distinct_within_5pct,
           TRUE AS median_within_p45_p55
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — the 100-TB path: HLL++ count-distinct and
    quantile sketches, one pass, bounded memory. FIXTURES.md §3 bans
    hashing approximate values directly, so the checkable form emits
    tolerance BOOLEANS (|approx − exact| within bound) that the driver
    hash-compares against a constant-true oracle. HLL is deterministic
    for fixed input, so the booleans are stable across runs. The exact
    countDistinct/percentile companions here exist only to bound the
    sketches; at 100 TB a user runs the sketch columns alone.

    Two scale traps fixed in round 4, worth naming because both hide in
    one innocuous-looking ``agg(...)`` call (19.4s -> ~1.5s at sf0.1):
    - the exact p45/p55 band comes from the repo's two-phase
      rank-select operator, NOT the built-in ``percentile`` (a
      TypedImperativeAggregate holding every distinct value of a group
      in one unspillable buffer);
    - ``countDistinct`` runs in its OWN aggregation: mixing an exact
      DISTINCT aggregate with sketch aggregates makes Catalyst's
      distinct-rewrite key the partial aggregate by (group, distinct
      col) — so every sketch builds ONE BUFFER PER DISTINCT KEY and
      then merges ~|distinct| sketches per group (measured: countDistinct
      + percentile_approx together 10.3s, separately 0.4s + 0.5s; all
      four aggregates together 18s). The per-flag scalars broadcast-join
      back (3 rows each)."""
    li = load_table(spark, sf_dir, "lineitem")
    band = multi_column_percentiles_rank_select(
        li,
        ["l_returnflag"],
        {"l_extendedprice": [(0.45, "_p45"), (0.55, "_p55")]},
    )
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.approx_count_distinct("l_partkey", 0.01).alias("_ad"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("_am"),
    )
    exact_cd = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("_ed")
    )
    return (
        agg.join(F.broadcast(exact_cd), "l_returnflag")
        .join(F.broadcast(band), "l_returnflag")
        .select(
            "l_returnflag",
            "n_rows",
            (
                F.abs(F.col("_ad") - F.col("_ed"))
                <= 0.05 * F.col("_ed")
            ).alias("distinct_within_5pct"),
            (
                (F.col("_am") >= F.col("_p45"))
                & (F.col("_am") <= F.col("_p55"))
            ).alias("median_within_p45_p55"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_sketch_reaggregation",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS n_shards,
           TRUE AS merged_within_10pct
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_sketch_reaggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch RE-AGGREGATION — the property that makes sketches the
    100-TB path: per-shard HLL sketches (here sharded by linestatus)
    merge to coarser groups WITHOUT rescanning the data, i.e. a rollup
    materialized at fine grain serves every coarser query. Checkable
    form per FIXTURES.md §3: the merged estimate must sit within 10% of
    the exact distinct count (HLL is deterministic for fixed input, so
    the boolean is stable; default lgConfigK=12 gives ~1.6% expected
    error, so 10% leaves generous headroom against a driver data
    regeneration — the margin actually observed is pinned much tighter
    by tests/test_curation.py's relative-error assertion, which is
    where a near-threshold drift becomes diagnosable); the oracle is
    the constant-true frame."""
    li = load_table(spark, sf_dir, "lineitem")
    shards = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.hll_sketch_agg("l_partkey").alias("sk")
    )
    merged = shards.groupBy("l_returnflag").agg(
        F.expr("CAST(COUNT(*) AS BIGINT) AS n_shards"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_approx"),
    )
    exact = li.groupBy("l_returnflag").agg(
        F.expr("COUNT(DISTINCT l_partkey) AS _exact")
    )
    return (
        merged.join(exact, "l_returnflag")
        .select(
            "l_returnflag",
            "n_shards",
            (
                F.abs(F.col("_approx") - F.col("_exact"))
                <= 0.10 * F.col("_exact")
            ).alias("merged_within_10pct"),
        )
        .transform(lambda d: sorted_small(d, "l_returnflag"))
    )


@query(
    "q_stddev_variance",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS s2,
           sqrt((CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,6))) AS DOUBLE)
                 - CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE)
                   * CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*))
                / (COUNT(*) - 1)) AS qty_stddev
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_stddev_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev via exact decimal moments (sum, sum-of-squares).
    Native stddev_samp accumulates doubles in partition order, so two
    correct engines differ in low bits; the moment formula over DECIMAL
    sums is deterministic on both — same reason as functions/numeric.py."""
    li = load_table(spark, sf_dir, "lineitem")
    s1d = F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
    s2d = F.sum(
        (F.col("l_quantity") * F.col("l_quantity")).cast("decimal(30,6)")
    ).cast("double")
    n = F.count("*")
    return (
        li.groupBy("l_returnflag")
        .agg(
            n.alias("n"),
            s1d.alias("s1"),
            s2d.alias("s2"),
            F.sqrt((s2d - s1d * s1d / n) / (n - F.lit(1))).alias("qty_stddev"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_exists_subquery",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped correlated EXISTS, via the SQL surface (temp
    views + spark.sql). Catalyst decorrelates it into a left-semi join —
    same physical plan as q_semi_join, proving the SQL and DataFrame
    front-ends meet in one optimizer."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o.o_orderpriority, COUNT(*) AS n_orders
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
          AND o.o_orderdate <  TIMESTAMP '1996-10-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
        """
    )


@query(
    "q_scalar_subquery",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c_acctbal) * 1.5 FROM customer)
      AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subquery pack: uncorrelated scalar subquery (evaluated once,
    broadcast as a literal — no per-row recompute) plus a correlated
    EXISTS that Catalyst decorrelates into a left-semi join, so this one
    query demonstrates both §2B subquery shapes. (avg as plain double is
    safe here: the threshold sits far from any customer's exact balance,
    and both engines agree to ~1e-10 relative.)"""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer c
        WHERE c_acctbal > (SELECT AVG(c_acctbal) * 1.5 FROM customer)
          AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        ORDER BY c_custkey
        """
    )


@query(
    "q_minmax_by",
    oracle="""
    SELECT o_orderstatus,
           arg_max(o_orderkey, o_totalprice) AS biggest_order,
           arg_min(o_orderkey, o_totalprice) AS smallest_order,
           CAST(max(o_totalprice) AS DOUBLE) AS max_price,
           CAST(min(o_totalprice) AS DOUBLE) AS min_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax aggregation) — the single-pass replacement
    for the self-join-on-max anti-pattern. Deterministic because
    o_totalprice values are distinct within each status group at every
    SF (verified in tests; ties would make argmax engine-dependent)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
            F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
            F.max("o_totalprice").cast("double").alias("max_price"),
            F.min("o_totalprice").cast("double").alias("min_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q_map_functions",
    oracle="""
    WITH parsed AS (
        SELECT event_id, props,
               json_keys(props) AS ks
        FROM events WHERE event_id < 2000
    ),
    exploded AS (
        SELECT event_id, unnest(ks) AS key_name, len(ks) AS n_keys, props
        FROM parsed
    )
    SELECT event_id, key_name, n_keys,
           CAST(json_extract(props, '$.' || key_name) AS BIGINT) AS key_value,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_direct
    FROM exploded
    ORDER BY event_id, key_name
    """,
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map/json pack (§2B scalar: map): ``from_json`` to a typed MAP,
    ``map_keys``/``map_values`` zipped with ``arrays_zip``, exploded to
    (key, value) rows, plus direct ``element_at`` lookup. All JVM
    builtins; the JSON parse is one pass per row (generalizes the
    reference's nested-JSON voxel lookup, zeiss_job.py:64-89)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    parsed = ev.select(
        "event_id",
        F.from_json("props", "map<string,bigint>").alias("m"),
    )
    zipped = parsed.select(
        "event_id",
        F.size(F.map_keys(F.col("m"))).alias("n_keys"),
        F.element_at(F.col("m"), "k").alias("k_direct"),
        F.explode(F.arrays_zip(F.map_keys(F.col("m")), F.map_values(F.col("m")))).alias("kv"),
    )
    return zipped.select(
        "event_id",
        F.col("kv.0").alias("key_name"),
        "n_keys",
        F.col("kv.1").alias("key_value"),
        "k_direct",
    ).orderBy("event_id", "key_name")


@query(
    "q_lead_lag_gaps",
    oracle="""
    SELECT o_custkey, o_orderkey,
           LEAD(o_orderkey) OVER w AS next_order,
           LAG(o_orderkey) OVER w AS prev_order,
           LEAD(o_orderkey, 2, -1) OVER w AS next2_order,
           CAST(date_diff('day', LAG(o_orderdate) OVER w, o_orderdate) AS BIGINT)
               AS days_since_prev
    FROM orders
    WHERE o_custkey % 13 = 0
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
)
def q_lead_lag_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window pack: lead/lag with offsets and defaults, plus
    event-gap datediff — one window spec, one shuffle. The order gap per
    customer is the relational form of the reference's between-level
    timing deltas (zeiss_job.py:224,238)."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 13 == 0)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey", 2, -1).over(w).alias("next2_order"),
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w))
        .cast("long")
        .alias("days_since_prev"),
    ).orderBy("o_custkey", "o_orderkey")


@query(
    "q_grouping_sets",
    oracle="""
    SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
           COALESCE(l_linestatus, '<all>') AS linestatus,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY g_flag, g_status, returnflag, linestatus
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): three simultaneous
    grouping shapes in ONE pass over the fact table — Spark expands the
    sets into a single Expand + hash-agg plan rather than three scans.
    GROUPING() flags disambiguate the null-vs-missing cases."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
               COALESCE(l_linestatus, '<all>') AS linestatus,
               GROUPING(l_returnflag) AS g_flag,
               GROUPING(l_linestatus) AS g_status,
               CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY g_flag, g_status, returnflag, linestatus
        """
    )


@query(
    "q_mad_robust_stats",
    oracle="""
    WITH med AS (
        SELECT l_returnflag,
               quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS med
        FROM lineitem GROUP BY l_returnflag
    ),
    dev AS (
        SELECT l.l_returnflag,
               abs(CAST(l.l_extendedprice AS DOUBLE) - m.med) AS adev,
               m.med
        FROM lineitem l JOIN med m ON m.l_returnflag = l.l_returnflag
    )
    SELECT l_returnflag,
           MAX(med) AS price_median,
           quantile_cont(adev, 0.5) AS price_mad
    FROM dev
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_mad_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust spread
    statistic outlier-heavy pipelines use instead of stddev. Two
    composed rank-select passes: exact median per group (broadcast
    back, group-sized), then exact median of |x - median| through the
    same operator. Each pass is the scale-safe two-phase plan, so the
    whole statistic is computable at any group count / data size with
    no per-group single-task sort; both interpolations are the
    DuckDB-weighted form, so the composition stays bit-identical
    across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    med = multi_column_percentiles_rank_select(
        li, ["l_returnflag"], {"l_extendedprice": [(0.5, "med")]}
    )
    dev = li.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag",
        "med",
        F.abs(F.col("l_extendedprice").cast("double") - F.col("med")).alias("adev"),
    )
    mad = multi_column_percentiles_rank_select(
        dev, ["l_returnflag"], {"adev": [(0.5, "price_mad")]}
    )
    meds = dev.groupBy("l_returnflag").agg(F.max("med").alias("price_median"))
    return sorted_small(
        meds.join(F.broadcast(mad), "l_returnflag").select(
            "l_returnflag", "price_median", "price_mad"
        ),
        "l_returnflag",
    )
