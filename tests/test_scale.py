"""Plan-shape tests: the scale levers actually change the physical plan.

These assert on the *executed plan*, not results — a bucketed join that
still shuffles or a filter that doesn't reach the scan is a perf bug
even when the answer is right.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aind_protein_data_transformation_spark.catalog import load_table
from aind_protein_data_transformation_spark.plans.scale import (
    bucketed_join_is_shuffle_free,
    explain_has,
    salted_sum,
    write_bucketed,
)


def test_bucketed_join_plans_no_exchange(spark, sf_dir, tmp_path_factory):
    root = tmp_path_factory.mktemp("bucketed")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "orders_b", "o_orderkey", 8, ["o_orderkey"], path=str(root / "o"))
    write_bucketed(lineitem, "lineitem_b", "o_orderkey", 8, ["o_orderkey"], path=str(root / "l"))
    # Disable broadcast so the test exercises the SMJ path bucketing
    # serves; at 100 TB neither side broadcasts anyway.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert bucketed_join_is_shuffle_free(spark, "orders_b", "lineitem_b", "o_orderkey")
        # sanity: same join on the raw (unbucketed) tables DOES exchange
        raw = orders.join(lineitem, "o_orderkey")
        assert explain_has(raw, "Exchange")["Exchange"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")


def test_salted_sum_matches_direct(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    direct = {
        r.l_returnflag: r.total
        for r in li.groupBy("l_returnflag")
        .agg(F.sum(F.col("l_quantity").cast("decimal(25,6)")).cast("double").alias("total"))
        .collect()
    }
    salted = {
        r.l_returnflag: r.total
        for r in salted_sum(li, "l_returnflag", "l_quantity", n_salts=8).collect()
    }
    assert salted == direct


def test_salted_sum_plans_two_aggregation_exchanges(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    plan = (
        salted_sum(li, "l_returnflag", "l_quantity")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") >= 2  # (key, salt) then (key)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 30).select(
        "l_orderkey", "l_quantity"
    )
    plan = li._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]" in plan
    # column pruning: the scan schema must not include unused columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[-1]


def test_dim_join_broadcasts(spark, sf_dir):
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    joined = c.join(n, c.c_nationkey == n.n_nationkey)
    flags = explain_has(joined, "BroadcastHashJoin")
    assert flags["BroadcastHashJoin"]


def test_percentiles_rank_select_no_group_wide_sort(spark, sf_dir):
    """The two-phase rank-select percentile plan must never sort a whole
    group in one task: every Window in the plan partitions either by the
    bounded bucket histogram key (group, bid) or runs over the histogram
    itself — no `Window [... ] (no partition)` and no windowspec whose
    partition is the bare group column over raw rows (which would funnel
    O(n/groups) rows through single tasks)."""
    from aind_protein_data_transformation_spark.queries.scalar_packs import (
        q_percentiles_exact,
        q_percentiles_rank_select,
    )

    # Both registered percentile queries must hold the invariant:
    # q_percentiles_rank_select everywhere, and q_percentiles_exact's
    # hybrid plan (histogram-window for the bounded-domain qty column,
    # rank-select for near-unique price) since round 4.
    for fn in (q_percentiles_rank_select, q_percentiles_exact):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        # no unpartitioned window anywhere
        assert "No Partition Defined" not in plan
        for frag in plan.split("Window ")[1:]:
            spec = frag.split("\n")[0]
            # every window partition key set must include the bucket id,
            # OR operate post-histogram (its input has a cnt aggregate col)
            assert ("bid" in spec) or ("cnt" in spec), spec


def test_q21_self_joins_extract_equi_key(spark, sf_dir):
    """The EXISTS / NOT EXISTS self-correlations join lineitem to itself
    on (orderkey equal, suppkey not-equal). Catalyst must extract the
    orderkey equi-key into a hash-based join with the inequality as a
    residual — a BroadcastNestedLoopJoin here would be |lineitem|^2 at
    scale."""
    from aind_protein_data_transformation_spark.queries.tpch_extra import (
        q21_sole_blame_suppliers,
    )

    plan = (
        q21_sole_blame_suppliers(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan


def test_q11_threshold_is_single_row_cross_join(spark, sf_dir):
    """q11 compares every supplier group against a global scalar — the
    ONE legitimate nested-loop in the registry: its build side is the
    1-row threshold aggregate. Pin that shape so a regression (e.g. the
    broadcast moving to the group side) can't silently go quadratic."""
    from aind_protein_data_transformation_spark.queries.tpch_extra import (
        q11_important_suppliers,
    )

    plan = (
        q11_important_suppliers(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    nl = [frag for frag in plan.split("BroadcastNestedLoopJoin")[1:]]
    assert len(nl) == 1, plan
    # the broadcast build side of that join is the threshold aggregate
    build = plan.split("BroadcastNestedLoopJoin")[1]
    assert "threshold" in build.split("BroadcastExchange")[1], plan


def test_q19_disjunction_residues_push_to_both_scans(spark, sf_dir):
    """The OR-of-ANDs predicate must not evaluate only post-join: Catalyst
    extracts each side's union of disjunct constraints into the scans
    (brand/size on part, quantity on lineitem)."""
    from aind_protein_data_transformation_spark.queries.tpch_extra import (
        q19_disjunctive_pushdown,
    )

    plan = (
        q19_disjunctive_pushdown(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    part_scan = next(s for s in plan.split("FileScan parquet") if "part.parquet" in s)
    li_scan = next(s for s in plan.split("FileScan parquet") if "lineitem.parquet" in s)
    assert "Or(" in part_scan.split("PushedFilters")[-1].split("ReadSchema")[0]
    assert "Or(" in li_scan.split("PushedFilters")[-1].split("ReadSchema")[0]


def test_dedup_embedding_cosine_is_bucketed_not_all_pairs(spark, sf_dir):
    """The embedding near-dup query must block by probed IVF bucket:
    no CartesianProduct anywhere, and the only nested-loop joins are
    broadcast centroid assigns (build side = the bounded centroid
    table), never a corpus x corpus pair stage. Recall is exact at this
    data: the blocked result equals brute force (mutant pairs sit at
    cosine ~0.999, so original and mutant rank centroids identically)."""
    from aind_protein_data_transformation_spark.functions.vector import dot, unit_normalize
    from aind_protein_data_transformation_spark.queries.llm_similarity import (
        dedup_embedding_cosine,
    )

    df = dedup_embedding_cosine(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    for frag in plan.split("BroadcastNestedLoopJoin")[1:]:
        # every NLJ build side must be the centroid broadcast, whose
        # projected columns are (centroid_id, cvec)
        assert "cvec" in frag.split("BroadcastExchange")[1], plan

    emb = load_table(spark, sf_dir, "embeddings")
    perturbed = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.size("embedding")),
            lambda i: (
                F.element_at("embedding", i).cast("double") + 0.02 * ((i % 3) - 1)
            ).cast("float"),
        ).alias("embedding"),
    )
    corpus = (
        emb.select("vec_id", "embedding")
        .unionByName(perturbed)
        .select("vec_id", unit_normalize("embedding").alias("en"))
    )
    a = corpus.select(F.col("vec_id").alias("id_a"), F.col("en").alias("ea"))
    b = corpus.select(F.col("vec_id").alias("id_b"), F.col("en").alias("eb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(dot("ea", "eb") >= 0.9)
        .select("id_a", "id_b")
    )
    got = {(r.id_a, r.id_b) for r in df.collect()}
    want = {(r.id_a, r.id_b) for r in brute.collect()}
    assert got == want


def test_dedup_embedding_srp_is_banded_not_all_pairs(spark, sf_dir):
    """The SRP-LSH near-dup query must block by shared signature band:
    no CartesianProduct; the only nested-loop join is the ONE-row
    hyperplane-matrix broadcast (build side projects the `wm` weight
    column); the band self-join and verify joins are hash joins. Recall
    is exact at this data: the banded result equals brute force (mutant
    pairs agree on ~99% of sign bits, so an 8-bit band always matches
    here)."""
    from aind_protein_data_transformation_spark.functions.vector import (
        dot,
        unit_normalize,
    )
    from aind_protein_data_transformation_spark.queries.llm_similarity import (
        dedup_embedding_srp,
    )

    df = dedup_embedding_srp(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    for frag in plan.split("BroadcastNestedLoopJoin")[1:]:
        # every NLJ build side must be the 1-row weight matrix
        assert "wm" in frag.split("BroadcastExchange")[1], plan

    emb = load_table(spark, sf_dir, "embeddings")
    perturbed = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.size("embedding")),
            lambda i: (
                F.element_at("embedding", i).cast("double") + 0.02 * ((i % 3) - 1)
            ).cast("float"),
        ).alias("embedding"),
    )
    corpus = (
        emb.select("vec_id", "embedding")
        .unionByName(perturbed)
        .select("vec_id", unit_normalize("embedding").alias("en"))
    )
    a = corpus.select(F.col("vec_id").alias("id_a"), F.col("en").alias("ea"))
    b = corpus.select(F.col("vec_id").alias("id_b"), F.col("en").alias("eb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(dot("ea", "eb") >= 0.9)
        .select("id_a", "id_b")
    )
    got = {(r.id_a, r.id_b) for r in df.collect()}
    want = {(r.id_a, r.id_b) for r in brute.collect()}
    assert got == want and got


def test_minhash_verify_plan_is_bucketed(spark, sf_dir):
    """The MinHash pipeline's pair stage must stay bucketed: no
    CartesianProduct, no nested-loop join, and the exact-Jaccard verify
    must consume the per-doc hash sets (array_intersect on the signature
    frame) — never a shuffle join of an exploded shingle relation
    against itself. The only FORCED broadcast is the candidate pair
    keys (bounded by the LSH candidate count); the second verify join
    deliberately carries no hint so a dup-heavy corpus can degrade to a
    spillable doc_id hash join instead of OOMing the driver — so this
    test does NOT pin that join's strategy, only that the pair-key
    broadcast planned and nothing went quadratic."""
    from aind_protein_data_transformation_spark.queries.llm_dedup import dedup_minhash_lsh

    plan = (
        dedup_minhash_lsh(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the verify is array_intersect over the signature frame, with the
    # pair keys broadcast; the band self-join must also be a hash join
    # on the packed band keys
    assert "array_intersect" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_minhash_signature_materializes_once(spark, sf_dir):
    """All four consumers of the signature frame (two band sides + two
    verify probes) must read the ONE checkpointed relation: 4x
    ExistingRDD scans and ZERO parquet scans in the verify plan.
    Regression pinned r16: the pre-r16 WITH-CTE verify silently
    bypassed reuse (CTERelationDef insides are never substituted on
    Spark 4.x) and the whole shingle+signature pipeline executed four
    times per run."""
    from aind_protein_data_transformation_spark.queries.llm_dedup import dedup_minhash_lsh

    df = dedup_minhash_lsh(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 4, plan[:3000]
    assert "Scan parquet" not in plan, plan[:3000]


def test_dedup_semantic_keep_is_cluster_bucketed(spark, sf_dir):
    """SemDeDup's pair stage must join on the cluster bucket (equi),
    never corpus x corpus: no CartesianProduct, and every nested-loop
    join is the broadcast centroid assignment."""
    from aind_protein_data_transformation_spark.queries.llm_similarity import (
        dedup_semantic_keep,
    )

    plan = (
        dedup_semantic_keep(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan
    for frag in plan.split("BroadcastNestedLoopJoin")[1:]:
        assert "centroid_vec" in frag.split("BroadcastExchange")[1], plan


def test_static_sql_forms_keep_pushdown_and_broadcasts(spark, sf_dir):
    """The static-SQL query forms must preserve the physical plan
    properties the Column forms had: pushed scan filters + column
    pruning (q1), broadcast dim joins (q3/q5), and top-k via
    TakeOrderedAndProject rather than a global sort (q3/q10). Guards
    against a future SQL edit silently losing pushdown or a hint."""
    from aind_protein_data_transformation_spark.queries.relational import (
        q1_pricing_summary,
        q3_shipping_priority,
        q5_local_supplier_volume,
    )
    from aind_protein_data_transformation_spark.queries.tpch_extra import q10_returned_items

    p1 = q1_pricing_summary(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in p1 and "l_shipdate" in p1.split("PushedFilters")[1][:200]
    assert "l_comment" not in p1.split("ReadSchema")[-1]

    p3 = q3_shipping_priority(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p3
    assert "BroadcastHashJoin" in p3

    p5 = q5_local_supplier_volume(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert p5.count("BroadcastHashJoin") >= 4  # customer/supplier/nation/region

    p10 = q10_returned_items(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p10
    # the returnflag + date filters must reach the scans
    assert "EqualTo(l_returnflag,R)" in p10
    assert "o_orderdate" in p10.split("PushedFilters")[1][:400] or "o_orderdate" in p10


def test_aqe_splits_skewed_join_partitions(spark, tmp_path_factory):
    """The 100-TB skew story is AQE's skew-join split, not hand salting:
    build a join where one key holds ~90% of the fact rows, force the
    sort-merge path (no broadcast), lower the skew thresholds to match
    the fixture size, and assert the executed plan actually marks the
    join input `skew=true` (i.e. the hot partition was split at
    runtime). Guards the session defaults that keep skewJoin enabled."""
    root = tmp_path_factory.mktemp("skew")
    # hot key 0: 500k rows; keys 1..2000: 10 rows each. The payload must
    # FLOW THROUGH the join (referenced downstream) — if the join only
    # needs `k`, column pruning shrinks the hot shuffle partition below
    # any sane skew threshold at fixture scale.
    fact = spark.range(500_000).selectExpr(
        "CAST(0 AS BIGINT) AS k", "repeat('x', 32) AS payload"
    ).unionAll(
        spark.range(20_000).selectExpr(
            "(id % 2000) + 1 AS k", "repeat('y', 32) AS payload"
        )
    )
    dim = spark.range(2_001).selectExpr("id AS k", "concat('d', id) AS name")
    fact.write.parquet(str(root / "fact"))
    dim.write.parquet(str(root / "dim"))

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    ]
    old = {key: spark.conf.get(key) for key in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        f = spark.read.parquet(str(root / "fact"))
        d = spark.read.parquet(str(root / "dim"))
        joined = (
            f.join(d, "k")
            .selectExpr("name", "length(payload) AS lp")
            .groupBy("name")
            .sum("lp")
        )
        # execute THIS DataFrame's queryExecution (a sink write clones
        # the plan, leaving this one isFinalPlan=false)
        assert len(joined.collect()) == 2001
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:4000]
    finally:
        for key, val in old.items():
            spark.conf.set(key, val)


def _executed_plan(spark, sf_dir, name):
    import aind_protein_data_transformation_spark.queries as q

    return (
        q.REGISTRY[name].fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_pivot_plan_is_two_level_aggregate(spark, sf_dir):
    """Explicit-values PIVOT must not collect values to the driver and
    must shuffle combined cells, not raw rows: a two-level aggregate
    (fine-key partials -> pivotfirst) with exactly two hash exchanges."""
    plan = _executed_plan(spark, sf_dir, "q_pivot_status_by_priority")
    assert "pivotfirst" in plan, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 2, plan[:4000]


def test_sessionize_plan_reuses_user_partitioning(spark, sf_dir):
    """ONE exchange for the whole query (r16): the up-front range
    partition on user_id serves both window passes, the session
    aggregate ((user_id, session_id) is clustered by it) AND the final
    order (partition-local sort over ascending user_id ranges) — no
    hash exchange, no second range exchange."""
    plan = _executed_plan(spark, sf_dir, "q_sessionize_events")
    assert plan.count("Exchange hashpartitioning") == 0, plan[:4000]
    assert plan.count("Exchange rangepartitioning") == 1, plan[:4000]


def test_unpivot_plan_is_generator_projection(spark, sf_dir):
    """UNPIVOT must plan as an Expand over the feeding aggregate — no
    join, no extra shuffle beyond the aggregate's own exchange."""
    plan = _executed_plan(spark, sf_dir, "q_unpivot_flag_measures")
    assert "Expand" in plan, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:4000]
    assert "Join" not in plan, plan[:4000]


def test_ntile_plan_has_no_unpartitioned_data_window(spark, sf_dir):
    """The decile query's global ranking must run through the two-phase
    prefix-sum (every Window over data partitions by _pid; the only
    other window is the k-row per-partition offset merge) — never a
    bare NTILE/ROW_NUMBER whose unpartitioned window funnels the
    relation through one task."""
    import aind_protein_data_transformation_spark.queries as q

    plan = (
        q.REGISTRY["q_ntile_wealth_deciles"].fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ntile" not in plan.lower(), plan[:3000]
    for frag in plan.split("Window ")[1:]:
        spec = frag.split("\n")[0]
        assert "_pid" in spec, spec


def test_interval_range_window_single_exchange(spark, sf_dir):
    """ONE exchange total (r16): the up-front range partition on
    user_id serves the trailing-1h window AND the final order — a
    second exchange would mean the frame planned as something other
    than a single partitioned window or the sort-fusion regressed."""
    plan = _executed_plan(spark, sf_dir, "q_window_interval_range")
    assert plan.count("Exchange hashpartitioning") == 0, plan[:4000]
    assert plan.count("Exchange rangepartitioning") == 1, plan[:4000]


def test_window_pack_single_exchange(spark, sf_dir):
    """q_window_running_totals / q_topk_per_group (r16): one range
    exchange on the window key serves the window and the final order —
    no hash exchange, no second range exchange, and (for topk) the
    rank filter still plans its WindowGroupLimit."""
    for name in ("q_window_running_totals", "q_topk_per_group"):
        plan = _executed_plan(spark, sf_dir, name)
        assert plan.count("Exchange hashpartitioning") == 0, (name, plan[:4000])
        assert plan.count("Exchange rangepartitioning") == 1, (name, plan[:4000])
    assert "WindowGroupLimit" in _executed_plan(spark, sf_dir, "q_topk_per_group")


def test_text_quality_fans_out_the_narrow_scan(spark, sf_dir):
    """The quality projection must fan the corpus out of the single-
    row-group scan task before its regex/HOF kernel — since r16 via the
    ONE range exchange on doc_id that also carries the final order
    (round-robin + a second range exchange before) — and the tokenize
    HOF must evaluate ONCE: the scan-stage filter is the cheap RLIKE
    predicate, not a pushed-down copy of the tokenizer."""
    from aind_protein_data_transformation_spark.plans.scale import fanout_width

    plan = _executed_plan(spark, sf_dir, "text_quality_stats")
    assert "RoundRobinPartitioning" not in plan, plan[:3000]
    assert f"rangepartitioning(doc_id" in plan, plan[:3000]
    assert plan.count("Exchange rangepartitioning") == 1, plan[:4000]
    # the duplicate-evaluation guard: exactly one `filter(split(` kernel
    # evaluation site (the projection), none in the scan-stage filter
    assert plan.count("RLIKE") >= 1, plan[:3000]


def test_rollup_shape(spark, sf_dir):
    """The registered rollup (literal GROUP BY ROLLUP, restored after
    the round-6 order-bias retraction — see relational.py's note and
    BENCH.md "Round-6: the two ugliest constants") broadcasts its dims
    and produces all three levels."""
    from aind_protein_data_transformation_spark.queries.relational import (
        q_rollup_region_nation_revenue,
    )

    df = q_rollup_region_nation_revenue(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    rows = {(r.region_name, r.nation_name) for r in df.collect()}
    assert ("<ALL>", "<ALL>") in rows
    regions = {r for r, n in rows if n == "<ALL>" and r != "<ALL>"}
    assert len(regions) == 5


def test_rollup_empty_input_yields_no_rows(spark):
    """Documents the engine-level edge: Spark's GROUP BY ROLLUP yields
    ZERO rows over empty input (the registered query inherits this);
    DuckDB emits the grand-total row. Unreachable through the oracle
    harness (customer is non-empty at every sf) — see _ROLLUP_SQL's
    note for the measured-and-rejected UNION ALL closing arm."""
    from aind_protein_data_transformation_spark import catalog
    import aind_protein_data_transformation_spark.queries.relational as R

    try:
        spark.createDataFrame(
            [], "c_custkey long, c_nationkey long, c_acctbal double"
        ).createOrReplaceTempView("customer")
        spark.createDataFrame(
            [(0, 0, "N")], "n_nationkey long, n_regionkey long, n_name string"
        ).createOrReplaceTempView("nation")
        spark.createDataFrame(
            [(0, "R")], "r_regionkey long, r_name string"
        ).createOrReplaceTempView("region")
        literal = spark.sql(
            """SELECT COALESCE(r_name,'<ALL>') region_name,
                      COALESCE(n_name,'<ALL>') nation_name, COUNT(*) n
               FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
               JOIN region r ON n.n_regionkey = r.r_regionkey
               GROUP BY ROLLUP (r_name, n_name)"""
        ).collect()
        rewrite = spark.sql(R._ROLLUP_SQL).collect()
        assert literal == [] and rewrite == []
    finally:
        # the shared-session view memo must not serve these stand-in
        # views to later tests (ensure_views skips registered names)
        memo = catalog._VIEW_MEMO.get(spark, {})
        for t in ("customer", "nation", "region"):
            spark.catalog.dropTempView(t)
            memo.pop(t, None)


def test_assign_buckets_aggregate_argmax_matches_brute_force(spark):
    """r17: assign_buckets' per-vector argmax became a max(struct)
    aggregate (map-side combine; the exchange carries one row per
    VECTOR) instead of a row_number window. The struct key must replay
    the window's exact order: highest cosine wins, NULL cosines lose to
    any real cosine, exact ties break to the LOWEST centroid_id, and a
    zero-norm vector (all cosines null) lands in the lowest-id valid
    bucket. Brute-forced here in Python with the same rules, on data
    engineered to hit every branch: exact cosine ties (colinear
    centroids), a zero-norm vector, and a zero-norm (excluded)
    centroid."""
    import math

    from aind_protein_data_transformation_spark.operators.similarity import (
        assign_buckets,
    )

    vecs = [
        (1, [1.0, 0.0]),
        (2, [0.0, 2.0]),
        (3, [3.0, 3.0]),
        (4, [0.0, 0.0]),   # zero-norm: all cosines null
        (5, [-1.0, -1.0]),
    ]
    cents = [
        (0, [0.0, 0.0]),   # zero-norm centroid: excluded
        (7, [2.0, 2.0]),
        (9, [1.0, 1.0]),   # colinear with 7: exact tie on every vector
        (11, [1.0, 0.0]),
    ]
    got = {
        r.vid: r.bucket
        for r in assign_buckets(
            spark.createDataFrame(vecs, "vid bigint, ve array<double>"),
            spark.createDataFrame(
                cents, "centroid_id bigint, centroid_vec array<double>"
            ),
        ).collect()
    }

    def brute(ve):
        best = None
        for cid, cv in cents:
            cn = math.sqrt(sum(x * x for x in cv))
            if cn == 0:
                continue  # excluded centroid
            vn = math.sqrt(sum(x * x for x in ve))
            cos = None if vn == 0 else sum(a * b for a, b in zip(ve, cv)) / (vn * cn)
            key = (cos is not None, cos if cos is not None else float("-inf"), -cid)
            if best is None or key > best[0]:
                best = (key, cid)
        return best[1]

    assert got == {vid: brute(ve) for vid, ve in vecs}
    assert got[4] == 7  # zero-norm vector -> lowest-id valid bucket
    assert got[3] == 7  # tie between colinear 7 and 9 -> lower id


def test_assign_buckets_plans_partial_aggregate_not_window(spark):
    """r17 plan shape (guide §2.3): the argmax must be a partial+final
    aggregate around the exchange — no Window, no per-pair rows through
    the shuffle — and the norms must be hoisted (one _vn projection
    below the join, not three folds per pair). The struct-keyed max
    plans as SortAggregate (struct buffers are not hash-aggregable);
    what matters is the PARTIAL side: map-side combine shrinks the
    exchange to one row per vector."""
    from aind_protein_data_transformation_spark.operators.similarity import (
        assign_buckets,
    )

    vecs = spark.range(100).selectExpr(
        "id AS vid", "array(CAST(id AS DOUBLE), 1.0) AS ve"
    )
    cents = spark.range(0, 100, 25).selectExpr(
        "id AS centroid_id", "array(1.0, CAST(id AS DOUBLE)) AS centroid_vec"
    )
    plan = (
        assign_buckets(vecs, cents)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan, plan[:3000]
    assert "partial_max" in plan, plan[:3000]
    assert plan.count("SortAggregate") + plan.count("HashAggregate") >= 2, plan[:3000]
    assert "_vn" in plan, plan[:3000]


def test_cluster_components_static_sql_matches_operator_composition(spark, sf_dir):
    """r17: dedup_cluster_components' edge pipeline became the
    checkpointed static-SQL form. Its verified pairs must equal the
    operator composition (shingle_set + minhash_signatures +
    lsh_candidate_pairs + jaccard_for_pairs) row for row — the
    operators stay the general API and the oracle replays THEIR
    semantics (distinct-string-then-hash, exploded COUNT(*) verify)."""
    from pyspark.sql import functions as F

    from aind_protein_data_transformation_spark.catalog import ensure_views
    from aind_protein_data_transformation_spark.operators.dedup import (
        jaccard_for_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_set,
    )
    from aind_protein_data_transformation_spark.plans.scale import fanout_width
    from aind_protein_data_transformation_spark.queries.llm_dedup import (
        _CC_SHINGLES_SQL,
        _CC_SIG_SQL,
        _CC_VERIFY_SQL,
        _corpus_near,
    )

    shingles = shingle_set(_corpus_near(spark, sf_dir), k=3)
    sig = minhash_signatures(shingles)
    composed = (
        jaccard_for_pairs(
            lsh_candidate_pairs(sig), shingles, sizes=sig.select("doc_id", "n")
        )
        .filter(F.col("jaccard") >= 0.4)
        .select("doc_a", "doc_b")
    )
    ensure_views(spark, sf_dir, "documents")
    spark.sql(
        _CC_SHINGLES_SQL.format(fan=fanout_width(spark))
    ).localCheckpoint().createOrReplaceTempView("_cc_sh")
    spark.sql(_CC_SIG_SQL).localCheckpoint().createOrReplaceTempView("_cc_sig")
    static = spark.sql(_CC_VERIFY_SQL)
    assert sorted(map(tuple, composed.collect())) == sorted(
        map(tuple, static.collect())
    )


def test_materialize_mode_switch(spark, tmp_path, monkeypatch):
    """plans.scale.materialize has two outcomes, picked by the
    deployment: with no checkpoint dir it is a localCheckpoint
    (lineage truncated, nothing written to a dir); with
    $SPARK_GRAFT_CHECKPOINT_DIR set — or a dir already on the session —
    it is a reliable checkpoint whose files land in that dir. The
    shared session's dir is reset afterwards: left set, it would switch
    every later test to reliable checkpoints."""
    import glob

    from aind_protein_data_transformation_spark.plans.scale import materialize

    sc = spark.sparkContext
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    ckdir = tmp_path / "ck"

    def checkpoint_files():
        return glob.glob(str(ckdir / "**" / "rdd-*"), recursive=True)

    def values(frame):
        return sorted(r.v for r in frame.collect())

    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    sc._jsc.sc().setCheckpointDir(None)
    try:
        local = materialize(df)
        assert "LogicalRDD" in local._jdf.queryExecution().optimizedPlan().toString()
        assert values(local) == [2 * i for i in range(10)]
        assert sc.getCheckpointDir() is None
        assert not checkpoint_files()

        monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckdir))
        reliable = materialize(df)
        assert values(reliable) == [2 * i for i in range(10)]
        assert sc.getCheckpointDir() is not None
        n_files = len(checkpoint_files())
        assert n_files, "a checkpoint dir must receive the relation's files"

        # the dir now set on the session is used without the variable
        monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR")
        assert values(materialize(df)) == [2 * i for i in range(10)]
        assert len(checkpoint_files()) > n_files
    finally:
        sc._jsc.sc().setCheckpointDir(None)
    assert sc.getCheckpointDir() is None


def test_reliable_checkpoints_are_cleaned(spark, tmp_path, monkeypatch):
    """A reliable checkpoint's files go away with the last DataFrame
    over them: ``get_spark`` turns on the context cleaner's checkpoint
    cleanup, so a long session with a checkpoint dir does not keep one
    relation per shared subtree for the life of the dir."""
    import gc
    import glob
    import time

    from aind_protein_data_transformation_spark.plans.scale import materialize

    sc = spark.sparkContext
    ckdir = tmp_path / "ck"

    def checkpoint_files():
        return glob.glob(str(ckdir / "**" / "rdd-*"), recursive=True)

    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(ckdir))
    try:
        reliable = materialize(spark.range(100).selectExpr("id", "id * 2 AS v"))
        assert reliable.count() == 100
        assert checkpoint_files(), "a checkpoint dir must receive the relation's files"
        del reliable
        deadline = time.monotonic() + 60
        while checkpoint_files() and time.monotonic() < deadline:
            gc.collect()
            sc._jvm.System.gc()
            time.sleep(0.5)
        assert not checkpoint_files()
    finally:
        sc._jsc.sc().setCheckpointDir(None)
    assert sc.getCheckpointDir() is None
