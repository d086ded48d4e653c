"""Connected components over candidate-pair graphs.

A near-dup pipeline's LSH stage emits PAIRS, but dedup decisions need
CLUSTERS: if A~B and B~C, one representative must survive for {A,B,C}
even when (A,C) was never a candidate. That transitive-closure step is
a connected-components computation on the pair graph.

Algorithm: iterative min-label propagation — every node starts labeled
with itself; each round every node takes the min of its own and its
neighbors' labels — plus POINTER JUMPING (label <- label of label, one
self-join on the label table per round), which turns the round count
from O(diameter) into O(log diameter): plain propagation moves a
component's min one hop per round, so a 10,000-node near-dup CHAIN
(A~B~C~... — how boilerplate families actually link up) would need
10,000 rounds; with the shortcut each round both propagates one hop
AND halves every pointer path, the standard MapReduce CC shortcutting
(cf. Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14 — same O(log) round bound as their alternating star
contraction, expressed over the label table instead of the edge set).
The jump join runs on the LABEL relation (one row per node), which is
never larger — and after LSH banding usually far smaller — than the
edge relation the propagation join already shuffles, so the per-round
cost stays one edge join + one bounded self-join; it engages only from
round ``jump_after`` on, so the shallow near-clique graphs the dedup
pipeline actually produces (which converge in 2-3 plain rounds) never
pay for it.

Convergence is detected by a strictly-monotone label-sum aggregate;
exhausting ``max_iter`` without reaching the fixpoint RAISES instead
of silently returning a half-merged clustering (an unconverged result
is indistinguishable from a correct one downstream — it would quietly
keep duplicate families apart).

Lineage is truncated each round through ``plans.scale.materialize`` so
the plan does not grow with the iteration count. A session with a
checkpoint dir (``spark.sparkContext.setCheckpointDir`` or
``$SPARK_GRAFT_CHECKPOINT_DIR``) gets reliable checkpoints there, which
survive executor loss; without one the rounds are local checkpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.scale import materialize


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    jump_after: int = 2,
) -> DataFrame:
    """Components of the undirected graph given by ``edges``.

    Returns (node, component) where component is the minimum node id
    reachable from ``node``. Only nodes appearing in at least one edge
    are returned (isolated corpus documents are their own trivial
    cluster and never enter the pair graph).

    ``jump_after``: pointer jumping starts on this round (0-based).
    Near-dup clusters are near-cliques that converge in 2-3 plain
    rounds — for them the jump join would be pure overhead (measured
    +0.8s on the sf0.1 registered query), so the first rounds run
    plain propagation and the shortcut only engages when the graph is
    actually deep, preserving the O(log diameter) total bound.
    """
    # Materialize the symmetrized edge list once: every iteration joins
    # against it, and without the checkpoint the edge relation's whole
    # upstream plan (e.g. a MinHash-LSH pipeline) would re-execute per
    # round.
    sym = (
        edges.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
        .union(edges.select(F.col(dst).alias("e_src"), F.col(src).alias("e_dst")))
        .distinct()
        .transform(materialize)
    )
    labels = (
        sym.select(F.col("e_src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .transform(materialize)
    )

    # Labels only ever decrease under min-propagation, so the label sum
    # is strictly monotone until the fixpoint: comparing one decimal
    # aggregate per round replaces a join-based changed-row count
    # (decimal(38) so the test never overflows at any corpus size).
    def label_sum(df: DataFrame):
        return df.agg(F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]

    def hop(cur: DataFrame, hop_idx: int) -> DataFrame:
        """One min-propagation hop (+ pointer jump from ``jump_after``
        on). ``cur`` has columns (node, label); sym's names are
        disjoint, so plain column refs stay unambiguous even when two
        hops stack in one plan."""
        nbr_min = (
            sym.join(cur, F.col("e_src") == F.col("node"))
            .groupBy(F.col("e_dst").alias("m_node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        out = cur.join(
            nbr_min, F.col("node") == F.col("m_node"), "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
        )
        if hop_idx >= jump_after:
            # pointer jump: label <- label(label). Labels only decrease,
            # so this cannot overshoot the component min; it halves
            # pointer paths each round, giving the O(log diameter) bound.
            parent = out.select(
                F.col("node").alias("p_node"), F.col("label").alias("p_label")
            )
            out = out.join(
                parent, F.col("label") == F.col("p_node"), "left"
            ).select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("p_label", F.col("label"))
                ).alias("label"),
            )
        return out

    prev = label_sum(labels)
    converged = False
    # r17: the per-round checkpoint is LAZY (eager=False) — the
    # convergence aggregate right after it is the action that
    # materializes the round, so each round runs ONE job where the r16
    # form ran two (eager checkpoint + sum). Result and convergence
    # semantics are unchanged; tests/test_graph.py pins both. A 2-hops-
    # per-round variant (halve the barriers, stack two propagations per
    # checkpoint) was tried and measured SLOWER on the registered
    # cluster query (warm 2.4-3.0s vs 1.1-1.2s for this loop on
    # identical checkpointed edges): the deeper per-round plan (two
    # join+agg pairs plus the jump self-join re-planned per round)
    # costs more than the saved barrier at any local size — recorded
    # negative, guide §1.1.
    for it in range(max_iter):
        labels = materialize(hop(labels, it), eager=False)
        cur = label_sum(labels)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "the graph's effective diameter exceeds the budget — raise "
            "max_iter (rounds scale with log(diameter), so a small bump "
            "goes far)"
        )
    return labels.select("node", F.col("label").alias("component"))
