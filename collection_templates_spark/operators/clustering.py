"""Connected components over similarity pairs → duplicate clusters.

Near-dup detection (dedup.py) emits PAIRS; deduplication needs CLUSTERS
(every doc mapped to one canonical representative, transitively: if A~B and
B~C then A,B,C share a cluster even when A~C was never scored).

Algorithm: iterative min-label propagation with POINTER JUMPING — each
round every node takes the min label among itself and its neighbors, then
labels are shortcut through the label graph (label := label-of-label, the
large-star/small-star family's halving step). Propagation alone needs
O(diameter) rounds, which silently truncated long chains at the iteration
cap (r4 verdict #2); the jump step makes label paths halve each round, so
convergence is O(log n) rounds for ANY graph shape — a 10k-long near-dup
chain converges in ~14 rounds, and the cap is now a genuine error
condition (RuntimeError) instead of a silent wrong answer.

Each round is two joins + one groupBy over checkpointed inputs; lineage is
cut per round. Near-dup graphs are quasi-cliques (diameter 3-5) where the
historical 2-3 round behavior is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from collection_templates_spark.operators.graph import _symmetric_edges

# Round index from which the pointer-jump step runs. Quasi-clique dup
# graphs (the common near-dup shape) reach the fixpoint in ≤ 2
# propagation rounds, so skipping the jump there removes its extra
# self-join from the common case; deep components simply start halving
# two rounds later, keeping the O(log n) bound.
_JUMP_FROM = 2


def connected_components(
    pairs: DataFrame,
    left: str = "doc1",
    right: str = "doc2",
    max_iterations: int = 20,
) -> DataFrame:
    """(node, cluster) with cluster = min node id in the component.

    ``pairs`` are undirected edges; isolated nodes absent from ``pairs``
    are simply not returned (callers left-join and coalesce to self).

    Converges in O(log n) rounds via pointer jumping; raises
    ``RuntimeError`` if ``max_iterations`` is exhausted before the
    fixpoint (with the default 20 that would take a component needing
    >2^20-scale label paths — effectively unreachable; the guard exists
    so a truncated result can never be silently returned).
    """
    edges = _symmetric_edges(pairs, left, right).localCheckpoint(eager=True)
    labels = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("___mb"))
        .select("node", F.least("node", "___mb").alias("cluster"))
        .localCheckpoint(eager=True)
    )
    for it in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("cluster").alias("nmin"))
        )
        propagated = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("cluster"), F.coalesce("nmin", F.col("cluster"))
            ).alias("cluster"),
        )
        if it >= _JUMP_FROM:
            # pointer jump: cluster := label(cluster). Labels are node
            # ids in the same component and only ever decrease, so the
            # jump is safe (monotone toward the component min) and
            # halves label-path lengths — the difference between
            # O(diameter) and O(log n) rounds on chain-shaped
            # components. The lazy checkpoint materializes once when
            # the eager post-jump checkpoint computes, so both jump
            # branches share it.
            propagated = propagated.localCheckpoint(eager=False)
            jump = propagated.select(
                F.col("node").alias("___c"), F.col("cluster").alias("___cc")
            )
            propagated = propagated.join(
                jump, propagated.cluster == jump.___c, "left"
            ).select(
                "node",
                F.least(
                    F.col("cluster"), F.coalesce("___cc", F.col("cluster"))
                ).alias("cluster"),
            )
        updated = propagated.localCheckpoint(eager=True)
        changed = (
            updated.withColumnRenamed("cluster", "___new")
            .join(labels, "node")
            .filter(F.col("___new") < F.col("cluster"))
        )
        labels = updated
        if changed.isEmpty():
            return labels.select("node", "cluster")
    raise RuntimeError(
        f"connected_components did not converge within {max_iterations} "
        "iterations — raise max_iterations (convergence is O(log n) "
        "rounds with pointer jumping, so hitting this means an "
        "extraordinarily deep component or an unexpectedly low cap)"
    )


def dedup_keep_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    cc: DataFrame | None = None,
) -> DataFrame:
    """Docs annotated with cluster + keep flag (canonical = min id in its
    cluster; singletons keep themselves). ``cc`` lets callers supply a
    precomputed ``connected_components(pairs)`` frame so several
    retention policies over the same pair set share ONE CC pass."""
    if cc is None:
        cc = connected_components(pairs)
    out = docs.join(cc, docs[id_col] == cc.node, "left").drop("node")
    return out.withColumn(
        "cluster", F.coalesce("cluster", F.col(id_col))
    ).withColumn("keep", (F.col(id_col) == F.col("cluster")).cast("int"))


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    quality_cols: list[str] | None = None,
    id_col: str = "doc_id",
    cc: DataFrame | None = None,
) -> DataFrame:
    """Quality-ranked cluster retention: docs annotated with cluster +
    keep flag where the kept representative MAXIMIZES quality
    (``quality_cols`` descending, id ascending tie-break) instead of
    being the arbitrary min-id canonical — the production near-dup
    retention policy (keep the longest / highest-scoring page among its
    duplicates). Singletons keep themselves.

    Same plan as :func:`dedup_keep_canonical` plus one window over the
    cluster key; the window order is totally determined because
    ``id_col`` is unique, so partitioning never changes the answer.
    ``cc``: optional precomputed ``connected_components(pairs)`` frame
    (shared-CC-pass contract as in :func:`dedup_keep_canonical`).
    """
    quality_cols = quality_cols or ["n_chars"]
    if cc is None:
        cc = connected_components(pairs)
    out = docs.join(cc, docs[id_col] == cc.node, "left").drop("node")
    out = out.withColumn("cluster", F.coalesce("cluster", F.col(id_col)))
    w = Window.partitionBy("cluster").orderBy(
        *[F.col(c).desc() for c in quality_cols], F.col(id_col).asc()
    )
    return out.withColumn(
        "keep", (F.row_number().over(w) == 1).cast("int")
    )
