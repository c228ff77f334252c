"""Connected components as iterative DataFrame min-label propagation.

The dedup pipelines this engine targets (minhash/simhash/embedding
candidate pairs over a document corpus) need transitive closure: if A~B
and B~C, all three deduplicate to one canonical survivor even when A
and C never shared a bucket. The reference has no graph operation at
all; this is part of the mandated LLM-data extension pack.

Scale posture: the edge list is cached once, dst-partitioned, and
re-joined each round, so every round costs one join of the edges
against the (much smaller) label table plus a same-key reduce. Round
count = graph diameter — near-dup graphs are unions of small dense
cliques, so 2-3 rounds in practice. For adversarial graphs with giant sparse
components, swap the loop body for the large-star/small-star rewrite
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14) — same fixpoint in O(log d) rounds. Lineage is cut every
round with localCheckpoint so the plan stays O(1) deep instead of
O(rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(nodes: DataFrame, edges: DataFrame,
                         max_rounds: int = 25, *,
                         npart: int, broadcast: bool) -> DataFrame:
    """Label every node with the minimum node id reachable from it.

    ``nodes``: one column ``id`` (every vertex, including isolated
    ones). ``edges``: columns ``src``/``dst``, undirected (each pair
    may appear in either or both orientations). Returns
    ``(id, component)`` where ``component`` is the min id in the
    node's component; isolated nodes map to themselves.

    ``npart`` is the width of the cached edge layout and ``broadcast``
    says whether the |nodes|-sized label table and neighbour minima
    are broadcast; callers decide both from table stats
    (``sources.tables.edge_layout_partitions`` and ``fits_broadcast``).
    A checkpointed label table gives AQE no pre-shuffle stats to
    convert the join itself, so without the hint every round would
    re-shuffle the edge list; past the size decision the joins run
    shuffled with the same labels.

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_rounds`` — by then the graph's diameter exceeds what this
    formulation should be used for (see module docstring).
    """
    # cache the dst-partitioned edge list, NOT localCheckpoint: the
    # InMemoryRelation preserves the repartition's outputPartitioning
    # (a checkpoint's LogicalRDD drops it), so every round's
    # groupBy(dst) below finds its required distribution satisfied and
    # fuses partial+final aggregation with NO exchange — the edge list
    # never re-shuffles after the one-time fill (same shape as
    # operators.pagerank)
    sym = (edges.select("src", "dst")
           .union(edges.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
           .repartition(npart, "dst")
           .cache())
    sym.count()
    labels = nodes.select("id", F.col("id").alias("component"))
    for _ in range(max_rounds):
        lab = F.broadcast(labels) if broadcast else labels
        nbr = (sym.join(lab, sym.src == lab.id)
               .groupBy(F.col("dst").alias("id"))
               .agg(F.min("component").alias("nbr_min")))
        joined = (labels.join(F.broadcast(nbr) if broadcast else nbr,
                              "id", "left")
                  .localCheckpoint(eager=True))
        if joined.filter(F.col("nbr_min") < F.col("component")).count() == 0:
            sym.unpersist()
            return joined.select("id", "component")
        labels = joined.select(
            "id",
            F.least("component", F.coalesce("nbr_min", "component"))
             .alias("component"))
    sym.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds")
