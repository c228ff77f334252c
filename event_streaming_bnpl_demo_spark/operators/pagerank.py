"""Fixed-point PageRank: iterative rank propagation in 64-bit integer
micro-rank units, so every iteration is bit-exact across engines and
across Spark partition summation orders (float PageRank accumulates in
data-dependent order and drifts in the last bits — un-hashable).

Arithmetic per iteration, all integer:

    contrib(j)   = rank(j) DIV out_degree(j)          (truncating)
    rank'(i)     = base + damp_num * Σ contrib  DIV damp_den
    base         = scale * 15 // 100                  (1 - 0.85 damping)

Used by plans/queries_graph.py over the customer↔supplier co-purchase
graph; the DuckDB oracle unrolls the same iterations as chained CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: 1.0 of rank == 1_000_000 micro-units.
SCALE = 1_000_000

#: Damping factor 0.85 as integer per-mille arithmetic.
DAMP_NUM, DAMP_DEN = 850, 1000


def pagerank_fixedpoint(edges: DataFrame, n_iter: int = 5, *,
                        npart: int, broadcast: bool) -> DataFrame:
    """Rank every node of a directed edge list ``(src, dst)``.

    Nodes are the distinct ``src`` values (pass a symmetrized edge
    list for undirected graphs — then every node has out-degree ≥ 1
    and no rank mass is lost to dangling sinks). Returns
    ``(node, rank)`` with rank in integer micro-units; initial rank is
     1.0 (= SCALE) per node.

    Scale — the static side never re-shuffles and each round is ONE
    exchange-free pass over the edges:

    - the edge list is hash-partitioned by ``dst`` to ``npart`` ONCE
      and cached (the cache preserves outputPartitioning), so the
      per-round ``groupBy(dst)`` finds its required distribution
      already satisfied and inserts NO exchange — the old shape
      re-shuffled O(edges) rows every round;
    - the degree column rides inside the ranks relation (``(node,
      deg, rank)``), so the per-source contribution is a projection,
      not a join;
    - with ``broadcast``, both |nodes|-sized sides (the contribution
      relation entering the edge join, and the new-rank aggregate
      entering the update join) are broadcast; without it both joins
      run shuffled and stay scale-correct unchanged.

    The caller decides ``npart`` and ``broadcast`` from table stats
    (``sources.tables.edge_layout_partitions`` and ``fits_broadcast``).

    Lineage is flattened with a checkpoint EVERY round: the
    per-iteration broadcast of the contribution relation is an eager
    materialization of the whole lineage back to the last checkpoint,
    so a cadence of k re-executes each edge aggregate up to k times
    (1+2+...+k jobs per window vs k with per-round cuts; measured
    6.0 s -> 5.2 s warm at sf0.1 for k=4 -> 1).
    """
    # cache, NOT localCheckpoint: the InMemoryRelation preserves the
    # repartition's outputPartitioning (a checkpoint's LogicalRDD drops
    # it), which is what lets every round's groupBy(dst) skip its
    # exchange; count() materializes eagerly so each round's broadcast
    # job reads the cached partitions instead of re-running the scan
    edges = (edges.select("src", "dst")
             .repartition(npart, "dst")
             .cache())
    edges.count()
    outdeg = (edges.groupBy(F.col("src").alias("node"))
              .agg(F.count(F.lit(1)).alias("deg"))
              .localCheckpoint(eager=True))
    ranks = outdeg.select("node", "deg",
                          F.lit(SCALE).cast("bigint").alias("rank"))
    base = SCALE * 15 // 100
    for i in range(n_iter):
        contrib = ranks.select(F.col("node").alias("src"),
                               F.expr("rank DIV deg").alias("c"))
        if broadcast:
            contrib = F.broadcast(contrib)
        agg = (edges.join(contrib, "src")
               .groupBy(F.col("dst").alias("node"))
               .agg(F.sum("c").alias("s")))
        if broadcast:
            agg = F.broadcast(agg)
        ranks = (
            outdeg.join(agg, "node", "left")
            .select(
                "node", "deg",
                (F.lit(base)
                 + F.expr(f"{DAMP_NUM} * COALESCE(s, 0) DIV {DAMP_DEN}"))
                .cast("bigint").alias("rank")))
        if i + 1 < n_iter:
            ranks = ranks.localCheckpoint(eager=True)
    # pin the |nodes|-sized result eagerly, then release the cached
    # edges: repeated invocations in one session would otherwise stack
    # O(edges) cache entries (each call caches a fresh DataFrame)
    out = ranks.select("node", "rank").localCheckpoint(eager=True)
    edges.unpersist()
    return out
