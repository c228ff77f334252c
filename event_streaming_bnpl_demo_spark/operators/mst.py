"""Borůvka minimum spanning forest — the iterative graph primitive
with the best distributed shape: every round, EVERY component selects
its cheapest outgoing edge simultaneously, so components at least
halve per round (<= log2(n) rounds), and each round is one join + one
grouped min over the edge list. Kruskal (the sequential textbook MST)
sorts all edges and threads a union-find through them one at a time —
inherently serial; Borůvka is why MST parallelizes.

Determinism: edges are totally ordered by (weight, src, dst), so the
forest is unique even under weight ties — the same strict order a
reference Kruskal must use (law-tested against one in
tests/test_ext13_semantics.py).

Reference parity: the reference has no graph surface at all; this
completes the engine's classic-algorithms tier (degree stats,
PageRank, components, triangles, k-hop, SSSP, k-core, link
prediction) per the SURVEY.md §2.2 extension mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


#: Component count up to which a round's contracted graph merges with a
#: driver-side union-find; above it the merge runs the distributed
#: connected_components loop.
DRIVER_MERGE_MAX_COMPONENTS = 1_000_000


def boruvka_msf(spark: SparkSession, edges: DataFrame,
                max_rounds: int = 12, *, npart: int,
                broadcast: bool) -> DataFrame:
    """Minimum spanning forest of an undirected weighted edge list
    ``(src, dst, weight)`` (each undirected edge given once, any
    orientation). Returns the forest's ``(src, dst, weight)`` rows
    (canonical orientation ``src < dst``).

    Scale: the edge list is materialized once; each round is one
    label join and one grouped min per component (map-side combined).
    With ``broadcast`` the |nodes|-sized label relation is broadcast
    into the label join; without it that join runs shuffled. The
    caller decides from table stats (``sources.tables.fits_broadcast``).
    Merging the round's CONTRACTED graph (one node per component,
    <= one selected edge per component, at least halving every round)
    is gated on the loop-carried component count: up to ``DRIVER_MERGE_MAX_COMPONENTS`` the selected edges —
    a metadata-scale set bounded by component count, ~24 B/row —
    merge with a driver-side union-find (one pass, no nested
    iteration); above it the merge runs the distributed
    connected_components loop instead, shuffled (a node set that
    large is past any broadcast budget) over an ``npart``-wide edge
    layout the caller sizes. The gate matters for WALL
    time, not just memory: the nested distributed label propagation
    costs ~log^2 rounds of scheduled jobs (measured 394 s at sf0.1),
    the gated merge ~log rounds (measured 11 s, identical forest).

    Raises ``RuntimeError`` if components still merge after
    ``max_rounds`` (a graph with more than 2^max_rounds-node
    components — raise the cap, it is a safety net, not a tuning
    knob).
    """
    from .components import connected_components

    canon = (edges.selectExpr(
        "CASE WHEN src < dst THEN src ELSE dst END AS src",
        "CASE WHEN src < dst THEN dst ELSE src END AS dst",
        "weight")
        .groupBy("src", "dst").agg(F.min("weight").alias("weight"))
        .localCheckpoint(eager=True))
    nodes = (canon.select(F.col("src").alias("id"))
             .union(canon.select(F.col("dst").alias("id")))
             .distinct().localCheckpoint(eager=True))
    n_components = nodes.count()
    # labels: node -> current component id (min node id in component)
    labels = nodes.select("id", F.col("id").alias("comp"))
    forest = None
    # max_rounds + 1: convergence is only observable as an empty pick on
    # the round AFTER the forest completes, so a graph needing exactly
    # max_rounds merge rounds gets one extra observation round before
    # the non-convergence error fires (keeps the documented 2^max_rounds
    # component capacity instead of silently halving it). The extra
    # round may only observe: a non-empty pick there is over budget.
    for rnd in range(max_rounds + 1):
        lab_s = labels.select(F.col("id").alias("src"),
                              F.col("comp").alias("cs"))
        lab_d = labels.select(F.col("id").alias("dst"),
                              F.col("comp").alias("cd"))
        if broadcast:
            lab_s, lab_d = F.broadcast(lab_s), F.broadcast(lab_d)
        cand = (canon.join(lab_s, "src").join(lab_d, "dst")
                .filter(F.col("cs") != F.col("cd")))
        # every component picks its cheapest outgoing edge under the
        # strict (weight, src, dst) order; both endpoints' components
        # see the edge
        both = (cand.select(F.col("cs").alias("comp"), "weight",
                            "src", "dst", "cs", "cd")
                .union(cand.select(F.col("cd").alias("comp"), "weight",
                                   "src", "dst", "cs", "cd")))
        sel_rows = (both.groupBy("comp")
                    .agg(F.min(F.struct("weight", "src", "dst",
                                        "cs", "cd")).alias("e"))
                    .select("e.src", "e.dst", "e.weight",
                            "e.cs", "e.cd")
                    .distinct())
        if n_components <= DRIVER_MERGE_MAX_COMPONENTS:
            picked = sel_rows.collect()        # <= |components| rows
            if not picked:
                break
            if rnd == max_rounds:
                raise RuntimeError(
                    f"MSF did not converge in {max_rounds} rounds")
            # schema comes from the canonical edge list, not a literal:
            # the contract is any (src, dst, weight) typing (float
            # weights, non-long ids), and forest.union below requires
            # the driver path to match the distributed path exactly
            sel = spark.createDataFrame(
                [(r["src"], r["dst"], r["weight"]) for r in picked],
                sel_rows.select("src", "dst", "weight").schema)
            # driver-side union-find over the contracted graph
            parent: dict = {}

            def find(x):
                parent.setdefault(x, x)
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for r in picked:
                ra, rb = find(r["cs"]), find(r["cd"])
                if ra != rb:
                    parent[ra] = rb
            roots = sorted({find(c) for c in parent})
            # canonical new label = min old label in the merged set
            group_min: dict = {}
            for c in list(parent):
                root = find(c)
                group_min[root] = min(group_min.get(root, c), c)
            mapping = [(c, group_min[find(c)]) for c in parent]
            n_components -= len(parent) - len(roots)
            merged = F.broadcast(spark.createDataFrame(
                mapping, "comp long, new_comp long"))
            labels = (labels.join(merged, "comp", "left")
                      .select("id", F.coalesce("new_comp", "comp")
                              .alias("comp"))
                      .localCheckpoint(eager=True))
        else:
            sel = sel_rows.select("src", "dst", "weight") \
                .localCheckpoint(eager=True)
            if sel.isEmpty():
                break
            if rnd == max_rounds:
                raise RuntimeError(
                    f"MSF did not converge in {max_rounds} rounds")
            comp_nodes = labels.select(F.col("comp").alias("id")) \
                .distinct()
            comp_edges = sel_rows.select(F.col("cs").alias("src"),
                                         F.col("cd").alias("dst"))
            merged = connected_components(comp_nodes, comp_edges,
                                          npart=npart, broadcast=False)
            labels = (labels.join(
                merged.withColumnRenamed("id", "comp")
                .withColumnRenamed("component", "new_comp"), "comp")
                .select("id", F.col("new_comp").alias("comp"))
                .localCheckpoint(eager=True))
            n_components = labels.select("comp").distinct().count()
        forest = sel if forest is None else \
            forest.union(sel).distinct().localCheckpoint(eager=True)
        if n_components <= 1:
            break  # fully connected: next round's pick is provably empty
    else:
        raise RuntimeError(f"MSF did not converge in {max_rounds} rounds")
    if forest is None:
        return canon.limit(0)
    return forest
