"""ext29: HITS hub/authority centrality —

``graph_hits_bipartite`` completes the centrality family (degree
stats, PageRank, k-core, SSSP, k-hop, components, MST) with the
Kleinberg hub/authority fixed point over the DIRECTED customer →
supplier purchase graph: hubs are customers whose spend concentrates
on authoritative suppliers, authorities are suppliers endorsed by
strong hubs — the textbook bipartite HITS instance, and a different
algebra from PageRank (two mutually-recursive score vectors, max-
normalized per step, instead of one stochastic vector).

Numerics follow the PageRank doctrine: 64-bit integer micro-score
fixed point with truncating division (``x * 1e6 DIV max``), so all
three iterations are bit-exact across engines and the oracle can
unroll them as chained CTEs.

Reference parity: none of this exists in the reference (615-LoC Go
CQRS demo); SURVEY.md §2.2 capability-superset tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import (edge_layout_partitions, fits_broadcast, load_table,
                       maybe_broadcast)
from .catalog import register

_ITERS = 3
_TOPK = 10

_EDGES_DUCK = """
  SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
"""


def _hits_oracle() -> str:
    # MATERIALIZED: edges is referenced once per half-step (7x) — left
    # to the inlining heuristic, DuckDB re-ran the 6M-row distinct join
    # per reference and the sf1 oracle ran past 400 s
    ctes = [f"edges AS MATERIALIZED ({_EDGES_DUCK})",
            "h0 AS MATERIALIZED (SELECT src AS node, 1000000 AS h"
            " FROM (SELECT DISTINCT src FROM edges))"]
    prev_h = "h0"
    for k in range(1, _ITERS + 1):
        ctes.append(
            f"a{k} AS MATERIALIZED (SELECT e.dst AS node, SUM(p.h) AS a FROM edges e"
            f" JOIN {prev_h} p ON e.src = p.node GROUP BY e.dst)")
        ctes.append(
            f"a{k}n AS MATERIALIZED (SELECT node,"
            f" a * 1000000 // (SELECT MAX(a) FROM a{k}) AS a FROM a{k})")
        ctes.append(
            f"h{k} AS MATERIALIZED (SELECT e.src AS node, SUM(p.a) AS h FROM edges e"
            f" JOIN a{k}n p ON e.dst = p.node GROUP BY e.src)")
        ctes.append(
            f"h{k}n AS MATERIALIZED (SELECT node,"
            f" h * 1000000 // (SELECT MAX(h) FROM h{k}) AS h FROM h{k})")
        prev_h = f"h{k}n"
    return f"""
    WITH {', '.join(ctes)}
    (SELECT 'authority' AS side, CAST(node AS BIGINT) AS node,
            CAST(a AS BIGINT) AS score_micro
     FROM a{_ITERS}n ORDER BY a DESC, node LIMIT {_TOPK})
    UNION ALL
    (SELECT 'hub' AS side, CAST(node AS BIGINT) AS node,
            CAST(h AS BIGINT) AS score_micro
     FROM h{_ITERS}n ORDER BY h DESC, node LIMIT {_TOPK})
    """


@register("graph_hits_bipartite", oracle=_hits_oracle(),
          tags=("graph", "iterative", "centrality"))
def graph_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (_ITERS = 3 iterations) over customer→supplier purchase
    edges: authority(v) = Σ hub(u) over in-edges, hub(u) = Σ
    authority(v) over out-edges, each vector max-normalized to integer
    micro-scores per step (truncating DIV — probed identical to DuckDB
    ``//``). Returns the top-10 (_TOPK) authorities and hubs with a total
    (score desc, node) tie-break. The oracle unrolls the identical
    three iterations as chained CTEs — the PageRank verification
    doctrine applied to a two-vector recursion.

    Scale (the pagerank shape, doubled for the alternating join
    sides): the distinct edge list is cached TWICE — hash-partitioned
    by dst for the authority half-step and by src for the hub
    half-step — and both score vectors broadcast while customer and
    supplier fit the broadcast budget on disk
    (``sources.tables.fits_broadcast``), so every half-step is one
    exchange-FREE pass over the matching cache (broadcast join +
    fused groupBy); each half-step ends in an eager cut so the next
    broadcast re-executes O(|vector|), not the whole chain. Past the
    budget the joins degrade to shuffled and stay scale-correct. The
    max normalizer is one window over the tiny vector. Score sums fit
    comfortably: degree x 1e6 << 2^63 until ~9e12 edges per node.
    Measured
    sf0.1 -> sf1 (10x): 3.7 -> 5.1 s warm, exponent 0.14 (was
    3.4 -> 8.6 s, 0.41, on the single-checkpoint shape that
    re-shuffled the edge mass every half-step — the double cache buys
    its ~0.3 s of sf0.1 setup back 10x over at each scale decade).
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey")
    # size-derived cached-layout width (r12, guide §2: derive from the
    # driving scan's measured size, not the session constant — see
    # sources.tables.edge_layout_partitions for the interleaved A/B);
    # the hub vector is |customers|-sized, the authority vector
    # |suppliers|-sized
    npart = edge_layout_partitions(spark, sf_dir, "lineitem")
    broadcast = fits_broadcast(sf_dir, "customer", "supplier")
    base = (li.join(maybe_broadcast(o, sf_dir, "orders"),
                    li.l_orderkey == o.o_orderkey)
            .select(F.col("o_custkey").alias("src"),
                    F.col("l_suppkey").alias("dst"))
            .distinct())
    e_dst = base.repartition(npart, "dst").cache()
    e_dst.count()
    # second layout reads the first cache, not the base tables
    e_src = e_dst.repartition(npart, "src").cache()
    e_src.count()

    def _normalize(df: DataFrame, col: str) -> DataFrame:
        # window-marginalized max: one pass over the tiny score vector,
        # so the iteration chain stays LINEAR — a separate MAX aggregate
        # would consume each vector twice and double the re-planned
        # subtree per half-step (2^6 by iteration 3) unless every step
        # checkpoints; this needs no checkpoint at all
        return df.selectExpr(
            "node", f"{col} * 1000000 DIV (MAX({col}) OVER ()) AS {col}")

    hub = (e_src.select("src").distinct()  # src-partitioned: no exchange
           .select(F.col("src").alias("node"),
                   F.lit(1_000_000).alias("h"))
           .localCheckpoint(eager=True))
    auth = None
    for it in range(_ITERS):
        h_in = (F.broadcast(hub.withColumnRenamed("node", "src"))
                if broadcast else hub.withColumnRenamed("node", "src"))
        auth = _normalize(
            e_dst.join(h_in, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").alias("a")), "a").localCheckpoint(eager=True)
        a_in = (F.broadcast(auth.withColumnRenamed("node", "dst"))
                if broadcast else auth.withColumnRenamed("node", "dst"))
        hub = _normalize(
            e_src.join(a_in, "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a").alias("h")), "h")
        if it < _ITERS - 1:
            hub = hub.localCheckpoint(eager=True)
    top_a = (auth.orderBy(F.desc("a"), "node").limit(_TOPK)
             .selectExpr("'authority' AS side",
                         "CAST(node AS BIGINT) AS node",
                         "CAST(a AS BIGINT) AS score_micro"))
    top_h = (hub.orderBy(F.desc("h"), "node").limit(_TOPK)
             .selectExpr("'hub' AS side", "CAST(node AS BIGINT) AS node",
                         "CAST(h AS BIGINT) AS score_micro"))
    # pin the 2*TOPK result eagerly, then release both edge caches so
    # repeated invocations don't stack O(edges) cache entries
    out = top_a.unionByName(top_h).localCheckpoint(eager=True)
    e_src.unpersist()
    e_dst.unpersist()
    return out
