"""Ext18 pack: market-basket association rules and the Theil-Sen
robust trend estimator — two oracled queries.

- ``q_market_basket_rules`` — frequent-pair association rules over
  order baskets (which brands are bought together?): support,
  confidence, and lift per ordered rule, with the MIN-SUPPORT floor
  pushed BELOW the pair expansion — the Apriori antimonotonicity
  argument (a pair can never be frequent if either item isn't) is
  what makes basket mining tractable at 100 TB, and the plan encodes
  it literally.
- ``ts_theilsen_slope`` — the Theil-Sen estimator (median of all
  pairwise slopes) for yearly revenue trend: up to 29.4% of the days
  can be arbitrarily corrupted before the estimate breaks, vs 0% for
  the least-squares slope (agg_linear_trend). Pairwise slopes are
  calendar-bounded (days^2, not rows^2), and the median is a discrete
  row_number pick, so the result hash-checks exactly.

Reference parity note: beyond-reference extension tier (SURVEY.md
§2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import edge_layout_partitions, fits_broadcast, load_table
from .catalog import register
from .queries_ext7 import _CENTS

_O_CENTS = _CENTS.format(col="o_totalprice")

_MB_MIN_SUPPORT = 50        # baskets; scaled oracles stay well above


@register(
    "q_market_basket_rules",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey AS basket, p.p_brand AS item
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    n AS (SELECT CAST(COUNT(DISTINCT basket) AS BIGINT) AS n
          FROM baskets),
    item_s AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS s
      FROM baskets GROUP BY item
      HAVING COUNT(*) >= {_MB_MIN_SUPPORT}
    ),
    pairs AS (
      SELECT a.item AS x, b.item AS y, CAST(COUNT(*) AS BIGINT) AS sxy
      FROM baskets a
      JOIN item_s fa ON fa.item = a.item
      JOIN baskets b ON b.basket = a.basket AND a.item < b.item
      JOIN item_s fb ON fb.item = b.item
      GROUP BY a.item, b.item
      HAVING COUNT(*) >= {_MB_MIN_SUPPORT}
    )
    SELECT r.x AS antecedent, r.y AS consequent, r.sxy AS pair_support,
           sa.s AS x_support, sb.s AS y_support,
           CAST(r.sxy AS DOUBLE) / CAST(sa.s AS DOUBLE) AS confidence,
           CAST(n.n AS DOUBLE) * CAST(r.sxy AS DOUBLE)
             / (CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE)) AS lift
    FROM (
      SELECT x, y, sxy FROM pairs
      UNION ALL
      SELECT y, x, sxy FROM pairs
    ) r
    JOIN item_s sa ON sa.item = r.x
    JOIN item_s sb ON sb.item = r.y
    CROSS JOIN n
    ORDER BY antecedent, consequent
    """,
    tags=("bi", "basket", "join"),
)
def q_market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets (brand level): for every
    frequent brand pair, both directed rules X=>Y with support,
    confidence s(XY)/s(X), and lift N*s(XY)/(s(X)*s(Y)) — the
    retail-analytics staple. The plan is Apriori's antimonotonicity
    made literal: items below the support floor are filtered BEFORE
    the within-basket self-join, so infrequent items never expand
    into candidate pairs (at 100 TB the unpruned pair expansion is
    the difference between a job and an outage; same
    guarantee-then-prune posture as the dedup band joins). All
    supports are exact integers; confidence/lift are single divisions
    of exact counts.

    Scale: one distinct pass to (basket, item); the frequent-item
    dim broadcasts into the self-join, whose output is bounded by
    frequent-pair count x avg basket size, not baskets^2; skewed
    mega-baskets would salt like join_salted_skew.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    baskets = (li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                       li.l_partkey == F.col("p_partkey"))
               .select(F.col("l_orderkey").alias("basket"),
                       F.col("p_brand").alias("item"))
               .distinct()
               .localCheckpoint(eager=True))
    n = baskets.agg(F.countDistinct("basket").cast("bigint").alias("n"))
    item_s = (baskets.groupBy("item")
              .agg(F.count(F.lit(1)).cast("bigint").alias("s"))
              .filter(F.col("s") >= _MB_MIN_SUPPORT))
    fa = F.broadcast(item_s.select(F.col("item").alias("x"),
                                   F.col("s").alias("sx")))
    fb = F.broadcast(item_s.select(F.col("item").alias("y"),
                                   F.col("s").alias("sy")))
    a = baskets.select("basket", F.col("item").alias("x"))
    b = baskets.select(F.col("basket").alias("basket_b"),
                       F.col("item").alias("y"))
    pairs = (a.join(fa, "x")                        # support pushdown
             .join(b, (F.col("basket") == F.col("basket_b"))
                   & (F.col("x") < F.col("y")))
             .join(fb, "y")
             .groupBy("x", "y")
             .agg(F.count(F.lit(1)).cast("bigint").alias("sxy"))
             .filter(F.col("sxy") >= _MB_MIN_SUPPORT))
    rules = (pairs.select("x", "y", "sxy")
             .union(pairs.select(F.col("y").alias("x"),
                                 F.col("x").alias("y"), "sxy")))
    return (rules
            .join(fa, "x").join(fb, "y")
            .crossJoin(F.broadcast(n))
            .selectExpr("x AS antecedent", "y AS consequent",
                        "sxy AS pair_support",
                        "sx AS x_support", "sy AS y_support",
                        "CAST(sxy AS DOUBLE) / CAST(sx AS DOUBLE)"
                        " AS confidence",
                        "CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
                        " / (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
                        " AS lift")
            .orderBy("antecedent", "consequent"))


@register(
    "ts_theilsen_slope",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(EXTRACT(doy FROM o_orderdate) AS BIGINT) AS t,
             CAST(SUM({_CENTS.format(col='o_totalprice')}) AS BIGINT) AS v
      FROM orders
      WHERE EXTRACT(year FROM o_orderdate) = 1996
      GROUP BY 1
    ),
    slopes AS (
      SELECT (CAST(b.v AS DOUBLE) - CAST(a.v AS DOUBLE))
               / (CAST(b.t AS DOUBLE) - CAST(a.t AS DOUBLE)) AS m,
             a.t AS ti, b.t AS tj
      FROM daily a JOIN daily b ON b.t > a.t
    ),
    ranked AS (
      SELECT m, row_number() OVER (ORDER BY m, ti, tj) AS rn,
             COUNT(*) OVER () AS np
      FROM slopes
    )
    SELECT CAST(MAX(np) AS BIGINT) AS n_pairs,
           MAX(CASE WHEN rn = CAST(CEIL(np / 2.0) AS BIGINT) THEN m END)
             AS theilsen_slope_cents_per_day
    FROM ranked
    """,
    tags=("ts", "stats", "robust"),
)
def ts_theilsen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: the DISCRETE median of all pairwise
    slopes of 1996's daily revenue — up to ~29% of days can be
    outliers (promotions, outages) without moving it, where the
    least-squares slope (agg_linear_trend) has a breakdown point of
    zero. Each slope is one exact-integer difference ratio (single
    rounding, same expression both engines); the median is a
    row_number pick with (ti, tj) tie-break — an actual computed
    slope, never an interpolated float — so the statistic
    hash-checks.

    Scale: the pair expansion is over DAYS after the rollup — bounded
    by the calendar (<= 366 rows -> <= 66.8k pairs) regardless of fact
    volume, the same asymptote argument as the seasonal and
    autocorrelation queries. The one sort ranks the bounded slope set.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (o.filter(F.year("o_orderdate") == 1996)
             .groupBy(F.dayofyear("o_orderdate").cast("bigint").alias("t"))
             .agg(F.expr(f"CAST(SUM({_O_CENTS}) AS BIGINT)").alias("v"))
             .localCheckpoint(eager=True))
    a = daily.selectExpr("t AS ti", "v AS vi")
    b = daily.selectExpr("t AS tj", "v AS vj")
    slopes = (a.join(b, F.col("tj") > F.col("ti"))
              .selectExpr("(CAST(vj AS DOUBLE) - CAST(vi AS DOUBLE))"
                          " / (CAST(tj AS DOUBLE) - CAST(ti AS DOUBLE))"
                          " AS m", "ti", "tj"))
    from pyspark.sql.window import Window
    ranked = slopes.select(
        "m",
        F.row_number().over(Window.orderBy("m", "ti", "tj")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("np"))
    return ranked.agg(
        F.max("np").cast("bigint").alias("n_pairs"),
        F.max(F.when(F.col("rn") == F.expr("CAST(CEIL(np / 2.0) AS BIGINT)"),
                     F.col("m")))
        .alias("theilsen_slope_cents_per_day"))


@register(
    "graph_mst_boruvka",
    oracle=None,        # iterative forest: law-tested vs a reference
    tags=("graph", "iterative", "rows-only"),
)
def graph_mst_boruvka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning forest (Borůvka) of the heavy-quantity
    supplier co-purchase graph under deterministic md5-derived edge
    weights — the backbone-extraction primitive (cheapest network
    connecting every co-purchase cluster). Borůvka is the MST
    formulation that distributes: every component selects its
    cheapest outgoing edge per round (components at least halve,
    <= log2(V) rounds of O(E) joins), where Kruskal's global
    edge sort + serial union-find cannot scale out. Rows-only by
    necessity (an iterative forest has no single-statement SQL
    equivalent); semantics are pinned against an independent Python
    Kruskal under the identical strict (weight, src, dst) edge order
    in tests/test_ext13_semantics.py, which makes the forest unique
    and the check exact.

    Scale: see operators/mst.py — per-round label joins (broadcast
    while the supplier table fits the budget), grouped
    min_by per component, contracted-graph label merge whose input
    halves every round.
    """
    from ..operators.mst import boruvka_msf

    li = load_table(spark, sf_dir, "lineitem")
    sel = (li.filter(F.col("l_quantity") >= 45)
           .select("l_orderkey", "l_suppkey"))
    a, b = sel.alias("a"), sel.alias("b")
    edges = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_suppkey") < F.col("b.l_suppkey")))
             .select(F.col("a.l_suppkey").alias("src"),
                     F.col("b.l_suppkey").alias("dst")).distinct()
             .selectExpr("src", "dst",
                         "CAST(conv(substring(md5(concat(CAST(src AS"
                         " STRING), ':', CAST(dst AS STRING))), 1, 12),"
                         " 16, 10) AS BIGINT) AS weight"))
    forest = boruvka_msf(
        spark, edges, npart=edge_layout_partitions(spark, sf_dir, "lineitem"),
        broadcast=fits_broadcast(sf_dir, "supplier"))
    return forest.orderBy("src", "dst")
