"""Round-7 capability extensions, two themes.

**Optimizer-pattern tier** — manual physical rewrites whose results are
provably identical to the naive plan, with the naive plan as the
oracle: Bloom-filter semi-join reduction, partial-aggregation pushdown
below a join, correlated-aggregate decorrelation,
aggregate-through-union, banded range join, and dynamic partition
pruning. These are the rewrites a 100 TB engine lives or dies by;
expressing each as a catalog query makes the equivalence a
continuously-checked fact instead of folklore.

**Corpus/statistics tier** — per-group closed-form linear trend,
contingency-table lift, Jaccard link prediction, incremental
shard-vs-corpus dedup, per-source duplication rates, median quality
gating, adjacent-bigram lift, Markov next-event prediction, exact
rolling covariance, top-k-with-ties, dynamic-gap session windows,
literal-map dictionary decode, and a shard-vs-corpus distribution
drift gate.

Determinism doctrine as everywhere in the catalog: integer/decimal
arithmetic end-to-end. Exact floor division of big products uses the
``(a - pmod(a, b)) / b`` identity over DECIMAL(38,0) on the Spark side
and HUGEINT ``//`` in DuckDB — both are exact for non-negative
operands, so no engine's float or decimal rounding mode is ever in
play.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table, maybe_broadcast
from ..sources.tables import table_disk_bytes
from .catalog import register


def _scan_scaled_partitions(sf_dir: str, table: str,
                            lo: int = 32, hi: int = 512) -> int:
    """Exchange width ∝ measured on-disk size of the driving scan
    (1 partition per ~2 MB of compressed parquet, clamped): the
    structural-repartition analog of maybe_broadcast's stats gate, for
    exchanges whose IN-FLIGHT row mass far exceeds their collapsed
    output (AQE sizes those for the output and under-parallelizes).
    At 100 TB the clamp ceiling is the knob; the shape is unchanged."""
    size = table_disk_bytes(sf_dir, table)
    if size is None:
        return lo
    return max(lo, min(hi, size // (2 * 1024 * 1024)))


def _guarded_int_key(col: str, op_name: str):
    """Narrow a bigint key column to int with a LIVE domain guard:
    the int64 pair packing / int member layout downstream needs
    0 <= key < 2^31. assert_true keeps the check inside the live
    expression (column pruning can't drop it), so a too-wide key
    space fails the job loudly at execution instead of silently
    truncating; deployments with wider keys keep bigint members and
    the two-column pair key (same plan shape, 2x the bytes). The
    loud-failure path is pinned by
    test_guarded_int_key_fails_loudly_outside_domain."""
    return F.when(F.assert_true(
        (F.col(col) >= 0) & (F.col(col) < F.lit(2 ** 31)),
        F.lit(f"{op_name}: key {col} outside [0, 2^31) — int member "
              "narrowing would truncate; keep bigint members and the "
              "two-column pair key instead")).isNull(),
        F.col(col).cast("int"))


_CENTS = "CAST(FLOOR({col} * 100 + 0.5) AS BIGINT)"


def _floordiv_dec(num: str, den: str) -> str:
    """Exact floor division of two non-negative DECIMAL(38,0) SQL
    expressions as a Spark SQL string. ``num/den`` alone would round at
    decimal scale; subtracting the remainder first makes the quotient
    an exact integer, so the division is exact at any scale."""
    return f"CAST((({num}) - pmod({num}, {den})) / ({den}) AS BIGINT)"


# ---------------------------------------------------------------------------
# optimizer-pattern tier
# ---------------------------------------------------------------------------


@register(
    "join_bloom_reduced",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM({_CENTS.format(col='l_extendedprice')}) AS BIGINT)
             AS revenue_cents
    FROM lineitem
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_orderkey = l_orderkey
        AND o_orderpriority = '1-URGENT'
        AND o_orderdate >= DATE '1996-01-01'
        AND o_orderdate < DATE '1997-01-01'
    )
    """,
    tags=("opt", "join", "bloom"),
)
def join_bloom_reduced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction: before shuffling lineitem into
    the exact semi-join, probe a 2^16-bit Bloom filter (k=2 hashes)
    built from the qualifying orders' keys. The bitmap is a REAL
    bloom: hash positions fold into <= 1024 64-bit words via bit_or
    (one map-side-combined aggregate), the bounded word list (<= 8 KB
    BY CONSTRUCTION, whatever the build-side row count) is collected
    and re-injected as a LITERAL map expression — the same
    driver-collect-then-inject move Spark's own InjectRuntimeFilter
    performs — so the probe is a pure bit-test filter fused into the
    lineitem scan's whole-stage codegen: rows failing either bit die
    at the scan and never reach the join, let alone the shuffle. The
    exact semi-join then removes Bloom false positives, making the
    result bit-identical to the naive semi-join (the oracle). An
    earlier broadcast-the-bitmap-as-a-row variant let Catalyst reorder
    the semi-join BELOW the cross join, probing after the exact join —
    the literal injection pins the probe to the scan, which is the
    entire point; the plan shape is asserted in test_plans.

    Scale: the filter costs O(build) + an 8 KB literal in the plan;
    the probe side pays two hashes per row instead of a join. The
    selectivity here (one year x one priority ~ 3% of orders) is the
    regime where the reduction pays for itself many times over at
    100 TB.
    """
    m = 1 << 16
    o = (load_table(spark, sf_dir, "orders")
         .filter((F.col("o_orderpriority") == "1-URGENT")
                 & (F.col("o_orderdate") >= "1996-01-01")
                 & (F.col("o_orderdate") < "1997-01-01"))
         .select("o_orderkey"))
    pos = o.select(F.explode(F.array(
        F.pmod(F.xxhash64("o_orderkey"), F.lit(m)),
        F.pmod(F.xxhash64("o_orderkey", F.lit("s2")), F.lit(m)),
    )).alias("pos"))
    words = (pos.groupBy((F.col("pos") / 64).cast("bigint").alias("widx"))
             .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), "
                         "CAST(pos % 64 AS INT)))").alias("bits")))
    # bounded driver collect: <= 1024 (widx, bits) rows by construction
    rows = words.collect()
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice")
    if not rows:  # empty build side: nothing can match
        cand = li.filter(F.lit(False))
    else:
        # DENSE word array, not a literal map (r12): element_at on a
        # literal MAP is a LINEAR key scan per probe (ArrayBasedMapData
        # has no hash index), so 1024 words x 2 probes made the scan
        # filter O(words) per row — measured interleaved 3.3-7.8 s ->
        # 1.6-2.4 s at sf0.1 and 2.4-3.1 -> 0.9-1.5 s at the sf1
        # replica switching to an O(1) array index. The array is the
        # same <= 8 KB of plan literal (zeros fill absent words, so
        # the coalesce() goes too), built as ONE parsed expression —
        # per-element F.lit() construction costs ~1k py4j round trips
        # at plan-build time, which is what the bench times.
        dense = [0] * (m // 64)
        for r in rows:
            dense[int(r.widx)] = r.bits
        bf = F.expr("array(" + ",".join(f"{b}L" for b in dense) + ")")
        probe = ("((element_at(bf, CAST({h} DIV 64 AS INT) + 1) "
                 "& shiftleft(CAST(1 AS BIGINT), "
                 "CAST({h} % 64 AS INT))) != 0)")
        h1 = f"pmod(xxhash64(l_orderkey), {m})"
        h2 = f"pmod(xxhash64(l_orderkey, 's2'), {m})"
        cand = (li.withColumn("bf", bf)
                .filter(F.expr(probe.format(h=h1)))
                .filter(F.expr(probe.format(h=h2)))
                .drop("bf"))
    exact = cand.join(o, cand.l_orderkey == o.o_orderkey, "left_semi")
    cents = F.expr(_CENTS.format(col="l_extendedprice"))
    return exact.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(cents).alias("revenue_cents"))


@register(
    "join_preagg_pushdown",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM({_CENTS.format(col='l_extendedprice')}) AS BIGINT)
             AS revenue_cents
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("opt", "join", "agg"),
)
def join_preagg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-aggregation pushdown below a join (eager aggregation):
    lineitem is first rolled up to one row per order key — a map-side-
    combinable aggregate that shrinks the join input by the average
    lines-per-order factor (~4x) — and only then joined to orders and
    re-aggregated by priority. Valid because the join key is lineitem's
    grouping key and orders.o_orderkey is unique, so each partial
    matches exactly one order; COUNT(DISTINCT o_orderkey) in the naive
    plan becomes a plain COUNT of the pre-aggregated rows.

    Scale: the shuffle-join payload drops from |lineitem| rows to
    |orders-with-lines| rows BEFORE the exchange — at 100 TB that is
    the difference between shuffling 600 B and 150 B rows; the final
    aggregate is over the tiny priority domain.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice")
    cents = F.expr(_CENTS.format(col="l_extendedprice"))
    per_order = (li.groupBy("l_orderkey")
                 .agg(F.sum(cents).alias("order_cents")))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority")
    return (per_order.join(o, per_order.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum("order_cents").alias("revenue_cents"))
            .orderBy("o_orderpriority"))


@register(
    "join_corr_agg_rewrite",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM({_CENTS.format(col='c_acctbal')}) AS BIGINT)
             AS acctbal_cents
    FROM customer c
    WHERE (SELECT COALESCE(SUM({_CENTS.format(col='o_totalprice')}), 0)
           FROM orders o WHERE o.o_custkey = c.c_custkey)
          > 20 * {_CENTS.format(col='c_acctbal')}
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    tags=("opt", "subquery", "join"),
)
def join_corr_agg_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decorrelation of a correlated aggregate subquery: "customers
    whose lifetime spend exceeds 20x their account balance" runs the
    correlated SUM once per customer in the naive form; the rewrite
    aggregates orders by customer ONCE, then left-joins the compact
    per-customer rollup to customers. The LEFT join + COALESCE(0) is
    the load-bearing subtlety: a customer with no orders has
    correlated-SUM 0, which still satisfies the predicate when their
    balance is negative — an inner-join rewrite would silently drop
    exactly those rows (the classic COUNT-bug family of decorrelation
    errors, caught here by the oracle).

    Scale: one O(|orders|) map-side-combined aggregate + one shuffle
    join on c_custkey, versus an O(|customer| x probe) dependent
    subquery. This is the rewrite Catalyst itself applies to
    decorrelatable subqueries, stated as a checkable equivalence.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice")
    spend = (o.groupBy("o_custkey")
             .agg(F.sum(F.expr(_CENTS.format(col="o_totalprice")))
                  .alias("spend_cents")))
    bal = F.expr(_CENTS.format(col="c_acctbal"))
    joined = (c.join(spend, c.c_custkey == spend.o_custkey, "left")
              .withColumn("spend_cents",
                          F.coalesce("spend_cents", F.lit(0)))
              .filter(F.col("spend_cents") > 20 * bal))
    return (joined.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum(bal).alias("acctbal_cents"))
            .orderBy("c_mktsegment"))


@register(
    "agg_union_partial",
    oracle=f"""
    WITH u AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month, 'bookings' AS src,
             {_CENTS.format(col='o_totalprice')} AS cents
      FROM orders
      UNION ALL
      SELECT strftime(l_shipdate, '%Y-%m'), 'shipments',
             {_CENTS.format(col='l_extendedprice')}
      FROM lineitem
    )
    SELECT month,
           CAST(SUM(CASE WHEN src = 'bookings' THEN cents END) AS BIGINT)
             AS bookings_cents,
           CAST(SUM(CASE WHEN src = 'shipments' THEN cents END) AS BIGINT)
             AS shipments_cents
    FROM u GROUP BY month ORDER BY month
    """,
    tags=("opt", "agg", "union"),
)
def agg_union_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation pushed through a UNION ALL: the naive plan unions
    raw orders and lineitem rows (billions of rows through one
    exchange) and aggregates after; the rewrite aggregates each branch
    FIRST — each a map-side-combined rollup to the tiny month domain —
    and merges the two partials with a full-outer join on month. Legal
    because SUM is distributive over disjoint branch partitions; the
    full-outer join (not inner) keeps months present in only one
    branch, which the conditional-SUM oracle represents as NULL on the
    other metric.

    Scale: the exchange carries |months| rows per branch instead of
    |orders| + |lineitem| rows — the multi-source metric-consolidation
    shape every KPI pipeline runs.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    bookings = (o.groupBy(F.date_format("o_orderdate", "yyyy-MM")
                          .alias("month"))
                .agg(F.sum(F.expr(_CENTS.format(col="o_totalprice")))
                     .alias("bookings_cents")))
    shipments = (li.groupBy(F.date_format("l_shipdate", "yyyy-MM")
                            .alias("month"))
                 .agg(F.sum(F.expr(_CENTS.format(col="l_extendedprice")))
                      .alias("shipments_cents")))
    return (bookings.join(shipments, "month", "full_outer")
            .select("month", "bookings_cents", "shipments_cents")
            .orderBy("month"))


# ---------------------------------------------------------------------------
# statistics tier
# ---------------------------------------------------------------------------


@register(
    "agg_linear_trend",
    oracle=f"""
    WITH d AS (
      SELECT strftime(l_shipdate, '%Y-%m') AS month,
             CAST(day(l_shipdate) AS BIGINT) AS x,
             SUM({_CENTS.format(col='l_extendedprice')}) AS y
      FROM lineitem GROUP BY 1, 2
    ), s AS (
      SELECT month, CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(x * y) AS HUGEINT) AS sxy,
             CAST(SUM(x * x) AS HUGEINT) AS sxx
      FROM d GROUP BY month
    )
    SELECT month, CAST(n AS BIGINT) AS n_days,
           CAST(n * sxy - sx * sy AS VARCHAR) AS slope_num,
           CAST(n * sxx - sx * sx AS VARCHAR) AS slope_den
    FROM s ORDER BY month
    """,
    tags=("stats", "regression"),
)
def agg_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month least-squares trend of daily revenue vs day-of-month,
    via the closed-form normal equations: slope = (n*Sxy - Sx*Sy) /
    (n*Sxx - Sx^2). Two-level aggregation — lineitem collapses to one
    row per (month, day) map-side, then the five regression sums fold
    over <= 31 points per month. The slope is emitted as an EXACT
    integer numerator/denominator pair (decimal(38,0) rendered as
    digit strings, matching DuckDB's HUGEINT rendering), so no
    division, float, or rounding mode exists anywhere in the
    computation — the fixed-point doctrine applied to regression.

    Scale: the only full-data pass is the day rollup (map-side
    combined); the regression itself runs over |months| x 31 rows.
    Decimal(38,0) accommodates the cross products even at 100 TB daily
    sums.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_extendedprice")
    cents = F.expr(_CENTS.format(col="l_extendedprice"))
    d = (li.groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("month"),
                    F.dayofmonth("l_shipdate").cast("bigint").alias("x"))
         .agg(F.sum(cents).alias("y")))
    dec = "decimal(38,0)"
    s = (d.groupBy("month")
         .agg(F.count(F.lit(1)).cast(dec).alias("n"),
              F.sum("x").cast(dec).alias("sx"),
              F.sum("y").cast(dec).alias("sy"),
              F.sum(F.col("x") * F.col("y")).cast(dec).alias("sxy"),
              F.sum(F.col("x") * F.col("x")).cast(dec).alias("sxx")))
    return (s.select(
                "month",
                F.col("n").cast("bigint").alias("n_days"),
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                .cast("string").alias("slope_num"),
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                .cast("string").alias("slope_den"))
            .orderBy("month"))


@register(
    "agg_contingency_lift",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority AS prio, o_orderstatus AS status,
             CAST(COUNT(*) AS HUGEINT) AS obs
      FROM orders GROUP BY 1, 2
    ), rt AS (SELECT prio, SUM(obs) AS r FROM cells GROUP BY prio),
       ct AS (SELECT status, SUM(obs) AS c FROM cells GROUP BY status),
       n AS (SELECT SUM(obs) AS n FROM cells)
    SELECT cells.prio, cells.status, CAST(obs AS BIGINT) AS obs,
           CAST((1000 * n.n * obs) // (rt.r * ct.c) AS BIGINT)
             AS lift_permille
    FROM cells JOIN rt USING (prio) JOIN ct USING (status) CROSS JOIN n
    ORDER BY cells.prio, cells.status
    """,
    tags=("stats", "contingency"),
)
def agg_contingency_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency-table lift (observed/expected ratio, per-mille) for
    order priority x status — the categorical-independence diagnostic:
    1000 means the cell occurs exactly as often as independence
    predicts. ONE scan produces the cell counts; the row totals,
    column totals, and grand total are all derived as WINDOW sums over
    the tiny cell table — a join-free marginalization, so the fact
    table is scanned exactly once (asserted in test_plans; the
    derive-by-reaggregation-and-join variant re-planned the cells
    subtree once per marginal, i.e. four scans). The ratio
    1000*N*obs/(rowtot*coltot) is computed in exact
    decimal(38,0) floor division (remainder-subtraction identity), so
    it matches DuckDB's HUGEINT `//` bit-for-bit at any scale.

    Scale: cost is one map-side-combined groupBy over the fact table;
    everything downstream operates on |priorities| x |statuses| rows.
    """
    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    cells = (o.groupBy(F.col("o_orderpriority").alias("prio"),
                       F.col("o_orderstatus").alias("status"))
             .agg(F.count(F.lit(1)).cast(dec).alias("obs")))
    joined = (cells
              .withColumn("r", F.sum("obs")
                          .over(Window.partitionBy("prio")).cast(dec))
              .withColumn("c", F.sum("obs")
                          .over(Window.partitionBy("status")).cast(dec))
              .withColumn("n", F.sum("obs")
                          .over(Window.partitionBy()).cast(dec)))
    lift = _floordiv_dec("CAST(1000 AS DECIMAL(38,0)) * n * obs", "r * c")
    return (joined.select("prio", "status",
                          F.col("obs").cast("bigint").alias("obs"),
                          F.expr(lift).alias("lift_permille"))
            .orderBy("prio", "status"))


@register(
    "graph_jaccard_links",
    oracle="""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT o_custkey AS c, l_partkey AS p
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), keep AS (
      SELECT p FROM e0 GROUP BY p HAVING COUNT(*) <= 64
    ), e AS MATERIALIZED (SELECT c, p FROM e0 JOIN keep USING (p)),
       deg AS MATERIALIZED (
      SELECT c, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY c),
       wedge AS (
      SELECT a.c AS c1, b.c AS c2, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM e a JOIN e b ON a.p = b.p AND a.c < b.c
      GROUP BY a.c, b.c
    )
    SELECT c1, c2, n_common,
           CAST(1000 * n_common // (d1.d + d2.d - n_common) AS BIGINT)
             AS jaccard_permille
    FROM wedge JOIN deg d1 ON d1.c = c1 JOIN deg d2 ON d2.c = c2
    WHERE n_common >= 3
    ORDER BY jaccard_permille DESC, c1 ASC, c2 ASC
    LIMIT 20
    """,
    tags=("graph", "linkpred"),
)
def graph_jaccard_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard neighborhood similarity over the hub-filtered
    customer-part bipartite graph: |N(c1) ∩ N(c2)| / |N(c1) ∪ N(c2)|
    in integer per-mille, by inclusion-exclusion from the wedge count
    and the two degrees — the normalized refinement of
    graph_common_neighbors (raw counts favor heavy buyers; Jaccard
    surfaces genuinely similar baskets). Both the intersection AND the
    degrees are defined over the same hub-filtered edge set (parts
    with <= 64 buyers), so the metric is self-consistent and both
    engines agree exactly; the n_common >= 3 support floor keeps
    single-shared-part noise out of the leaderboard.

    Scale: pair expansion stays inside a part bucket bounded by the
    64-degree cap; degrees are one O(edges) aggregate; the two degree
    joins attach to the wedge table (already collapsed), and top-20 is
    TakeOrdered — no global sort, no all-pairs anywhere. The edge
    derivation is ONE exchange (groupBy(p) + collect_set does the
    (c,p) dedup and the hub cap in the same shuffle; the small orders
    side rides the maybe_broadcast stats gate) and the per-part sets
    feed three consumers off a single localCheckpoint. The wedge
    shuffle — sum over parts of degree^2 pairs, ~90M at sf1 — is the
    operator's intrinsic cost; two r10 changes cut its measured price
    ~15% (interleaved A/B at the sf1 replica, 8.1 -> 6.8 s best /
    8.2 -> 7.3 s median): members are guarded then narrowed to INT at
    the edge build (halves the checkpoint, the self-join build, and
    the degree bytes; the pair still packs into one int64 for the
    exchange), and the pair exchange runs at 4x the measured-scan
    width (the post-exchange count is CPU/cache-bound: ~270 tasks of
    ~350k pairs beat 67 of 1.3M; tried alternatives on record — a
    suffix-array generation that replaces the self-join, and a shared
    degree/wedge exchange — both measured SLOWER at sf1, the former
    on slice-allocation cost, so the streaming join stays).
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey")
    # pair-exchange width ∝ measured fact-scan size, 4x because the
    # post-exchange count is the CPU-bound stage (see docstring); the
    # session default 32 under-parallelizes it at sf1 while the 512
    # clamp keeps sf0.01's driver gate from over-tasking
    nparts = _scan_scaled_partitions(sf_dir, "lineitem")
    width = min(512, nparts * 4)
    sets = (li.join(maybe_broadcast(o, sf_dir, "orders"),
                    li.l_orderkey == o.o_orderkey)
            .select(_guarded_int_key("o_custkey", "graph_jaccard_links")
                    .alias("c"),
                    F.col("l_partkey").alias("p"))
            .groupBy("p").agg(F.collect_set("c").alias("cs"))
            .filter(F.size("cs") <= 64)
            .localCheckpoint(eager=True))
    e = sets.select("p", F.explode("cs").alias("c"))
    deg = e.groupBy("c").agg(F.count(F.lit(1)).alias("d"))
    a = e.select("p", F.col("c").alias("c1"))
    b = e.select("p", F.col("c").alias("c2"))
    # the pair flows through its exchange as ONE packed int64
    # (c1 << 32 | c2): half the key bytes and one hash per row on the
    # operator's dominant shuffle; domain ENFORCED by the guard above
    wedges = (a.join(b, "p")
              .filter(F.col("c1") < F.col("c2"))
              .select((F.col("c1").cast("bigint") * F.lit(4294967296)
                       + F.col("c2").cast("bigint")).alias("k"))
              .repartition(width, "k")
              .groupBy("k")
              .agg(F.count(F.lit(1)).alias("n_common"))
              .filter(F.col("n_common") >= 3)
              .select(F.expr("k DIV 4294967296").alias("c1"),
                      F.expr("k % 4294967296").alias("c2"),
                      "n_common"))
    d1 = deg.select(F.col("c").cast("bigint").alias("c1"),
                    F.col("d").alias("d1"))
    d2 = deg.select(F.col("c").cast("bigint").alias("c2"),
                    F.col("d").alias("d2"))
    out = (wedges.join(d1, "c1").join(d2, "c2")
           .withColumn("jaccard_permille",
                       F.expr("CAST(1000 * n_common DIV (d1 + d2 - n_common)"
                              " AS BIGINT)")))
    return (out.select("c1", "c2", "n_common", "jaccard_permille")
            .orderBy(F.desc("jaccard_permille"), F.asc("c1"), F.asc("c2"))
            .limit(20))


# ---------------------------------------------------------------------------
# corpus tier
# ---------------------------------------------------------------------------


@register(
    "llm_dedup_incremental",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_incoming,
           CAST(SUM(CASE WHEN md5(text) IN (
                 SELECT md5(text) FROM documents WHERE source <> 'src0')
               THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_vs_corpus,
           CAST(SUM(CASE WHEN md5(text) IN (
                 SELECT md5(text) FROM documents WHERE source <> 'src0')
               THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
    FROM documents WHERE source = 'src0'
    GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "dedup", "incremental"),
)
def llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental shard-vs-corpus dedup — the shape every continuously
    ingesting training pipeline runs: the incoming shard (source src0)
    is checked against the EXISTING corpus only, never against itself,
    by hash-joining the shard's content hashes to the corpus's
    distinct-hash set. Emitted per language: incoming, already-known,
    kept. A left join with a membership flag (not an anti join) so
    both the kept and the dropped populations are visible to the
    audit.

    Scale: the corpus side collapses to distinct hashes before the
    join (one map-side-combined pass); the join shuffles on the hash,
    so the incremental cost is O(|shard| + |corpus distinct|) per
    ingest, never O(corpus^2) — and in a real deployment the distinct
    hash set is the persisted dedup state, making each increment
    O(|shard|).
    """
    d = load_table(spark, sf_dir, "documents")
    incoming = (d.filter(F.col("source") == "src0")
                .select("lang", F.md5("text").alias("h")))
    corpus = (d.filter(F.col("source") != "src0")
              .select(F.md5("text").alias("h")).distinct()
              .withColumn("known", F.lit(1)))
    flagged = incoming.join(corpus, "h", "left")
    return (flagged.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_incoming"),
                 F.sum(F.when(F.col("known").isNotNull(), 1).otherwise(0))
                 .alias("n_dup_vs_corpus"),
                 F.sum(F.when(F.col("known").isNull(), 1).otherwise(0))
                 .alias("n_kept"))
            .orderBy("lang"))


@register(
    "llm_dup_rate_by_source",
    oracle="""
    WITH h AS (
      SELECT md5(text) AS h, COUNT(*) AS cnt FROM documents GROUP BY 1
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_members,
           CAST(1000 * SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS dup_permille
    FROM documents JOIN h ON md5(text) = h.h
    GROUP BY source ORDER BY source
    """,
    tags=("llm", "dedup", "audit"),
)
def llm_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication-rate audit: a document is a duplicate
    member when its content hash occurs more than once CORPUS-WIDE
    (cross-source collisions count against both sources — the metric a
    source-quality dashboard wants, since boilerplate mirrored across
    crawls is precisely the signal). Global hash multiplicities are
    one map-side-combined aggregate, joined back onto the docs by
    hash, then folded per source into an integer per-mille rate.

    Scale: two O(N) passes joined on the content hash — the join
    co-partitions on the same key the aggregate just shuffled on, and
    AQE coalesces the tiny per-source fold. No pairwise comparison
    anywhere.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.md5("text").alias("h"))
    mult = d.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    return (d.join(mult, "h")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
                 .alias("n_dup_members"))
            .withColumn("dup_permille",
                        F.expr("CAST(1000 * n_dup_members DIV n_docs"
                               " AS BIGINT)"))
            .orderBy("source"))


@register(
    "llm_quality_gate_median",
    oracle="""
    WITH r AS (
      SELECT source, n_chars, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS cnt
      FROM documents
    ), thr AS (
      SELECT source, n_chars AS thr FROM r WHERE rn = (cnt + 1) // 2
    )
    SELECT r.source, CAST(MAX(thr.thr) AS BIGINT) AS median_chars,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN r.n_chars > thr.thr THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM r JOIN thr ON r.source = thr.source
    GROUP BY r.source ORDER BY r.source
    """,
    tags=("llm", "quality", "window"),
)
def llm_quality_gate_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source median quality gate: keep documents strictly longer
    than their own source's median length — the adaptive filter that a
    fixed global threshold gets wrong for sources with different
    length profiles. The threshold is the LOWER median (the element at
    rank ceil(n/2) under a total order with doc_id tiebreak): an
    actual corpus element, integer-exact, no averaging of middle pairs
    — the same order-statistic discipline as agg_percentiles_disc.

    Scale: the rank, the count, and the threshold are THREE windows
    over the SAME per-source partitioning — one exchange, one sort,
    zero joins (a select-then-join-back would re-plan the ranked
    subtree for the threshold side, scanning twice). At 100 TB the
    window sorts within each source partition — for truly monster
    sources the sketch twin (agg_approx_percentile) is the cheaper
    gate; this is the exact tier.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars", "doc_id")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    psrc = Window.partitionBy("source")
    r = (d.withColumn("rn", F.row_number().over(w))
         .withColumn("cnt", F.count(F.lit(1)).over(psrc))
         .withColumn("thr", F.max(F.when(
             F.expr("rn = (cnt + 1) DIV 2"), F.col("n_chars"))).over(psrc)))
    return (r.groupBy("source")
            .agg(F.max("thr").alias("median_chars"),
                 F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.col("n_chars") > F.col("thr"), 1)
                       .otherwise(0)).alias("n_kept"))
            .orderBy("source"))


@register(
    "llm_bigram_lift",
    oracle="""
    WITH t AS (
      SELECT string_split(text, ' ') AS w FROM documents
    ), bg AS (
      SELECT UNNEST(CASE WHEN len(w) >= 2 THEN list_transform(
               generate_series(1, len(w) - 1),
               i -> concat(w[i], ' ', w[i + 1])) ELSE [] END) AS bigram
      FROM t
    ), bc AS (
      SELECT bigram, CAST(COUNT(*) AS HUGEINT) AS c_xy
      FROM bg GROUP BY bigram
    ), uc AS (
      SELECT UNNEST(w) AS word FROM t
    ), u AS (
      SELECT word, CAST(COUNT(*) AS HUGEINT) AS c FROM uc GROUP BY word
    ), n AS (SELECT SUM(c) AS n FROM u)
    SELECT bigram, CAST(c_xy AS BIGINT) AS c_xy,
           CAST((1000 * n.n * c_xy) // (ua.c * ub.c) AS BIGINT)
             AS lift_permille
    FROM bc
    JOIN u ua ON ua.word = string_split(bigram, ' ')[1]
    JOIN u ub ON ub.word = string_split(bigram, ' ')[2]
    CROSS JOIN n
    WHERE c_xy >= 5
    ORDER BY lift_permille DESC, bigram ASC
    LIMIT 20
    """,
    tags=("llm", "ngram", "stats"),
)
def llm_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-bigram lift (pointwise-mutual-information without the
    log): 1000 * N * c(xy) / (c(x) * c(y)) — how much more often two
    words co-occur adjacently than independence predicts; the
    collocation detector a tokenizer/phrase-mining pass runs before
    merging multiword units. Bigrams materialize per row with a
    zero-join array transform (no self-join, no window over token
    position); the two unigram attachments join the COLLAPSED bigram
    table (|vocab^2 observed| rows, not |tokens|). The support floor
    c(xy) >= 5 keeps hapax noise out; the ratio uses the exact
    decimal(38,0) remainder-subtraction floor division against
    DuckDB's HUGEINT `//`.

    Scale: two O(total-tokens) explode passes (bigrams, unigrams),
    each collapsing map-side before its exchange — deliberately NOT a
    materialized token table, which would cost O(total-tokens) storage
    to save one streaming pass; at 100 TB the unigram table is
    broadcastable for real vocabularies (<= tens of millions), and the
    lift join runs on observed-bigram cardinality.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(F.split("text", " ").alias("w"))
    bg = t.select(F.explode(F.expr(
        "CASE WHEN size(w) >= 2 THEN transform(sequence(0, size(w) - 2), "
        "i -> concat(element_at(w, i + 1), ' ', element_at(w, i + 2))) "
        "ELSE array() END")).alias("bigram"))
    dec = "decimal(38,0)"
    bc = (bg.groupBy("bigram")
          .agg(F.count(F.lit(1)).cast(dec).alias("c_xy"))
          .filter(F.col("c_xy") >= 5))
    # the vocab table feeds three consumers (both lift attachments and
    # the grand total) — checkpoint it once; it is O(vocab), tiny
    u = (t.select(F.explode("w").alias("word"))
         .groupBy("word").agg(F.count(F.lit(1)).cast(dec).alias("c"))
         .localCheckpoint(eager=True))
    n = u.agg(F.sum("c").cast(dec).alias("n"))
    ua = u.select(F.col("word").alias("wa"), F.col("c").alias("ca"))
    ub = u.select(F.col("word").alias("wb"), F.col("c").alias("cb"))
    out = (bc.withColumn("wa", F.expr("split(bigram, ' ')[0]"))
           .withColumn("wb", F.expr("split(bigram, ' ')[1]"))
           .join(ua, "wa").join(ub, "wb").crossJoin(F.broadcast(n)))
    lift = _floordiv_dec("CAST(1000 AS DECIMAL(38,0)) * n * c_xy", "ca * cb")
    return (out.select("bigram", F.col("c_xy").cast("bigint").alias("c_xy"),
                       F.expr(lift).alias("lift_permille"))
            .orderBy(F.desc("lift_permille"), F.asc("bigram"))
            .limit(20))


@register(
    "events_markov_topnext",
    oracle="""
    WITH seq AS (
      SELECT event_type AS cur,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), trans AS (
      SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ), tot AS (SELECT cur, SUM(n) AS t FROM trans GROUP BY cur),
       ranked AS (
      SELECT trans.cur, nxt, n, t,
             ROW_NUMBER() OVER (PARTITION BY trans.cur
                                ORDER BY n DESC, nxt ASC) AS rk
      FROM trans JOIN tot ON trans.cur = tot.cur
    )
    SELECT cur AS event_type, nxt AS top_next, n AS n_transitions,
           CAST(1000 * n // t AS BIGINT) AS prob_permille
    FROM ranked WHERE rk = 1 ORDER BY cur
    """,
    tags=("events", "markov"),
)
def events_markov_topnext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov argmax: for each event type, the most likely
    immediate successor within a user's timeline and its probability in
    integer per-mille — the one-row-per-state summary of the transition
    matrix (events_type_transitions publishes the raw counts; this
    normalizes and ranks). Successor pairs come from ONE lead() window
    over the per-user exchange (ties broken by event_id, so the
    sequence is total); the argmax is a row_number over the tiny
    per-state transition list with a deterministic (count DESC, type
    ASC) tiebreak.

    Scale: one O(events) window partitioned by user — the same
    exchange every sessionization query already pays — then all
    remaining work is over |event-type|^2 rows.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(F.col("event_type").alias("cur"),
                    F.lead("event_type").over(w).alias("nxt"))
    trans = (seq.filter(F.col("nxt").isNotNull())
             .groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n")))
    # per-state totals as a window over the tiny transition table, not
    # a groupBy+join — a join would re-plan (and re-scan) the whole
    # lead-window subtree for the totals side
    rk = Window.partitionBy("cur").orderBy(F.desc("n"), F.asc("nxt"))
    ranked = (trans
              .withColumn("t", F.sum("n").over(Window.partitionBy("cur")))
              .withColumn("rk", F.row_number().over(rk)))
    return (ranked.filter(F.col("rk") == 1)
            .select(F.col("cur").alias("event_type"),
                    F.col("nxt").alias("top_next"),
                    F.col("n").alias("n_transitions"),
                    F.expr("CAST(1000 * n DIV t AS BIGINT)")
                    .alias("prob_permille"))
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# ext7b: more optimizer patterns + windowed statistics
# ---------------------------------------------------------------------------


@register(
    "join_range_banded",
    oracle=f"""
    WITH d AS (
      SELECT date_diff('day', DATE '1995-01-01', l_shipdate) AS day,
             SUM({_CENTS.format(col='l_extendedprice')}) AS rev
      FROM lineitem GROUP BY 1
    ), o AS (
      SELECT o_orderpriority AS prio,
             date_diff('day', DATE '1995-01-01', o_orderdate) AS day
      FROM orders
    )
    SELECT prio, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(rev) AS BIGINT) AS nearby_rev_cents
    FROM o JOIN d ON d.day BETWEEN o.day - 3 AND o.day + 3
    GROUP BY prio ORDER BY prio
    """,
    tags=("opt", "join", "range"),
)
def join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: each order joins the +-3-day window of the
    daily revenue rollup. The naive plan is a theta join —
    |orders| x |days| comparisons, a nested-loop disaster at scale.
    The banded rewrite maps both sides onto integer bands of width 7
    (>= the 2*3+1-day window, so every qualifying pair shares a band
    or lands in an adjacent one), EXPLODES the |days|-sized rollup to
    its three candidate bands (band adjacency is symmetric, so the
    replication can always ride the small side), equi-joins on the
    band id, and applies the exact |delta| <= 3 predicate as a
    post-filter. Identical output to the naive theta join (the
    oracle), with the O(n*m) comparison replaced by O(matches +
    band-collisions). The same expand-small-side trick as the
    interval-join operator, stated as a checkable rewrite.

    Scale: the exploded rollup is 3x|days| rows and broadcast, so the
    order mass streams ONCE — no explode, no shuffle — into the
    band-keyed hash join and the 5-group partial aggregate. When
    neither side is broadcastable the same rewrite runs as a shuffled
    hash join partitioned on band id (put the 3x on the smaller
    side); either way, never a nested loop.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    # the EXPAND-SMALL-SIDE direction matters: band adjacency is
    # symmetric (band(o) within +-1 of band(d) <=> band(d) within +-1
    # of band(o)), so the 3x replication goes on the |days|-sized
    # rollup, NOT the order mass — and the exploded rollup is
    # explicitly broadcast (Catalyst's static estimate once picked
    # BuildLeft on the 3x-exploded ORDERS: a multi-MB broadcast of the
    # big side at sf1). Orders then stream map-side with no explode,
    # no shuffle, straight into the 5-group partial aggregate.
    d = (li.groupBy(F.datediff(F.col("l_shipdate"), F.lit("1995-01-01"))
                    .cast("bigint").alias("day"))
         .agg(F.sum(F.expr(_CENTS.format(col="l_extendedprice")))
              .alias("rev"))
         .withColumn("band", F.explode(F.expr(
             "array(CAST(FLOOR(day / 7) AS BIGINT) - 1, "
             "CAST(FLOOR(day / 7) AS BIGINT), "
             "CAST(FLOOR(day / 7) AS BIGINT) + 1)"))))
    ob = (o.select(F.col("o_orderpriority").alias("prio"),
                   F.datediff(F.col("o_orderdate"), F.lit("1995-01-01"))
                   .cast("bigint").alias("oday"))
          .withColumn("band", F.expr("CAST(FLOOR(oday / 7) AS BIGINT)")))
    joined = (ob.join(F.broadcast(d), "band")
              .filter(F.expr("abs(day - oday) <= 3")))
    return (joined.groupBy("prio")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum("rev").alias("nearby_rev_cents"))
            .orderBy("prio"))


@register(
    "join_dpp_partitioned",
    oracle="""
    WITH m AS (
      SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS month
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
    )
    SELECT o.month, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o.cents) AS BIGINT) AS total_cents
    FROM (SELECT strftime(o_orderdate, '%Y-%m') AS month,
                 CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
          FROM orders) o
    JOIN m ON o.month = m.month
    GROUP BY o.month ORDER BY o.month
    """,
    tags=("opt", "source", "partition"),
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the orders fact staged
    hive-partitioned by order month (the layout every 100 TB fact
    table uses), joined on the partition column to a dim derived with
    a selective filter (the months shipped in 1996-Q1). The months
    are only known at RUNTIME — static pruning can't help — so
    Catalyst must inject a dynamicpruning subquery into the fact
    scan's PartitionFilters, executing the dim side first and reading
    ONLY the matching month directories (pinned in test_plans; without
    DPP this is a full fact scan at every SF). The staging is
    content-keyed and reused across calls (stage_once), so repeated
    runs time the query, not the write.

    Scale: fact-side I/O drops from all months to |selected months|
    directories — at 100 TB with daily partitions this is the
    difference between scanning 2500 partitions and 90.
    """
    from .queries_ext import source_fingerprint, stage_once

    o = load_table(spark, sf_dir, "orders")

    def write(tmp: str) -> None:
        (o.withColumn("month", F.date_format("o_orderdate", "yyyy-MM"))
         .select("o_orderkey", "o_totalprice", "month")
         .write.mode("overwrite").partitionBy("month").parquet(tmp))

    path = stage_once(
        f"dpp_orders_month_v1_{source_fingerprint(sf_dir)}", write)
    fact = spark.read.parquet(path)
    li = load_table(spark, sf_dir, "lineitem")
    m = (li.filter((F.col("l_shipdate") >= "1996-01-01")
                   & (F.col("l_shipdate") < "1996-04-01"))
         .select(F.date_format("l_shipdate", "yyyy-MM").alias("month"))
         .distinct())
    cents = F.expr(_CENTS.format(col="o_totalprice"))
    return (fact.join(m, "month")
            .groupBy("month")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(cents).alias("total_cents"))
            .orderBy("month"))


@register(
    "ts_rolling_cov",
    oracle=f"""
    WITH d AS (
      SELECT date_diff('day', DATE '1995-01-01', l_shipdate) AS day,
             SUM({_CENTS.format(col='l_quantity')}) AS q,
             SUM({_CENTS.format(col='l_extendedprice')}) AS y
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(day AS BIGINT) AS day,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_days,
           CAST(COUNT(*) OVER w * SUM(CAST(q AS HUGEINT) * CAST(y AS HUGEINT))
                  OVER w
                - SUM(CAST(q AS HUGEINT)) OVER w
                  * SUM(CAST(y AS HUGEINT)) OVER w AS VARCHAR) AS cov_num
    FROM d
    WINDOW w AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY day
    """,
    tags=("ts", "stats", "window"),
)
def ts_rolling_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day covariance numerator n*Sxy - Sx*Sy between daily
    shipped quantity and daily revenue — the rolling co-movement
    signal, kept EXACT by the same digit-string discipline as
    agg_linear_trend: per-day cross products are formed in
    decimal(38,0) BEFORE the window sums (a bigint product would
    overflow at large-SF daily volumes), the combination stays in
    decimal, and the result is rendered as digits against DuckDB's
    HUGEINT. No float, no rounding mode, no sum-order sensitivity.

    Scale: one map-side-combined day rollup, then four window sums
    sharing ONE frame over the tiny |days| domain — a single sort, no
    self-joins for the lagged sums.
    """
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    d = (li.groupBy(F.datediff(F.col("l_shipdate"), F.lit("1995-01-01"))
                    .cast("bigint").alias("day"))
         .agg(F.sum(F.expr(_CENTS.format(col="l_quantity")))
              .alias("q"),
              F.sum(F.expr(_CENTS.format(col="l_extendedprice")))
              .alias("y")))
    w = Window.orderBy("day").rangeBetween(-6, 0)
    # all four sums in ONE select so CollapseWindow folds them into a
    # single Window operator over one sort (chained withColumn layers
    # defeat the rule)
    out = d.select(
        "day",
        F.count(F.lit(1)).over(w).cast(dec).alias("n"),
        F.sum(F.col("q").cast(dec) * F.col("y").cast(dec)).over(w)
        .alias("sxy"),
        F.sum(F.col("q").cast(dec)).over(w).alias("sx"),
        F.sum(F.col("y").cast(dec)).over(w).alias("sy"))
    return (out.select(
                "day", F.col("n").cast("bigint").alias("n_days"),
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                .cast("string").alias("cov_num"))
            .orderBy("day"))


@register(
    "window_topk_ties",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority AS prio,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             RANK() OVER (PARTITION BY o_orderpriority
                          ORDER BY FLOOR(o_totalprice * 100 + 0.5) DESC)
               AS rk
      FROM orders
    )
    SELECT prio, CAST(rk AS BIGINT) AS rk, cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM r WHERE rk <= 3
    GROUP BY prio, rk, cents
    ORDER BY prio, rk, cents
    """,
    tags=("window", "topk"),
)
def window_topk_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 order values per priority WITH ties: rank() keeps every
    order sharing a top-3 value where row_number() would arbitrarily
    drop all but one — the semantics difference that matters whenever
    the ranking key is coarse (prices, scores, dates). Tied rows are
    then collapsed per (priority, rank, value) with a count, so the
    output is fully deterministic without inventing a tiebreak.

    Scale: rank() <= k compiles to WindowGroupLimit — per-partition
    top-k pre-filtering BEFORE the full window sort materializes, the
    same bounded-state shape as TakeOrdered but per group.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)")
    w = (Window.partitionBy("o_orderpriority")
         .orderBy(F.desc(F.expr("FLOOR(o_totalprice * 100 + 0.5)"))))
    r = (o.select(F.col("o_orderpriority").alias("prio"),
                  cents.alias("cents"),
                  F.rank().over(w).alias("rk"))
         .filter(F.col("rk") <= 3))
    return (r.groupBy("prio", "rk", "cents")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .orderBy("prio", "rk", "cents"))


# ---------------------------------------------------------------------------
# ext7c: dynamic-gap sessions, literal-map decode, distribution drift
# ---------------------------------------------------------------------------


@register(
    "stream_session_dynamic_gap",
    oracle="""
    WITH g AS (
      SELECT user_id, value, event_id, epoch_ms(ts) AS e,
             CASE WHEN event_type IN ('view', 'click')
                  THEN 600000 ELSE 1800000 END AS gap
      FROM events
    ), f AS (
      SELECT *, MAX(e + gap) OVER (
               PARTITION BY user_id ORDER BY e, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev_end
      FROM g
    ), s AS (
      SELECT *, SUM(CASE WHEN prev_end IS NULL OR e >= prev_end
                         THEN 1 ELSE 0 END) OVER (
                 PARTITION BY user_id ORDER BY e, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM f
    )
    SELECT user_id,
           CAST(MIN(e) AS BIGINT) AS start_ms,
           CAST(MAX(e + gap) AS BIGINT) AS end_ms,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    tags=("stream", "window", "session"),
)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a PER-EVENT gap: interaction events
    (view/click) time out after 10 minutes, transactional events after
    30 — the engagement-aware sessionization fixed-gap windows can't
    express (a purchase legitimately extends a session a trailing view
    would have closed). Spark's native dynamic-gap
    ``session_window(ts, CASE ...)`` computes it in one stateful
    operator (streaming-capable: the same expression runs under
    ``readStream`` with a watermark); the oracle replays the interval
    algebra by hand — each event spans [ts, ts+gap(event)); an event
    starts a new session iff its start is >= the running MAX end of
    all preceding spans (the running max, not lag: a long-gap event
    can bridge OVER an intermediate short-gap one). All arithmetic in
    epoch milliseconds, bigint-exact.

    Scale: one exchange on user_id, sessions merged inside the
    partition — same cost envelope as fixed-gap session windows; the
    gap expression is evaluated per row inside codegen.
    """
    ev = load_table(spark, sf_dir, "events")
    gap = (F.when(F.col("event_type").isin("view", "click"), "10 minutes")
           .otherwise("30 minutes"))
    return (ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id",
                    F.expr("unix_millis(CAST(w.start AS TIMESTAMP))")
                    .alias("start_ms"),
                    F.expr("unix_millis(CAST(w.end AS TIMESTAMP))")
                    .alias("end_ms"),
                    "n_events"))


@register(
    "join_map_literal_decode",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name ORDER BY nation
    """,
    tags=("opt", "join", "dim"),
)
def join_map_literal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-decode enrichment: the nation dimension (25 rows, a
    FIXED cardinality of the schema) is collected bounded and injected
    as a literal map expression, so attaching the nation name to every
    customer is a map lookup inside the scan's codegen — no join
    operator exists in the plan at all (pinned). The same
    literal-injection family as join_bloom_reduced: when the
    "build side" is schema-bounded (enums, calendars, tiny dims), the
    cheapest join is no join — Spark's own broadcast hash join still
    pays relation build + probe + an operator boundary per row.

    Scale: the fact side never exchanges for the decode; the aggregate
    that follows is the usual partial->final fold. The trick is gated
    on the dim being BOUNDED BY SCHEMA — for data-dependent dims use
    maybe_broadcast (stats-gated) instead; an unbounded collect here
    would be the classic driver-OOM anti-pattern.
    """
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    rows = n.collect()  # bounded: 25 rows by schema
    decode = F.create_map(
        *[x for r in rows for x in (F.lit(r.n_nationkey), F.lit(r.n_name))])
    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_acctbal")
    cents = F.expr("CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)")
    return (c.withColumn("nation", decode[F.col("c_nationkey")])
            .groupBy("nation")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum(cents).alias("acctbal_cents"))
            .orderBy("nation"))


@register(
    "dq_distribution_drift",
    oracle="""
    WITH shard AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents WHERE source = 'src0' GROUP BY lang
    ), rest AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents WHERE source <> 'src0' GROUP BY lang
    ), tot AS (
      SELECT (SELECT SUM(n) FROM shard) AS ts, (SELECT SUM(n) FROM rest) AS tr
    )
    SELECT COALESCE(shard.lang, rest.lang) AS lang,
           CAST(COALESCE(shard.n, 0) AS BIGINT) AS shard_docs,
           CAST(COALESCE(rest.n, 0) AS BIGINT) AS corpus_docs,
           CAST(1000 * COALESCE(shard.n, 0) // tot.ts AS BIGINT)
             AS shard_permille,
           CAST(1000 * COALESCE(rest.n, 0) // tot.tr AS BIGINT)
             AS corpus_permille,
           CAST(1000 * COALESCE(shard.n, 0) // tot.ts
                - 1000 * COALESCE(rest.n, 0) // tot.tr AS BIGINT)
             AS drift_permille
    FROM shard FULL OUTER JOIN rest ON shard.lang = rest.lang
    CROSS JOIN tot
    ORDER BY lang
    """,
    tags=("dq", "llm", "drift"),
)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift gate between an incoming shard (src0) and
    the standing corpus: per-language share in per-mille on each side
    and the signed delta — the pre-ingest check that catches a crawl
    whose language mix silently shifted (the failure mode that poisons
    a tokenizer or a mixture schedule long before any per-document
    quality gate fires). One scan produces both profiles via
    conditional aggregation; shares are exact integer per-mille; the
    delta is a subtraction of two non-negative integer ratios, so no
    negative-floor-division ambiguity exists between engines.

    Scale: one map-side-combined groupBy over (lang x side); the
    share/total computation runs over |langs| rows via window sums —
    the same join-free marginalization as agg_contingency_lift.
    """
    d = load_table(spark, sf_dir, "documents")
    prof = (d.groupBy("lang")
            .agg(F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
                 .alias("shard_docs"),
                 F.sum(F.when(F.col("source") != "src0", 1).otherwise(0))
                 .alias("corpus_docs")))
    w = Window.partitionBy()
    out = (prof
           .withColumn("ts", F.sum("shard_docs").over(w))
           .withColumn("tr", F.sum("corpus_docs").over(w))
           .select(
               "lang", "shard_docs", "corpus_docs",
               F.expr("CAST(1000 * shard_docs DIV ts AS BIGINT)")
               .alias("shard_permille"),
               F.expr("CAST(1000 * corpus_docs DIV tr AS BIGINT)")
               .alias("corpus_permille"),
               F.expr("CAST(1000 * shard_docs DIV ts "
                      "- 1000 * corpus_docs DIV tr AS BIGINT)")
               .alias("drift_permille")))
    return out.orderBy("lang")


# ---------------------------------------------------------------------------
# ext7d: safe-cast ETL surface + Arrow-optimized Python UDF twin
# ---------------------------------------------------------------------------


@register(
    "scalar_try_ops",
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)
             AS k_num,
           TRY_CAST(props AS INTEGER) AS junk_num,
           CAST(CASE WHEN event_id % 7 = 0 THEN NULL
                     ELSE event_id // (event_id % 7) END AS BIGINT)
             AS safe_div,
           TRY_CAST(event_type AS BIGINT) AS type_as_num,
           TRY_CAST('20' || CAST(event_id % 100 AS VARCHAR) AS INTEGER)
             AS synth_num
    FROM events
    WHERE event_id % 31 = 0
    """,
    tags=("scalar", "etl"),
)
def scalar_try_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safe-cast / safe-arithmetic surface: ``try_cast`` on an
    extracted JSON field (numeric, succeeds) and on the raw JSON
    string (fails -> NULL), ``try_divide`` where the divisor is
    routinely zero, and a cast of a plainly non-numeric string — every one yields NULL instead of an exception or a
    silent wrong value, the contract an ETL pipeline needs to survive
    dirty data without per-row error handling. DuckDB's TRY_CAST and
    guarded division express the identical semantics, so the NULL
    patterns must match row-for-row.

    Scale: pure row-level expressions inside whole-stage codegen —
    the failure handling costs nothing over the unguarded cast; the
    predicate prunes the scan like any scalar pack.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 31 == 0)
    return ev.select(
        "event_id",
        F.expr("try_cast(get_json_object(props, '$.k') AS INT)")
        .alias("k_num"),
        F.expr("try_cast(props AS INT)").alias("junk_num"),
        F.expr("CAST(try_divide(event_id, event_id % 7) AS BIGINT)")
        .alias("safe_div"),
        F.expr("try_cast(event_type AS BIGINT)").alias("type_as_num"),
        F.expr("try_cast(concat('20', CAST(event_id % 100 AS STRING)) "
               "AS INT)").alias("synth_num"))


@register(
    "udf_arrow_scalar",
    oracle="""
    SELECT o_orderkey,
           CAST(substr(o_orderpriority, 1, 1) AS INT) AS priority_code,
           CASE WHEN CAST(substr(o_orderpriority, 1, 1) AS INT) <= 2
                THEN 'expedite' ELSE 'routine' END AS lane
    FROM orders
    """,
    tags=("udf", "scalar", "arrow"),
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The row-at-a-time Python UDF exhibit (udf_python_scalar) rerun
    with ``useArrow=True`` — same logic, same oracle, but the
    driver-worker hop is Arrow-batched instead of pickled row-by-row:
    the one-flag upgrade path for legacy Python UDFs that can't yet be
    rewritten as pandas UDFs or builtins. The catalog now carries the
    full UDF cost ladder under one oracle: builtin expression
    (udf_python_scalar's docstring names the builtin twin) > pandas
    UDF > Arrow-optimized Python UDF > pickled Python UDF.

    Scale: still a per-row Python function — Arrow removes the serde
    tax (~2-3x), not the interpreter tax; hot paths belong to builtins
    or pandas UDFs. This exhibit exists to measure the ladder, not to
    recommend the rung.
    """
    from pyspark.sql.functions import udf
    from pyspark.sql.types import IntegerType

    @udf(returnType=IntegerType(), useArrow=True)
    def priority_code(p: str) -> int:
        return int(p[0])

    o = load_table(spark, sf_dir, "orders")
    coded = o.select("o_orderkey",
                     priority_code("o_orderpriority").alias("priority_code"))
    return coded.withColumn(
        "lane", F.when(F.col("priority_code") <= 2, "expedite")
        .otherwise("routine"))
