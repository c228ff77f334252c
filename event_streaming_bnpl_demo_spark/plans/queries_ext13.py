"""Ext13 pack: recursive analytics in closed form, graph cores,
scalable resampling, schema governance, entity resolution, and market
concentration — six oracled queries.

- ``ts_holt_linear`` — Holt double exponential smoothing (level +
  trend) in INTEGER FIXED-POINT, folded with a higher-order
  ``aggregate`` over the calendar-bounded monthly series: the
  recursive time-series op that normally "can't be SQL" expressed as
  one deterministic left fold, bit-equal to the oracle's recursive-CTE
  unrolling of the same integer recurrence (the operators/pagerank.py
  fixed-point doctrine applied to exponential smoothing).
- ``graph_kcore`` — k-core decomposition (k=3) by iterative peeling:
  drop nodes with degree < k, recompute, repeat. The classic
  community-density primitive the graph tier lacked.
- ``stat_bootstrap_ci`` — POISSON bootstrap confidence interval of the
  per-segment mean: every (row, replicate) weight is a deterministic
  hash-quantized Poisson(1) draw, so all 40 resamples ride ONE pass
  over the facts — the only bootstrap formulation that works on
  distributed data (resampling-by-index needs random access).
- ``dq_schema_drift`` — schema-contract governance: the live table's
  parquet schema diffed against the declared contract (ok /
  type_changed / missing_from_data / undeclared per column). Pure
  metadata plane: footer-level, zero data scanned.
- ``er_resolve_pipeline`` — entity resolution end-to-end: block by
  (brand, size), Jaro-Winkler-score candidate pairs inside blocks
  (the shared UDF from queries_ext12, bit-equal to DuckDB's builtin),
  threshold to a match graph, and collapse transitive matches with
  iterative connected components. The full composition a master-data
  pipeline runs, with each stage's scale posture inherited from its
  already-benched primitive.
- ``agg_hhi_concentration`` — Herfindahl-Hirschman market
  concentration per nation over supplier revenue shares, restated
  division-free per share: HHI = 10^4 * Σ rev_i^2 / (Σ rev_i)^2.

Determinism doctrine as everywhere: integer cents and fixed-point
state, truncating integer division (verified identical for negatives:
Spark ``DIV`` and DuckDB ``//`` both truncate toward zero),
decimal-accumulated double sums, one-rounding final expressions.

Reference parity note: beyond-reference extension tier (SURVEY.md
§2.2); the reference's analytics surface is two filter-project SQL
strings (main.go:214,:241).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import edge_layout_partitions, fits_broadcast, load_table
from .catalog import register
from .queries_ext7 import _CENTS


_O_CENTS = _CENTS.format(col="o_totalprice")
_L_REV_CENTS = _CENTS.format(col="l_extendedprice * (1 - l_discount)")

# ---------------------------------------------------------------------------
# Holt linear smoothing, fixed-point: alpha = 1/5, beta = 3/10.
#   level' = (obs + 4*(level + trend)) DIV 5
#   trend' = (3*(level' - level) + 7*trend) DIV 10
# Integer micro-state => every step exact in both engines; DIV and //
# both truncate toward zero, so negative trends stay bit-equal.
# ---------------------------------------------------------------------------

_HOLT_SPARK = """
aggregate(
  slice(vals, 2, size(vals) - 1),
  named_struct('l', element_at(vals, 1), 't', CAST(0 AS BIGINT)),
  (acc, x) -> named_struct(
    'l', (x + 4 * (acc.l + acc.t)) DIV 5,
    't', (3 * (((x + 4 * (acc.l + acc.t)) DIV 5) - acc.l) + 7 * acc.t)
         DIV 10))
"""

# The DuckDB side folds with a RECURSIVE CTE over the step index
# instead of list_reduce: this build's list_reduce (v1.0.0) mis-chains
# STRUCT accumulators — a single lambda application of
# (acc={129,6}, x=400) returns {188,21}, but the same step inside a
# 4-element fold returns {188,18} (probed in-session) — while the CTE
# uses only plain integer columns and is exact.


@register(
    "ts_holt_linear",
    oracle=f"""
    WITH RECURSIVE monthly AS (
      SELECT o_orderpriority AS pri,
             strftime(o_orderdate, '%Y-%m') AS m,
             CAST(SUM({_O_CENTS}) AS BIGINT) AS v
      FROM orders GROUP BY 1, 2
    ),
    series AS MATERIALIZED (
      SELECT pri, list(v ORDER BY m) AS vals FROM monthly GROUP BY pri
    ),
    fold AS (
      SELECT pri, 1 AS i, vals[1] AS l, 0::BIGINT AS t FROM series
      UNION ALL
      SELECT f.pri, f.i + 1,
             (s.vals[f.i + 1] + 4 * (f.l + f.t)) // 5,
             (3 * (((s.vals[f.i + 1] + 4 * (f.l + f.t)) // 5) - f.l)
              + 7 * f.t) // 10
      FROM fold f JOIN series s ON s.pri = f.pri
      WHERE f.i < len(s.vals)
    )
    SELECT f.pri, CAST(len(s.vals) AS BIGINT) AS n_months,
           f.l AS level_cents, f.t AS trend_cents,
           f.l + 3 * f.t AS forecast3_cents
    FROM fold f JOIN series s ON s.pri = f.pri AND f.i = len(s.vals)
    ORDER BY f.pri
    """,
    tags=("ts", "forecast", "hof"),
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double exponential) smoothing of monthly revenue
    per order priority, plus a 3-months-ahead forecast — the RECURSIVE
    time-series operator, expressed as one higher-order ``aggregate``
    fold over the month-sorted value array in integer fixed-point
    (alpha=0.2, beta=0.3 as exact rationals). Every smoothing step is
    integer arithmetic with truncating division, so the whole
    recursion is bit-equal to the oracle's recursive-CTE unrolling of
    the same recurrence — no tolerance, despite being a chained
    stateful recurrence plain associative SQL aggregation cannot
    express. (The oracle deliberately avoids DuckDB list_reduce: this
    build mis-chains struct accumulators — see the comment above.)

    Scale: the facts reduce map-side to one row per (priority, month);
    the per-group array is CALENDAR-bounded (~80 months), so the fold
    is O(months) per group regardless of fact volume — same posture as
    the EWMA and seasonal queries. The fold itself runs inside
    codegen; no UDF, no iteration driver-side.
    """
    o = load_table(spark, sf_dir, "orders")
    monthly = (o.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.date_format("o_orderdate", "yyyy-MM").alias("m"))
        .agg(F.expr(f"CAST(SUM({_O_CENTS}) AS BIGINT)").alias("v")))
    series = (monthly.groupBy("pri")
              .agg(F.expr("transform(array_sort(collect_list("
                          "named_struct('m', m, 'v', v))), x -> x.v)")
                   .alias("vals")))
    return (series.selectExpr(
        "pri",
        "CAST(size(vals) AS BIGINT) AS n_months",
        f"({_HOLT_SPARK}).l AS level_cents",
        f"({_HOLT_SPARK}).t AS trend_cents",
        f"({_HOLT_SPARK}).l + 3 * ({_HOLT_SPARK}).t AS forecast3_cents")
        .orderBy("pri"))


# ---------------------------------------------------------------------------
# k-core: iterative peeling. Fixed round count — extra rounds after the
# fixpoint are no-ops, and both engines compute the same R-round peel
# either way, so the oracle is exact by construction.
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    # every CTE MATERIALIZED: each round references its predecessor
    # twice, so plain (inlined) CTEs would expand 2^rounds scans
    base = """
    sel AS MATERIALIZED (
      SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity >= 45
    ),
    half AS MATERIALIZED (
      SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
      FROM sel a JOIN sel b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    ),
    e0 AS MATERIALIZED (
      SELECT s1 AS src, s2 AS dst FROM half
      UNION ALL
      SELECT s2, s1 FROM half
    )"""
    steps = []
    for i in range(1, _KCORE_ROUNDS + 1):
        steps.append(f"""
    n{i} AS MATERIALIZED (
      SELECT src AS node FROM e{i - 1}
      GROUP BY src HAVING COUNT(*) >= {_KCORE_K}
    ),
    e{i} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{i - 1} e
      JOIN n{i} a ON a.node = e.src
      JOIN n{i} b ON b.node = e.dst
    )""")
    r = _KCORE_ROUNDS
    return (f"WITH {base},{','.join(steps)}\n"
            f"SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree\n"
            f"FROM e{r} GROUP BY src ORDER BY node")


@register("graph_kcore", oracle=_kcore_oracle(),
          tags=("graph", "iterative"))
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) of the heavy-quantity supplier
    co-purchase graph by ITERATIVE PEELING: drop every node with
    degree < k, recompute degrees on the induced subgraph, repeat —
    the density primitive behind community mining and spam-cluster
    detection, and the graph-tier op the catalog lacked (degree stats,
    PageRank, components, triangles, k-hop, SSSP are all covered).
    Fixed 8 peel rounds: rounds after the fixpoint are no-ops, and
    the DuckDB oracle unrolls the identical 8 rounds as chained CTEs,
    so the comparison is exact whether or not the peel has converged
    (it converges in <= 4 rounds at every test SF).

    Scale: each round is one map-side-combined degree count plus two
    semi-joins against the surviving-node set — O(edges) per round,
    the same bound as a PageRank iteration; the edge list is
    materialized once and shrinks monotonically, so later rounds are
    cheaper, not costlier. Survivor sets are supplier keys, bounded by
    the supplier table, and ride broadcast while that table fits the
    broadcast budget (``fits_broadcast``), shuffled past it.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sel = (li.filter(F.col("l_quantity") >= 45)
           .select("l_orderkey", "l_suppkey"))
    a = sel.alias("a")
    b = sel.alias("b")
    half = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                   & (F.col("a.l_suppkey") < F.col("b.l_suppkey")))
            .select(F.col("a.l_suppkey").alias("src"),
                    F.col("b.l_suppkey").alias("dst")).distinct())
    edges = (half.union(half.select(F.col("dst").alias("src"),
                                    F.col("src").alias("dst")))
             .localCheckpoint(eager=True))
    broadcast = fits_broadcast(sf_dir, "supplier")
    for _ in range(_KCORE_ROUNDS):
        keep = (edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
                .filter(F.col("deg") >= _KCORE_K)
                .select(F.col("src").alias("node")))
        if broadcast:
            keep = F.broadcast(keep)
        edges = (edges.join(keep, edges.src == keep.node, "left_semi")
                 .join(keep, edges.dst == keep.node, "left_semi")
                 .localCheckpoint(eager=True))
    return (edges.groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
            .orderBy("node"))


# ---------------------------------------------------------------------------
# Poisson bootstrap: deterministic hash-quantized Poisson(1) weights.
# bucket = first 16 bits of md5(key ':' replicate) mod 16, mapped
# 0-5 -> weight 0, 6-11 -> 1, 12-14 -> 2, 15 -> 3  (mean 15/16 — the
# 16-bucket quantization of Poisson(1), documented).
# ---------------------------------------------------------------------------

_BOOT_B = 40


def _boot_w(key: str, rep: str, dialect: str) -> str:
    if dialect == "spark":
        h = (f"CAST(conv(substring(md5(concat(CAST({key} AS STRING), ':', "
             f"CAST({rep} AS STRING))), 1, 4), 16, 10) AS BIGINT) % 16")
    else:
        h = (f"CAST(('0x' || substr(md5(CAST({key} AS VARCHAR) || ':' || "
             f"CAST({rep} AS VARCHAR)), 1, 4)) AS BIGINT) % 16")
    return (f"CASE WHEN ({h}) < 6 THEN 0 WHEN ({h}) < 12 THEN 1 "
            f"WHEN ({h}) < 15 THEN 2 ELSE 3 END")


@register(
    "stat_bootstrap_ci",
    oracle=f"""
    WITH v AS (
      SELECT c.c_mktsegment AS seg, o.o_orderkey AS k,
             {_CENTS.format(col='o.o_totalprice')} AS v
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    reps AS (SELECT UNNEST(range({_BOOT_B})) AS r),
    means AS (
      SELECT v.seg, reps.r,
             CAST(SUM(({_boot_w('v.k', 'reps.r', 'duckdb')}) * v.v)
                  AS DOUBLE)
               / CAST(SUM({_boot_w('v.k', 'reps.r', 'duckdb')}) AS DOUBLE)
               AS m
      FROM v CROSS JOIN reps GROUP BY v.seg, reps.r
    ),
    ranked AS (
      SELECT seg, m, row_number() OVER (PARTITION BY seg ORDER BY m, r)
               AS rn
      FROM means
    ),
    ci AS (
      SELECT seg,
             MAX(CASE WHEN rn = 2 THEN m END) AS lo,
             MAX(CASE WHEN rn = {_BOOT_B - 2} THEN m END) AS hi
      FROM ranked GROUP BY seg
    ),
    pt AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean
      FROM v GROUP BY seg
    )
    SELECT pt.seg, pt.n, pt.mean, ci.lo, ci.hi
    FROM pt JOIN ci ON ci.seg = pt.seg
    ORDER BY pt.seg
    """,
    tags=("agg", "stats", "resampling"),
)
def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval (5th/95th of 40 resample means)
    for mean order value per market segment, via the POISSON bootstrap:
    each (row, replicate) gets an independent hash-quantized Poisson(1)
    weight, so every replicate is a reweighted pass instead of an
    index-resample — the only bootstrap that distributes (classic
    resampling needs random access to the dataset; this needs one
    scan). The "randomness" is a content hash: reproducible across
    runs, engines, and partitionings, like llm_priority_sample.
    Honest caveat: the 16-bucket hash quantization of Poisson(1) has
    mean 15/16, a documented -6% weight bias shared by both engines.

    Scale: the 40x row expansion happens INSIDE a map-side-combined
    aggregate (broadcast of a 40-row replicate spine), so the shuffle
    carries only |segments| x 40 partial sums, never the expanded
    rows. Replicate means are exact-integer ratios; the CI picks are
    discrete order statistics over 40 values per group.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    v = (o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
                o.o_custkey == F.col("c_custkey"))
         .selectExpr("c_mktsegment AS seg", "o_orderkey AS k",
                     f"{_O_CENTS} AS v")
         .localCheckpoint(eager=True))
    reps = spark.range(_BOOT_B).select(F.col("id").alias("r"))
    means = (v.crossJoin(F.broadcast(reps))
             .withColumn("w", F.expr(_boot_w("k", "r", "spark")))
             .groupBy("seg", "r")
             .agg(F.expr("CAST(SUM(w * v) AS DOUBLE)"
                         " / CAST(SUM(w) AS DOUBLE)").alias("m")))
    from pyspark.sql.window import Window
    rn = F.row_number().over(Window.partitionBy("seg").orderBy("m", "r"))
    ci = (means.withColumn("rn", rn)
          .groupBy("seg")
          .agg(F.max(F.when(F.col("rn") == 2, F.col("m"))).alias("lo"),
               F.max(F.when(F.col("rn") == _BOOT_B - 2, F.col("m")))
               .alias("hi")))
    pt = (v.groupBy("seg")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
               F.expr("CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")
               .alias("mean")))
    return (pt.join(ci, "seg")
            .select("seg", "n", "mean", "lo", "hi").orderBy("seg"))


# ---------------------------------------------------------------------------
# Schema-contract drift: declared contract vs live parquet footer.
# ---------------------------------------------------------------------------

#: The declared events contract: one column the data no longer carries
#: (channel) and one declared with a stricter type than the data
#: (value decimal(10,2) vs physical double) — so every status fires.
_CONTRACT = [
    ("event_id", "bigint"), ("ts", "timestamp"), ("user_id", "bigint"),
    ("event_type", "string"), ("value", "decimal(10,2)"),
    ("channel", "string"),
]

_CONTRACT_VALUES = ", ".join(f"('{c}', '{t}')" for c, t in _CONTRACT)


@register(
    "dq_schema_drift",
    oracle=f"""
    WITH contract(col, want) AS (VALUES {_CONTRACT_VALUES}),
    actual AS (
      SELECT column_name AS col,
             CASE lower(data_type)
               WHEN 'varchar' THEN 'string'
               WHEN 'timestamp' THEN 'timestamp'
               WHEN 'timestamp_ns' THEN 'timestamp'
               ELSE lower(data_type) END AS have
      FROM information_schema.columns WHERE table_name = 'events'
    )
    SELECT COALESCE(c.col, a.col) AS col,
           COALESCE(c.want, '(none)') AS declared_type,
           COALESCE(a.have, '(none)') AS actual_type,
           CASE WHEN c.col IS NULL THEN 'undeclared'
                WHEN a.col IS NULL THEN 'missing_from_data'
                WHEN c.want = a.have THEN 'ok'
                ELSE 'type_changed' END AS status
    FROM contract c FULL OUTER JOIN actual a ON a.col = c.col
    ORDER BY col
    """,
    tags=("dq", "schema", "governance"),
)
def dq_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-contract drift report: the live events table's parquet
    schema diffed against the DECLARED contract, one row per column
    with status ok / type_changed / missing_from_data / undeclared —
    the governance check a 100 TB lakehouse runs before every
    pipeline deploy (source_schema_evolution handles drift at the
    SCAN; this reports it at the CONTRACT, before a bad read ships).
    Type names normalize to a canonical vocabulary on both sides
    (varchar->string, timestamp_ns/ntz->timestamp).

    Scale: pure metadata plane — the schema comes from parquet
    footers at planning time; zero data rows are scanned by either
    engine, so this costs the same at sf0.001 and at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events")
    norm = {"timestamp_ntz": "timestamp", "varchar": "string"}
    actual = [(name, norm.get(dtype, dtype)) for name, dtype in ev.dtypes]
    a_df = spark.createDataFrame(actual, "col string, have string")
    c_df = spark.createDataFrame(_CONTRACT, "col string, want string")
    return (c_df.join(a_df, "col", "full_outer")
            .selectExpr(
                "col",
                "COALESCE(want, '(none)') AS declared_type",
                "COALESCE(have, '(none)') AS actual_type",
                "CASE WHEN want IS NULL THEN 'undeclared'"
                " WHEN have IS NULL THEN 'missing_from_data'"
                " WHEN want = have THEN 'ok'"
                " ELSE 'type_changed' END AS status")
            .orderBy("col"))


# ---------------------------------------------------------------------------
# Entity resolution: block -> fuzzy-score -> threshold -> components.
# ---------------------------------------------------------------------------

_ER_THRESHOLD = 0.90


def _er_pairs_sql() -> str:
    return f"""
      SELECT a.p_partkey AS src, b.p_partkey AS dst
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_size = b.p_size
       AND a.p_partkey < b.p_partkey
      WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= {_ER_THRESHOLD}
    """


@register(
    "er_resolve_pipeline",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_er_pairs_sql()}),
    edges AS (
      SELECT src, dst FROM pairs
      UNION ALL
      SELECT dst, src FROM pairs
    ),
    reach AS (
      SELECT p_partkey AS id, p_partkey AS lbl FROM part
      UNION
      SELECT e.src AS id, r.lbl
      FROM reach r JOIN edges e ON r.id = e.dst
    ),
    comp AS (SELECT id, MIN(lbl) AS entity_id FROM reach GROUP BY id),
    sized AS (
      SELECT id AS p_partkey, entity_id,
             CAST(COUNT(*) OVER (PARTITION BY entity_id) AS BIGINT)
               AS n_members
      FROM comp
    )
    SELECT p_partkey, entity_id, n_members
    FROM sized WHERE n_members >= 2
    ORDER BY entity_id, p_partkey
    """,
    tags=("er", "fuzzy", "iterative", "udf"),
)
def er_resolve_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end over the part catalog: BLOCK by
    (brand, size), score candidate pairs inside each block with the
    Jaro-Winkler scorer (jw_column, shared with scalar_jaro_winkler,
    bit-equal to DuckDB's builtin so the >= 0.90 threshold decides
    identically in both engines), keep matches as an undirected graph,
    and collapse transitive matches into canonical entities with
    iterative connected components (operators/components.py). Output:
    every non-singleton entity's members under the min-key canonical
    id — the master-data dedup composition, assembled from primitives
    the catalog has already benched and oracled in isolation.

    Scale: the all-pairs explosion never happens — pairs exist only
    within (brand, size) blocks (equi-join, the join_fuzzy_blocked
    posture); the UDF sees candidate pairs, not the cross product;
    components run O(edges)/round on the match graph, which is far
    smaller than the input. Skewed blocks would salt like
    join_salted_skew.
    """
    from ..operators.components import connected_components
    from .queries_ext12 import jw_column

    jw = jw_column(spark)
    part = load_table(spark, sf_dir, "part")
    a = part.select(F.col("p_partkey").alias("src"),
                    F.col("p_name").alias("name_a"),
                    "p_brand", "p_size")
    b = part.select(F.col("p_partkey").alias("dst"),
                    F.col("p_name").alias("name_b"),
                    "p_brand", "p_size")
    pairs = (a.join(b, ["p_brand", "p_size"])
             .filter(F.col("src") < F.col("dst"))
             .withColumn("jw", jw("name_a", "name_b"))
             .filter(F.col("jw") >= _ER_THRESHOLD)
             .select("src", "dst"))
    nodes = part.select(F.col("p_partkey").alias("id"))
    comp = connected_components(
        nodes, pairs, npart=edge_layout_partitions(spark, sf_dir, "part"),
        broadcast=fits_broadcast(sf_dir, "part"))
    from pyspark.sql.window import Window
    sized = comp.select(
        F.col("id").alias("p_partkey"),
        F.col("component").alias("entity_id"),
        F.count(F.lit(1)).over(Window.partitionBy("component"))
        .cast("bigint").alias("n_members"))
    return (sized.filter(F.col("n_members") >= 2)
            .orderBy("entity_id", "p_partkey"))


@register(
    "agg_hhi_concentration",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey, CAST(SUM({_L_REV_CENTS}) AS BIGINT) AS r
      FROM lineitem GROUP BY l_suppkey
    ),
    located AS (
      SELECT n.n_name AS nation, rev.r
      FROM rev
      JOIN supplier s ON s.s_suppkey = rev.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
    )
    SELECT nation,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           10000.0 * CAST(CAST(SUM(CAST(r AS DECIMAL(19,0))
                                   * CAST(r AS DECIMAL(19,0)))
                               AS STRING) AS DOUBLE)
             / (CAST(SUM(r) AS DOUBLE) * CAST(SUM(r) AS DOUBLE)) AS hhi
    FROM located
    GROUP BY nation
    ORDER BY nation
    """,
    tags=("agg", "stats"),
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of supplier revenue
    per nation (10000 = monopoly, ->0 = atomized): restated
    DIVISION-FREE per share as 10^4 * sum(rev_i^2) / (sum rev_i)^2.
    The squares are computed in EXACT decimal (DECIMAL(19,0)^2 —
    integer cents squared reach ~4e18, past the 17-significant-digit
    range where a double round-trip is faithful; Spark's
    double->decimal cast goes through the shortest string while
    DuckDB's is exact binary, so the usual dsum-of-doubles idiom
    diverges in the last ulp up here and exact decimal is the only
    safe path). Shares are never individually divided, which would
    compound rounding 400x per group; the only floating point is the
    final one-rounding expression.

    Scale: facts reduce map-side to one row per supplier before any
    join; nation/supplier dims broadcast; the HHI aggregate touches
    |suppliers| rows. The square-of-sum denominator reuses the same
    pass — no second scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = (li.groupBy("l_suppkey")
           .agg(F.expr(f"CAST(SUM({_L_REV_CENTS}) AS BIGINT)").alias("r")))
    located = (rev.join(F.broadcast(s.select("s_suppkey", "s_nationkey")),
                        rev.l_suppkey == F.col("s_suppkey"))
               .join(F.broadcast(n.select("n_nationkey",
                                          F.col("n_name").alias("nation"))),
                     F.col("s_nationkey") == F.col("n_nationkey"))
               .select("nation", "r"))
    return (located.groupBy("nation")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
                 F.expr("10000.0 * CAST(CAST(SUM(CAST(r AS DECIMAL(19,0))"
                        " * CAST(r AS DECIMAL(19,0))) AS STRING) AS DOUBLE)"
                        " / (CAST(SUM(r) AS DOUBLE)"
                        " * CAST(SUM(r) AS DOUBLE))").alias("hhi"))
            .orderBy("nation"))
