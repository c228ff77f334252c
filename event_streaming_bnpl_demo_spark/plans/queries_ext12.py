"""Ext12 pack: spatial grid analytics, bitemporal queries, applied
statistics, and fuzzy-string scoring — twelve oracled queries in
terrain the catalog did not yet cover.

- ``geo_grid_knn`` — exact k-nearest-neighbor over synthetic planar
  coordinates: bounded probe set broadcast against the point table,
  per-probe top-3 by squared integer distance. The geo analog of
  ``llm_simsearch_topk`` (brute-force exact baseline).
- ``geo_grid_blocked_join`` — distance-threshold spatial join via
  grid-cell blocking: one side exploded to its 3x3 cell neighborhood,
  equi-join on cell id, exact distance refine. The geo analog of the
  banded/bucketed dedup shapes: the cross product never materializes.
- ``agg_chi2_independence`` — Pearson chi-square independence test +
  Cramér's V over a status x priority contingency table, decimal-
  accumulated so the 15-cell sum is order-independent.
- ``ts_cross_correlation`` — lag-k cross-correlation (Pearson, k=0..3)
  between the daily count series of two event types, computed entirely
  from integer moment sums (one sqrt at the end).
- ``window_rolling_median`` — exact 7-row rolling median of daily
  revenue, partitioned by year (no global single-partition window).
- ``sort_keyset_pagination`` — cursor-based pagination: the
  WHERE-(k1,k2)>(c1,c2) keyset predicate + top-N, the only pagination
  idiom that stays O(page) at depth (OFFSET re-scans and discards).
- ``etl_surrogate_keys`` — conformed-dimension build: stable dense
  surrogate keys for (brand, type) via dense_rank over the distinct
  set, broadcast-joined back to the fact rollup.
- ``ts_bitemporal_pit`` — bitemporal point-in-time query: latest
  record by VALID time among those KNOWN by transaction time K — the
  2-D as-of that audit/restatement pipelines need (SCD2 is its 1-D
  special case, ``ts_scd2_states``).
- ``llm_text_readability`` — Flesch-style readability scoring from
  regex token/vowel-group counts (the corpus has no sentence
  punctuation, so the sentence unit is defined as ceil(words/20) —
  documented convention, same formula both engines).
- ``dq_sequence_gaps`` — gap detection in a supposedly-dense key
  sequence via two anti-joins (present key with absent successor /
  absent predecessor) paired by a forward as-of — no global-order
  window, so it scales unlike the textbook lag() formulation.
- ``agg_trimmed_winsorized`` — robust means per group: 10-90 trimmed
  mean, winsorized mean, and midhinge, all derived from exact
  discrete percentiles (row_number pick) over integer cents.
- ``scalar_jaro_winkler`` — Jaro-Winkler similarity as an
  Arrow-batched pandas UDF, proven bit-equal to DuckDB's builtin
  (standard algorithm: half-max-length match window, transposition
  halving, 0.1 prefix boost above 0.7, prefix capped at 4).

Determinism doctrine as everywhere in the catalog: integer cents and
integer coordinates, exact counts, decimal-accumulated double sums
(``sqlcompat.dsum_sql``), single-rounding double expressions written
with the same association on both sides, dates as formatted strings.

Reference parity note: the reference's only query surface is two
filter-project SQL strings over MySQL projections (main.go:214,:241);
this pack is part of the mandated beyond-reference extension tier
(SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources import load_table
from .catalog import register
from .queries_ext7 import _CENTS
from .sqlcompat import dsum_sql

_O_CENTS = _CENTS.format(col="o_totalprice")
_L_REV_CENTS = _CENTS.format(col="l_extendedprice * (1 - l_discount)")


# ---------------------------------------------------------------------------
# Deterministic synthetic coordinates: every entity key maps to a fixed
# (lat, lon) in integer MILLI-degrees via md5 — reproducible across
# engines, runs, and cluster layouts. Planar geometry (no wraparound),
# documented; the operators under test are the blocking/knn *shapes*.
# ---------------------------------------------------------------------------

def _h48(key: str, salt: str, dialect: str) -> str:
    """First 48 bits of md5(key:salt) as a BIGINT — same value, both
    dialects (48 bits < 2^53, exact everywhere)."""
    if dialect == "spark":
        return (f"CAST(conv(substring(md5(concat(CAST({key} AS STRING), "
                f"':{salt}')), 1, 12), 16, 10) AS BIGINT)")
    return (f"CAST(('0x' || substr(md5(CAST({key} AS VARCHAR) || ':{salt}'"
            f"), 1, 12)) AS BIGINT)")


def _lat_m(key: str, dialect: str) -> str:
    """Latitude in [-90000, 90000] milli-degrees."""
    return f"({_h48(key, 'lat', dialect)} % 180001) - 90000"


def _lon_m(key: str, dialect: str) -> str:
    """Longitude in [-180000, 180000] milli-degrees."""
    return f"({_h48(key, 'lon', dialect)} % 360001) - 180000"


def jaro_winkler_udf():
    """Arrow-batched Jaro-Winkler pandas UDF, bit-equal to DuckDB's
    ``jaro_winkler_similarity`` (law-tested on arbitrary strings in
    tests/test_ext12_semantics.py). Shared by scalar_jaro_winkler and
    the entity-resolution pipeline (queries_ext13)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def jw_udf(s1, s2):
        def jaro(a: str, b: str) -> float:
            l1, l2 = len(a), len(b)
            if l1 == 0 or l2 == 0:
                return 0.0      # DuckDB: empty beats equal ("","") = 0
            if a == b:
                return 1.0
            win = max(l1, l2) // 2 - 1
            m1 = [False] * l1
            m2 = [False] * l2
            m = 0
            for i, ch in enumerate(a):
                lo, hi = max(0, i - win), min(l2, i + win + 1)
                for j in range(lo, hi):
                    if not m2[j] and b[j] == ch:
                        m1[i] = m2[j] = True
                        m += 1
                        break
            if m == 0:
                return 0.0
            t = 0
            j = 0
            for i in range(l1):
                if m1[i]:
                    while not m2[j]:
                        j += 1
                    if a[i] != b[j]:
                        t += 1
                    j += 1
            t //= 2
            return (m / l1 + m / l2 + (m - t) / m) / 3.0

        def jw(a: str, b: str) -> float:
            s = jaro(a, b)
            if s > 0.7:
                pl = 0
                for x, y in zip(a[:4], b[:4]):
                    if x != y:
                        break
                    pl += 1
                s = s + pl * 0.1 * (1.0 - s)
            return s

        return pd.Series([jw(a, b) for a, b in zip(s1, s2)], dtype="float64")

    return jw_udf


def jw_column(spark: SparkSession):
    """``(col_a, col_b) -> Column`` Jaro-Winkler scorer: the native
    Catalyst ``jaro_winkler_sim`` when the session carries the
    extension jar (``jvm/GraftSparkExtensions.scala`` — one codegen'd
    call, NO Python worker in the ER path), the Arrow-batched pandas
    UDF otherwise (the driver's plain session). Both are bit-equal to
    DuckDB's ``jaro_winkler_similarity``: the native expression by the
    extension law suite (tests/test_catalyst_extension.py), the UDF by
    the hypothesis law in tests/test_ext12_semantics.py — so every
    caller hash-matches the same oracle on either path."""
    if spark.catalog.functionExists("jaro_winkler_sim"):
        # call_function + F.col, NOT an f-string into F.expr: the two
        # paths must accept the same inputs, and a raw name
        # interpolation would misparse names needing backticks.
        return lambda a, b: F.call_function(
            "jaro_winkler_sim", F.col(a), F.col(b))
    udf = jaro_winkler_udf()
    return lambda a, b: udf(F.col(a), F.col(b))


_KNN_PROBES = 200   # bounded probe set: the 200 lowest customer keys
_KNN_K = 3

_GRID_R = 20_000            # distance threshold: 20 degrees in milli-deg
_GRID_R2 = _GRID_R * _GRID_R


@register(
    "geo_grid_knn",
    oracle=f"""
    WITH probes AS (
      SELECT c_custkey,
             {_lat_m('c_custkey', 'duckdb')} AS clat,
             {_lon_m('c_custkey', 'duckdb')} AS clon
      FROM customer WHERE c_custkey < {_KNN_PROBES}
    ),
    pts AS (
      SELECT s_suppkey,
             {_lat_m('s_suppkey', 'duckdb')} AS slat,
             {_lon_m('s_suppkey', 'duckdb')} AS slon
      FROM supplier
    ),
    scored AS (
      SELECT p.c_custkey, t.s_suppkey,
             (p.clat - t.slat) * (p.clat - t.slat)
               + (p.clon - t.slon) * (p.clon - t.slon) AS dist2,
             row_number() OVER (PARTITION BY p.c_custkey
                                ORDER BY (p.clat - t.slat) * (p.clat - t.slat)
                                       + (p.clon - t.slon) * (p.clon - t.slon),
                                         t.s_suppkey) AS rn
      FROM probes p CROSS JOIN pts t
    )
    SELECT c_custkey, s_suppkey, CAST(dist2 AS BIGINT) AS dist2,
           CAST(rn AS INT) AS rn
    FROM scored WHERE rn <= {_KNN_K}
    ORDER BY c_custkey, rn
    """,
    tags=("geo", "knn", "topk"),
)
def geo_grid_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact spatial kNN: for each of a bounded probe set (200 lowest
    customer keys), the 3 nearest suppliers by squared planar distance
    over deterministic md5-derived integer milli-degree coordinates.
    All-integer arithmetic — no trig, no tolerance.

    Scale: the PROBE side is broadcast (bounded at 200 rows by
    construction), so the scan side streams once with no shuffle of
    the point table; the per-probe top-3 is a window over
    |probes|x|points| scored rows clustered by probe. This is the
    exact brute-force baseline, the geo twin of llm_simsearch_topk —
    the blocked/pruned scale path is geo_grid_blocked_join's cell
    blocking, exactly as LSH/IVF are the ANN scale path to the brute
    cosine baseline.

    The point side is explicitly repartitioned to the measured-scan
    width before scoring (r10, same finding as
    geo_grid_blocked_join): supplier is ONE file split at sf1, so the
    |points|x|probes| scoring stage (~20M rows) otherwise runs on one
    core. sf1 warm 5.1 -> ~1 s for one cheap |points|-row exchange.
    """
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    from .queries_ext7 import _scan_scaled_partitions
    nparts = _scan_scaled_partitions(sf_dir, "lineitem")
    probes = (cust.filter(F.col("c_custkey") < _KNN_PROBES)
              .selectExpr("c_custkey",
                          f"{_lat_m('c_custkey', 'spark')} AS clat",
                          f"{_lon_m('c_custkey', 'spark')} AS clon"))
    pts = (supp.selectExpr("s_suppkey",
                           f"{_lat_m('s_suppkey', 'spark')} AS slat",
                           f"{_lon_m('s_suppkey', 'spark')} AS slon")
           .repartition(nparts))
    scored = (pts.crossJoin(F.broadcast(probes))
              .withColumn("dist2",
                          (F.col("clat") - F.col("slat"))
                          * (F.col("clat") - F.col("slat"))
                          + (F.col("clon") - F.col("slon"))
                          * (F.col("clon") - F.col("slon"))))
    w = Window.partitionBy("c_custkey").orderBy("dist2", "s_suppkey")
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _KNN_K)
            .select("c_custkey", "s_suppkey",
                    F.col("dist2").cast("bigint").alias("dist2"),
                    F.col("rn").cast("int").alias("rn")))


@register(
    "geo_grid_blocked_join",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey,
             {_lat_m('c_custkey', 'duckdb')} AS clat,
             {_lon_m('c_custkey', 'duckdb')} AS clon
      FROM customer
    ),
    s AS (
      SELECT s_suppkey,
             {_lat_m('s_suppkey', 'duckdb')} AS slat,
             {_lon_m('s_suppkey', 'duckdb')} AS slon
      FROM supplier
    )
    SELECT c.c_custkey, s.s_suppkey,
           CAST((c.clat - s.slat) * (c.clat - s.slat)
              + (c.clon - s.slon) * (c.clon - s.slon) AS BIGINT) AS dist2
    FROM c CROSS JOIN s
    WHERE (c.clat - s.slat) * (c.clat - s.slat)
        + (c.clon - s.slon) * (c.clon - s.slon) <= {_GRID_R2}
    ORDER BY c_custkey, s_suppkey
    """,
    tags=("geo", "join", "blocked"),
)
def geo_grid_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-threshold spatial join (customer-supplier pairs within
    R = 20 deg planar distance) via GRID-CELL BLOCKING: each supplier
    is replicated to its 3x3 neighborhood of R-sized cells, customers
    hash to their own cell, and the exact distance predicate refines
    the cell-equijoined candidates. With cell size = R, any pair
    within R differs by at most one cell per axis, so the 3x3
    expansion is lossless — the same guarantee-then-refine argument as
    the minhash band join (queries_llm.py).

    Scale: the cross product NEVER materializes — candidates are an
    equi-join on cell id (shuffle keyed by cell), and the replication
    factor is a constant 9. The oracle IS the cross product (DuckDB at
    sf0.01 is fine with 1.5M pairs); at 100 TB only the blocked plan
    survives. Skewed cells (dense cities) would salt exactly like
    join_salted_skew.

    The probe side is explicitly repartitioned to the measured-scan
    width BEFORE the broadcast hash join (r10): customer is a small
    FILE (one ~15 MB split at sf1 -> ONE scan task) but the probe
    evaluates the full candidate mass (~83M cell-pair rows at sf1) —
    without the spread the whole refine stage ran on one core. The
    cheap 1-exchange of |customers| rows buys a 32-way probe: sf1
    warm 8.0 -> 1.6 s, identical 27M-row output. On a cluster-scale
    input with many splits the repartition is a near-no-op of the
    same width as the scan.
    """
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    from .queries_ext7 import _scan_scaled_partitions
    nparts = _scan_scaled_partitions(sf_dir, "lineitem")
    c = (cust.selectExpr("c_custkey",
                         f"{_lat_m('c_custkey', 'spark')} AS clat",
                         f"{_lon_m('c_custkey', 'spark')} AS clon")
         .withColumn("cx", F.expr(f"CAST(FLOOR(clat / {_GRID_R}) AS BIGINT)"))
         .withColumn("cy", F.expr(f"CAST(FLOOR(clon / {_GRID_R}) AS BIGINT)"))
         .repartition(nparts))
    s = (supp.selectExpr("s_suppkey",
                         f"{_lat_m('s_suppkey', 'spark')} AS slat",
                         f"{_lon_m('s_suppkey', 'spark')} AS slon")
         .withColumn("dx", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
         .withColumn("dy", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
         .withColumn("cx", F.expr(f"CAST(FLOOR(slat / {_GRID_R}) AS BIGINT)")
                     + F.col("dx"))
         .withColumn("cy", F.expr(f"CAST(FLOOR(slon / {_GRID_R}) AS BIGINT)")
                     + F.col("dy")))
    dist2 = ((F.col("clat") - F.col("slat")) * (F.col("clat") - F.col("slat"))
             + (F.col("clon") - F.col("slon"))
             * (F.col("clon") - F.col("slon")))
    return (c.join(s, ["cx", "cy"])
            .withColumn("dist2", dist2)
            .filter(F.col("dist2") <= _GRID_R2)
            .select("c_custkey", "s_suppkey",
                    F.col("dist2").cast("bigint").alias("dist2")))


@register(
    "agg_chi2_independence",
    oracle=f"""
    WITH obs AS (
      SELECT o_orderstatus AS r, o_orderpriority AS c,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM orders GROUP BY 1, 2
    ),
    m AS (
      SELECT r, c, o,
             CAST(SUM(o) OVER (PARTITION BY r) AS BIGINT) AS rt,
             CAST(SUM(o) OVER (PARTITION BY c) AS BIGINT) AS ct,
             CAST(SUM(o) OVER () AS BIGINT) AS n
      FROM obs
    ),
    cells AS (
      SELECT r, c, n,
             (CAST(o AS DOUBLE)
               - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(o AS DOUBLE)
               - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
               AS term
      FROM m
    )
    SELECT {dsum_sql('term', 12)} AS chi2,
           CAST((COUNT(DISTINCT r) - 1) * (COUNT(DISTINCT c) - 1) AS BIGINT)
             AS dof,
           CAST(MAX(n) AS BIGINT) AS n,
           sqrt({dsum_sql('term', 12)}
                / (CAST(MAX(n) AS DOUBLE)
                   * CAST(least(COUNT(DISTINCT r), COUNT(DISTINCT c)) - 1
                          AS DOUBLE)))
             AS cramers_v
    FROM cells
    """,
    tags=("agg", "stats"),
)
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence (order status x order
    priority) with Cramér's V effect size. Expected counts come from
    integer margin products; each cell term is one fixed double
    expression (identical association both engines), and the 15-cell
    sum is decimal-accumulated (dsum) so partition order can't move
    the last bits.

    Scale: one groupBy to the contingency table (15 rows), then window
    margins over those 15 rows — everything after the first exchange
    is effectively free. The contingency groupBy is the only shuffle
    and is map-side combined.
    """
    o = load_table(spark, sf_dir, "orders")
    obs = (o.groupBy(F.col("o_orderstatus").alias("r"),
                     F.col("o_orderpriority").alias("c"))
           .agg(F.count(F.lit(1)).cast("bigint").alias("o")))
    m = obs.select(
        "r", "c", "o",
        F.expr("CAST(SUM(o) OVER (PARTITION BY r) AS BIGINT)").alias("rt"),
        F.expr("CAST(SUM(o) OVER (PARTITION BY c) AS BIGINT)").alias("ct"),
        F.expr("CAST(SUM(o) OVER () AS BIGINT)").alias("n"))
    exp = ("CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)")
    cells = m.selectExpr(
        "r", "c", "n",
        f"(CAST(o AS DOUBLE) - {exp}) * (CAST(o AS DOUBLE) - {exp})"
        f" / ({exp}) AS term")
    return cells.selectExpr(
        f"{dsum_sql('term', 12)} AS chi2",
        "CAST((COUNT(DISTINCT r) - 1) * (COUNT(DISTINCT c) - 1) AS BIGINT)"
        " AS dof",
        "CAST(MAX(n) AS BIGINT) AS n",
        f"sqrt({dsum_sql('term', 12)} / (CAST(MAX(n) AS DOUBLE)"
        f" * CAST(least(COUNT(DISTINCT r), COUNT(DISTINCT c)) - 1"
        f" AS DOUBLE))) AS cramers_v")


@register(
    "ts_cross_correlation",
    oracle="""
    WITH spine AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
    x AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS v
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    y AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS v
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    series AS (
      SELECT spine.d, COALESCE(x.v, 0) AS xv, COALESCE(y.v, 0) AS yv
      FROM spine LEFT JOIN x ON x.d = spine.d LEFT JOIN y ON y.d = spine.d
    ),
    lags AS (SELECT UNNEST(range(4)) AS lag),
    paired AS (
      SELECT l.lag, a.xv AS x, b.yv AS y
      FROM lags l
      JOIN series a ON TRUE
      JOIN series b ON b.d = a.d + CAST(l.lag AS INT)
    ),
    moms AS (
      SELECT lag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM paired GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)) AS xcorr
    FROM moms
    ORDER BY lag
    """,
    tags=("ts", "stats"),
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k cross-correlation (k = 0..3) between two daily count
    series: do 'view' events predict 'purchase' events k days later?
    Pearson r at each lag is assembled from six INTEGER moment sums
    (n, Sx, Sy, Sxx, Syy, Sxy) — the only floating point is one final
    division and one sqrt, both correctly-rounded single operations,
    so the result hashes bit-equal with no decimal scaffolding.

    Scale: the raw events reduce to one row per day in a SINGLE
    map-side-combined conditional aggregation (the spine and both
    zero-filled series fall out of one pass — a spine + two filtered
    joins would re-scan the events three times), and the tiny daily
    series is localCheckpointed before the lag self-join so its two
    consumers read the materialized rows, not the lineage: exactly ONE
    scan of the events table in the final plan (pinned in
    tests/test_plans.py). The classic moments trick: correlation at
    any lag set costs one pass over the reduced series.
    """
    ev = load_table(spark, sf_dir, "events")
    series = (ev.groupBy(F.to_date("ts").alias("d"))
              .agg(F.sum(F.when(F.col("event_type") == "view", 1)
                         .otherwise(0)).cast("bigint").alias("xv"),
                   F.sum(F.when(F.col("event_type") == "purchase", 1)
                         .otherwise(0)).cast("bigint").alias("yv"))
              .localCheckpoint(eager=True))
    lags = spark.range(4).select(F.col("id").cast("int").alias("lag"))
    a = series.select(F.col("d").alias("ad"), F.col("xv").alias("x"))
    b = series.select(F.col("d").alias("bd"), F.col("yv").alias("y"))
    paired = (a.crossJoin(F.broadcast(lags))
              .join(b, F.expr("bd = date_add(ad, lag)")))
    moms = (paired.groupBy("lag")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.sum("x").cast("bigint").alias("sx"),
                 F.sum("y").cast("bigint").alias("sy"),
                 F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
                 F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
                 F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy")))
    return (moms.selectExpr(
        "CAST(lag AS INT) AS lag", "n",
        "CAST(n * sxy - sx * sy AS DOUBLE)"
        " / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)"
        "        * CAST(n * syy - sy * sy AS DOUBLE)) AS xcorr")
        .orderBy("lag"))


@register(
    "window_rolling_median",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
             CAST(SUM({_O_CENTS}) AS BIGINT) AS day_cents
      FROM orders GROUP BY 1, 2
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, day_cents,
           quantile_cont(day_cents, 0.5) OVER (
             PARTITION BY yr ORDER BY d
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
    FROM daily
    ORDER BY day
    """,
    tags=("window", "ts", "robust"),
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-day rolling MEDIAN of daily revenue — the robust twin of
    the rolling averages (ts_rolling_24h): one outlier day cannot move
    the median, making it the smoother dashboards actually want.
    Inputs are integer cents, so Spark's percentile() and DuckDB's
    quantile_cont agree bit-exactly even on even-count warmup frames
    (integer midpoint interpolation incurs zero rounding below 2^52).

    Scale: days first collapse to one row each (map-side combined), so
    the window runs over ~365 rows per partition; PARTITION BY year
    keeps every partition bounded instead of the textbook global
    ORDER BY (whose single sorted partition is the classic 100 TB
    anti-pattern). Year-start warmup frames are part of the stated
    definition, identical in the oracle.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (o.groupBy(
        F.to_date("o_orderdate").alias("d"),
        F.year("o_orderdate").cast("int").alias("yr"))
        .agg(F.expr(f"CAST(SUM({_O_CENTS}) AS BIGINT)").alias("day_cents")))
    return (daily.selectExpr(
        "date_format(d, 'yyyy-MM-dd') AS day", "day_cents",
        "percentile(day_cents, 0.5) OVER ("
        "  PARTITION BY yr ORDER BY d"
        "  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7", "d")
        .orderBy("d").drop("d"))


@register(
    "sort_keyset_pagination",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m-%d') AS odate,
           o_orderkey,
           CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents
    FROM orders
    WHERE o_orderdate > DATE '1997-06-15'
       OR (o_orderdate = DATE '1997-06-15' AND o_orderkey > 7500)
    ORDER BY o_orderdate, o_orderkey
    LIMIT 50
    """,
    tags=("sort", "pagination"),
)
def sort_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (cursor) pagination: the page AFTER cursor
    (1997-06-15, order 7500) under ORDER BY (o_orderdate, o_orderkey),
    fetched with the composite-key predicate ``k > cursor`` instead of
    OFFSET. OFFSET-N pagination sorts and discards N rows — O(depth)
    per page and unusable at 100 TB; the keyset predicate is pushed
    into the parquet scan (row groups entirely before the cursor are
    skipped via min/max stats) and the page itself is a TakeOrdered
    top-50 — per-partition heaps, no global sort, O(page) forever.
    """
    o = load_table(spark, sf_dir, "orders")
    cur_d, cur_k = "DATE '1997-06-15'", 7500
    return (o.filter(F.expr(
        f"o_orderdate > {cur_d}"
        f" OR (o_orderdate = {cur_d} AND o_orderkey > {cur_k})"))
        .orderBy("o_orderdate", "o_orderkey").limit(50)
        .selectExpr("date_format(o_orderdate, 'yyyy-MM-dd') AS odate",
                    "o_orderkey",
                    f"{_O_CENTS} AS total_cents"))


@register(
    "etl_surrogate_keys",
    oracle=f"""
    WITH dim AS (
      SELECT p_brand, p_type,
             CAST(dense_rank() OVER (ORDER BY p_brand, p_type) AS BIGINT)
               AS sk
      FROM (SELECT DISTINCT p_brand, p_type FROM part)
    )
    SELECT d.sk, d.p_brand, d.p_type,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM({_CENTS.format(col='l.l_extendedprice * (1 - l.l_discount)')})
                AS BIGINT) AS rev_cents
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN dim d ON d.p_brand = p.p_brand AND d.p_type = p.p_type
    GROUP BY d.sk, d.p_brand, d.p_type
    ORDER BY d.sk
    """,
    tags=("etl", "dim"),
)
def etl_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conformed-dimension build with STABLE surrogate keys: the
    distinct (brand, type) pairs get dense integer ids by natural-key
    order (dense_rank), the dimension is broadcast back onto the fact
    table, and the fact rollup reports by surrogate key — the standard
    warehouse ETL step the catalog's star joins assumed but never
    built. Natural-key ordering makes the assignment reproducible
    across runs and engines (monotonically_increasing_id would not
    be); an incremental refresh assigns max(sk)+dense_rank to
    new-only keys, preserving issued ids.

    Scale: the distinct set is a map-side-combined groupBy that
    reduces the fact volume to |dim| rows BEFORE the single-partition
    dense_rank window touches it (~thousands of rows — bounded by the
    key domain, not the data); the dim re-joins by broadcast, so the
    fact table is never shuffled for key assignment.
    """
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    dim = (part.select("p_brand", "p_type").distinct()
           .withColumn("sk", F.dense_rank().over(
               Window.orderBy("p_brand", "p_type")).cast("bigint")))
    facts = li.join(F.broadcast(part.select("p_partkey", "p_brand", "p_type")),
                    li.l_partkey == F.col("p_partkey"))
    return (facts.join(F.broadcast(dim), ["p_brand", "p_type"])
            .groupBy("sk", "p_brand", "p_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"),
                 F.expr(f"CAST(SUM({_L_REV_CENTS}) AS BIGINT)")
                 .alias("rev_cents"))
            .orderBy("sk"))


@register(
    "ts_bitemporal_pit",
    oracle="""
    WITH bt AS (
      SELECT user_id, event_id, value, ts AS known_ts,
             CAST(ts AS DATE)
               - CASE WHEN event_type = 'error' THEN 7 ELSE 0 END
               AS valid_day
      FROM events
    ),
    vis AS (
      SELECT *, row_number() OVER (
               PARTITION BY user_id
               ORDER BY valid_day DESC, known_ts DESC, event_id DESC) AS rn
      FROM bt
      WHERE known_ts <= TIMESTAMP '2024-02-01 00:00:00'
        AND valid_day <= DATE '2024-01-20'
    )
    SELECT user_id, event_id,
           strftime(valid_day, '%Y-%m-%d') AS valid_day, value
    FROM vis WHERE rn = 1
    ORDER BY user_id
    """,
    tags=("ts", "bitemporal", "asof"),
)
def ts_bitemporal_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal point-in-time query: each event is a record with a
    VALID time (error events are retroactive corrections, back-dated 7
    days) and a KNOWLEDGE time (its arrival ts). The query answers
    "as the system knew it on Feb 1, what was each user's latest
    record valid on or before Jan 20" — the 2-D as-of that audit and
    restatement pipelines require, and that the 1-D SCD2 states
    (ts_scd2_states) cannot answer (a later-arriving correction must
    be INVISIBLE to earlier knowledge cutoffs).

    Scale: both temporal predicates are pushed into the scan before
    the single per-user window pass; state per user is one row. A
    materialized variant would precompute the validity lattice, but
    the filter-then-rank form recomputes any (K, V) cutoff pair from
    the immutable log — the event-sourcing doctrine of the reference
    (consumer/consumer.go:185-191) generalized to two time axes.
    """
    ev = load_table(spark, sf_dir, "events")
    bt = ev.select(
        "user_id", "event_id", "value",
        F.col("ts").alias("known_ts"),
        F.expr("date_sub(CAST(ts AS DATE),"
               " CASE WHEN event_type = 'error' THEN 7 ELSE 0 END)")
        .alias("valid_day"))
    vis = (bt.filter(
        (F.col("known_ts") <= F.lit("2024-02-01 00:00:00").cast("timestamp"))
        & (F.col("valid_day") <= F.lit("2024-01-20").cast("date"))))
    w = Window.partitionBy("user_id").orderBy(
        F.desc("valid_day"), F.desc("known_ts"), F.desc("event_id"))
    return (vis.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id",
                    F.date_format("valid_day", "yyyy-MM-dd")
                    .alias("valid_day"),
                    "value")
            .orderBy("user_id"))


@register(
    "llm_text_readability",
    oracle="""
    WITH counts AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
               AS words,
             CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT)
               AS syllables
      FROM documents
    )
    SELECT doc_id, words, syllables,
           CAST(CEIL(CAST(words AS DOUBLE) / 20.0) AS BIGINT) AS sent_units,
           206.835
             - 1.015 * (CAST(words AS DOUBLE)
                        / CAST(CEIL(CAST(words AS DOUBLE) / 20.0) AS DOUBLE))
             - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
             AS flesch,
           CASE
             WHEN 206.835
                - 1.015 * (CAST(words AS DOUBLE)
                           / CAST(CEIL(CAST(words AS DOUBLE) / 20.0)
                                  AS DOUBLE))
                - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
                >= 60 THEN 'easy'
             WHEN 206.835
                - 1.015 * (CAST(words AS DOUBLE)
                           / CAST(CEIL(CAST(words AS DOUBLE) / 20.0)
                                  AS DOUBLE))
                - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
                >= 30 THEN 'medium'
             ELSE 'hard'
           END AS band
    FROM counts
    WHERE words > 0
    ORDER BY doc_id
    """,
    tags=("llm", "text", "quality"),
)
def llm_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability scoring from pure regex counts: words
    (letter runs), a syllable proxy (vowel-group runs — the standard
    heuristic when no dictionary is allowed), and a sentence unit
    DEFINED as ceil(words/20) because this corpus has no sentence
    punctuation (documented convention; with punctuated text swap in
    regexp_count(text, '[.!?]+')). The score expression is written
    with identical association on both engines: three exact integer
    counts, two divisions, two multiplications, two subtractions —
    every step a single correctly-rounded IEEE op, so the doubles
    hash bit-equal with no tolerance.

    Scale: a narrow per-row map over the text column — no shuffle, no
    UDF (regexp_count stays inside codegen); composes with the quality
    gates (llm_text_quality) as one fused scan.
    """
    d = load_table(spark, sf_dir, "documents")
    sents = "CAST(CEIL(CAST(words AS DOUBLE) / 20.0) AS DOUBLE)"
    flesch = (f"206.835 - 1.015 * (CAST(words AS DOUBLE) / {sents})"
              f" - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))")
    return (d.selectExpr(
        "doc_id",
        "CAST(regexp_count(text, '[A-Za-z]+') AS BIGINT) AS words",
        "CAST(regexp_count(text, '[aeiouyAEIOUY]+') AS BIGINT) AS syllables")
        .filter(F.col("words") > 0)
        .selectExpr(
            "doc_id", "words", "syllables",
            "CAST(CEIL(CAST(words AS DOUBLE) / 20.0) AS BIGINT)"
            " AS sent_units",
            f"{flesch} AS flesch",
            f"CASE WHEN {flesch} >= 60 THEN 'easy'"
            f" WHEN {flesch} >= 30 THEN 'medium'"
            f" ELSE 'hard' END AS band")
        .orderBy("doc_id"))


@register(
    "dq_sequence_gaps",
    oracle="""
    WITH seq AS (
      SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F'
    ),
    nxt AS (
      SELECT k, lead(k) OVER (ORDER BY k) AS nk FROM seq
    )
    SELECT k + 1 AS gap_start, nk - 1 AS gap_end,
           CAST(nk - k - 1 AS BIGINT) AS gap_len
    FROM nxt
    WHERE nk > k + 1
    ORDER BY gap_len DESC, gap_start
    LIMIT 100
    """,
    tags=("dq", "sequence"),
)
def dq_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap detection in a supposedly-dense key sequence (the finished
    orders' keys): every maximal run of missing keys is reported as
    (gap_start, gap_end, gap_len), largest first. The textbook lag()
    formulation needs ONE GLOBAL-ORDER window — a single sorted
    partition, dead at 100 TB. This implementation is windowless:

    - gap STARTS = keys k with k+1 absent (left-anti self-join of
      keys+1 against keys), excluding the global max;
    - gap ENDS   = keys k with k-1 absent (anti-join the other way),
      excluding the global min, minus one;
    - each start pairs with the smallest end >= it — a FORWARD AS-OF
      join (operators/asof.py) between the two boundary sets.

    Scale: the anti-joins shuffle only the 8-byte key column; the
    boundary sets are |gaps|-sized (data-quality-small by assumption),
    so the as-of pairing is near-free. The projected key column is
    localCheckpointed ONCE before its four consumers (two anti-join
    sides each way) — without it each consumer re-plans the scan, 6
    parquet passes instead of 1 (caught by tools/plan_audit.py; same
    fix as the graph operators' edge materialization). The oracle uses
    the lag form — same result, different algebra, which is exactly
    what makes it a strong check.
    """
    o = load_table(spark, sf_dir, "orders")
    keys = (o.filter(F.col("o_orderstatus") == "F")
            .select(F.col("o_orderkey").alias("k"))
            .localCheckpoint(eager=True))
    bounds = keys.agg(F.min("k").alias("kmin"), F.max("k").alias("kmax"))
    succ_missing = (keys.join(keys.select((F.col("k") - 1).alias("k")),
                              "k", "left_anti")
                    .crossJoin(F.broadcast(bounds))
                    .filter(F.col("k") < F.col("kmax"))
                    .select((F.col("k") + 1).alias("gap_start")))
    pred_missing = (keys.join(keys.select((F.col("k") + 1).alias("k")),
                              "k", "left_anti")
                    .crossJoin(F.broadcast(bounds))
                    .filter(F.col("k") > F.col("kmin"))
                    .select((F.col("k") - 1).alias("gap_end")))
    from ..operators.asof import asof_join
    paired = asof_join(succ_missing.withColumn("g", F.lit(1)),
                       pred_missing.withColumn("g", F.lit(1)),
                       on="g", left_ts="gap_start", right_ts="gap_end",
                       right_cols=["gap_end"], direction="forward")
    return (paired
            .select("gap_start", "gap_end",
                    (F.col("gap_end") - F.col("gap_start") + 1)
                    .cast("bigint").alias("gap_len"))
            .orderBy(F.desc("gap_len"), "gap_start").limit(100))


@register(
    "agg_trimmed_winsorized",
    oracle="""
    WITH cents AS (
      SELECT o_orderpriority AS pri,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
             o_orderkey
      FROM orders
    ),
    ranked AS (
      SELECT pri, v,
             row_number() OVER (PARTITION BY pri ORDER BY v, o_orderkey)
               AS rn,
             COUNT(*) OVER (PARTITION BY pri) AS n
      FROM cents
    ),
    bounds AS (
      SELECT pri, MAX(n) AS n,
             MAX(CASE WHEN rn = CAST(CEIL(n * 0.10) AS BIGINT) THEN v END)
               AS p10,
             MAX(CASE WHEN rn = CAST(CEIL(n * 0.25) AS BIGINT) THEN v END)
               AS p25,
             MAX(CASE WHEN rn = CAST(CEIL(n * 0.75) AS BIGINT) THEN v END)
               AS p75,
             MAX(CASE WHEN rn = CAST(CEIL(n * 0.90) AS BIGINT) THEN v END)
               AS p90
      FROM ranked GROUP BY pri
    )
    SELECT r.pri,
           CAST(b.n AS BIGINT) AS n,
           CAST(SUM(CASE WHEN r.v BETWEEN b.p10 AND b.p90 THEN r.v END)
                AS DOUBLE)
             / CAST(SUM(CASE WHEN r.v BETWEEN b.p10 AND b.p90 THEN 1 END)
                    AS DOUBLE) AS trimmed_mean,
           CAST(SUM(least(greatest(r.v, b.p10), b.p90)) AS DOUBLE)
             / CAST(b.n AS DOUBLE) AS winsorized_mean,
           CAST(b.p25 + b.p75 AS DOUBLE) / 2.0 AS midhinge
    FROM ranked r JOIN bounds b ON b.pri = r.pri
    GROUP BY r.pri, b.n, b.p10, b.p25, b.p75, b.p90
    ORDER BY r.pri
    """,
    tags=("agg", "stats", "robust"),
)
def agg_trimmed_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust means per order priority over integer cents: the 10-90
    TRIMMED mean (drop the tails, average the core), the WINSORIZED
    mean (clamp the tails to the decile bounds), and the MIDHINGE
    ((p25+p75)/2). All three reduce to exact discrete percentile picks
    (row_number = ceil(p*n) — the agg_percentiles_disc idiom) plus
    integer conditional sums, so every output double is one exact-
    integer division: bit-equal across engines by construction.

    Scale: one sort within the priority-clustered exchange ranks the
    group; the percentile picks and the conditional sums ride the same
    clustering (the bounds re-join is per-group scalar broadcast). The
    known 100 TB caveat of exact percentiles applies (partition-sized
    sort buffers) — the mergeable-sketch twin is agg_kll_quantiles.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = o.selectExpr("o_orderpriority AS pri",
                         f"{_O_CENTS} AS v", "o_orderkey")
    w = Window.partitionBy("pri").orderBy("v", "o_orderkey")
    wp = Window.partitionBy("pri")
    ranked = cents.select(
        "pri", "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"))
    pick = lambda p: F.max(  # noqa: E731 - local one-liner
        F.when(F.col("rn") == F.expr(f"CAST(CEIL(n * {p}) AS BIGINT)"),
               F.col("v")))
    bounds = (ranked.groupBy("pri")
              .agg(F.max("n").alias("n"), pick(0.10).alias("p10"),
                   pick(0.25).alias("p25"), pick(0.75).alias("p75"),
                   pick(0.90).alias("p90")))
    joined = ranked.select("pri", "v").join(F.broadcast(bounds), "pri")
    core = F.when((F.col("v") >= F.col("p10")) & (F.col("v") <= F.col("p90")),
                  F.col("v"))
    return (joined.groupBy("pri", "n", "p10", "p25", "p75", "p90")
            .agg(F.sum(core).alias("ts"),
                 F.count(core).alias("tn"),
                 F.sum(F.expr("least(greatest(v, p10), p90)")).alias("ws"))
            .selectExpr(
                "pri", "CAST(n AS BIGINT) AS n",
                "CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE) AS trimmed_mean",
                "CAST(ws AS DOUBLE) / CAST(n AS DOUBLE) AS winsorized_mean",
                "CAST(p25 + p75 AS DOUBLE) / 2.0 AS midhinge")
            .orderBy("pri"))


@register(
    "scalar_jaro_winkler",
    oracle="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           jaro_winkler_similarity(a.p_name, b.p_name) AS jw
    FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
    WHERE a.p_partkey < 300
    ORDER BY key_a
    """,
    tags=("scalar", "fuzzy", "udf"),
)
def scalar_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler string similarity between adjacent part names —
    the fuzzy-match scalar Spark lacks as a builtin (levenshtein is
    the only built-in edit metric; scalar_levenshtein covers it).
    Scored via :func:`jw_column`: the native codegen expression on
    extension sessions, the Arrow-batched pandas UDF elsewhere — both
    bit-equal to DuckDB's jaro_winkler_similarity (the score is a
    small-integer rational; every implementation evaluates
    (m/l1 + m/l2 + (m-t)/m)/3 then j + p*0.1*(1-j) in IEEE doubles).

    Scale: a narrow per-row map, no shuffle; native path is one
    whole-stage-codegen call per row, UDF path ships two string
    columns per Arrow batch. The self-join on key+1 is a
    broadcast-range pairing bounded at 300 probe rows by construction
    — fuzzy ALL-PAIRS matching at scale goes through blocking first
    (join_fuzzy_blocked, er_resolve_pipeline), exactly like dedup.
    """
    jw = jw_column(spark)
    part = load_table(spark, sf_dir, "part")
    a = (part.filter(F.col("p_partkey") < 300)
         .select(F.col("p_partkey").alias("key_a"),
                 F.col("p_name").alias("name_a")))
    b = part.select(F.col("p_partkey").alias("key_b"),
                    F.col("p_name").alias("name_b"))
    return (a.join(b, F.col("key_b") == F.col("key_a") + 1)
            .select("key_a", "key_b",
                    jw("name_a", "name_b").alias("jw"))
            .orderBy("key_a"))
