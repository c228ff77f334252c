"""ext21 pack: physical-layout planning + visualization/intake tiers —
the queries an engine runs ABOUT its data before it runs queries ON it:

- ``join_bucketed_colocated`` — the deploy-time layout win made
  catalog-visible: orders ⋈ lineitem over CO-BUCKETED tables, the join
  Catalyst plans with NO Exchange on either side (the plan shape is
  pinned in
  ``tests/test_ext21_semantics.py::test_bucketed_catalog_join_is_shuffle_free``;
  this entry proves the rows through the driver's oracle gate).
- ``etl_range_boundaries`` — exact range-partitioner boundary planning:
  the k-1 split values a balanced range shuffle/sort would use.
- ``ts_downsample_m4`` — M4 downsampling (Jugel et al., VLDB 2014):
  the error-free min/max/first/last-per-pixel-bucket reduction every
  time-series dashboard should use instead of sampling.
- ``scalar_ip_cidr`` — IPv4 parse / uint32 / CIDR-prefix arithmetic
  over deterministic md5-derived addresses (the log-pipeline scalar
  tier beyond ``scalar_url_parse``).
- ``agg_ecdf_points`` — empirical CDF evaluated at fixed thresholds
  per segment: the distribution table behind every "share under X"
  dashboard, exact and hash-checkable.
- ``llm_dataset_card`` — the one-row corpus intake card (docs, sources,
  languages, bytes, tokens, exact-dup rate) a training-data pipeline
  publishes with every snapshot.

Reference parity: none of this exists in the reference (615-LoC Go CQRS
demo, single constant Kinesis partition key — the OPPOSITE of a layout
story, producer/producer.go:24); SURVEY.md §2.2 capability-superset
tier.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources import load_table, write_bucketed
from .catalog import register
from .queries_ext import source_fingerprint
from .sqlcompat import dsum, dsum_sql

_CENTS = "CAST(FLOOR({col} * 100 + 0.5) AS BIGINT)"


# ---------------------------------------------------------------------------
# join_bucketed_colocated


_BUCKETED_ORACLE = f"""
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


def _staged_bucketed(spark: SparkSession, sf_dir: str, src: str,
                     cols: tuple[str, ...], key: str,
                     buckets: int = 8) -> DataFrame:
    """Stage one source as a bucketed+sorted parquet layout under a
    content-keyed ``stage_once`` dir (written ONCE per machine per
    source fingerprint, atomic-rename published), then expose it to
    this session as an external ``CLUSTERED BY`` table. Bucket file
    NAMES carry the bucket ids, so the layout survives the rename and
    any later session can re-register it — the bench doctrine: time
    the query, never the staging.
    """
    from .queries_ext import stage_once

    fp = source_fingerprint(sf_dir)
    name = f"bkt_{src}_{fp}"
    if spark.catalog.tableExists(name):
        return spark.table(name)
    df = load_table(spark, sf_dir, src).select(*cols)

    def write_fn(tmp: str) -> None:
        stage_tbl = f"{name}_stage_{os.getpid()}"
        write_bucketed(df, stage_tbl, key, buckets=buckets, path=tmp)
        # external table: DROP unregisters, the bucketed files stay
        spark.sql(f"DROP TABLE {stage_tbl}")

    root = stage_once(f"bktv1_{src}_{fp}", write_fn)
    schema_sql = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
    spark.sql(
        f"CREATE TABLE {name} ({schema_sql}) USING parquet "
        f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {buckets} BUCKETS "
        f"LOCATION '{root}'")
    return spark.table(name)


def _bucketed_pair(spark: SparkSession,
                   sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Orders+lineitem as co-bucketed (same key domain, same bucket
    count) catalog tables — the layout under which their equi-join
    needs no Exchange."""
    bo = _staged_bucketed(spark, sf_dir, "orders",
                          ("o_orderkey", "o_orderpriority"), "o_orderkey")
    bl = _staged_bucketed(spark, sf_dir, "lineitem",
                          ("l_orderkey", "l_extendedprice", "l_discount"),
                          "l_orderkey")
    return bo, bl


@register("join_bucketed_colocated", oracle=_BUCKETED_ORACLE,
          tags=("join", "layout", "bucketing"))
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join over CO-BUCKETED tables: orders and lineitem are
    both written ``bucketBy(8, orderkey) sortBy(orderkey)``, so the
    equi-join satisfies both sides' distribution requirements and
    Catalyst plans SortMergeJoin with NO Exchange and no per-task sort
    — at 100 TB the difference between re-shuffling terabytes on every
    query and reading co-located files. The zero-Exchange plan shape
    is pinned in ``tests/test_plans.py`` (broadcast disabled there to
    force the at-scale join shape); THIS entry proves the bucketed
    layout is data-invariant through the driver's oracle gate.

    Scale: bucket count is the layout knob — pick so each bucket file
    lands in the 100 MB–1 GB range; the staging write is the one-time
    layout cost the co-located reads amortize forever after.
    """
    bo, bl = _bucketed_pair(spark, sf_dir)
    return (bl.join(bo, bl.l_orderkey == bo.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 dsum("l_extendedprice * (1 - l_discount)", "revenue", 4)))


# ---------------------------------------------------------------------------
# etl_range_boundaries


_K_PARTS = 8

_BOUND_PICKS_SPARK = [
    f"MAX(CASE WHEN rn = (({i} * n + {_K_PARTS} - 1) DIV {_K_PARTS}) "
    f"THEN cents END) AS b{i}" for i in range(1, _K_PARTS)]
_BOUND_PICKS_DUCK = ", ".join(
    f"MAX(CASE WHEN rn = (({i} * n + {_K_PARTS} - 1) // {_K_PARTS}) "
    f"THEN cents END) AS b{i}" for i in range(1, _K_PARTS))

_RANGE_BOUND_ORACLE = f"""
WITH c AS (
  SELECT {_CENTS.format(col='o_totalprice')} AS cents, o_orderkey
  FROM orders
), ranked AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, o_orderkey) AS rn,
         COUNT(*) OVER () AS n
  FROM c
)
SELECT CAST(MAX(n) AS BIGINT) AS n_rows, {_BOUND_PICKS_DUCK}
FROM ranked
"""


@register("etl_range_boundaries", oracle=_RANGE_BOUND_ORACLE,
          tags=("etl", "layout", "sort"))
def etl_range_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioner boundary planning: the k-1 = 7 (_K_PARTS - 1) split
    values of o_totalprice (cents) at ranks ceil(i·n/k) — exactly the
    boundaries a balanced range shuffle (global sort, range-clustered
    write) would route on, each an actual stored element (the
    ``agg_percentiles_disc`` order-statistic discipline, so the output
    is hash-exact).

    Scale: this is the PLANNING query, not the shuffle — production
    Spark derives these boundaries from a per-partition reservoir
    sample (RangePartitioner), because the exact form below is a
    single-partition window sort. Exactness here is contractual: the
    oracle gate needs a deterministic answer, and the exact boundaries
    are the ground truth a sampled planner is graded against.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.expr(_CENTS.format(col="o_totalprice")).alias("cents"),
        "o_orderkey")
    w = Window.partitionBy().orderBy("cents", "o_orderkey")
    ranked = o.select(
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"))
    return ranked.selectExpr(
        "CAST(MAX(n) AS BIGINT) AS n_rows", *_BOUND_PICKS_SPARK)


# ---------------------------------------------------------------------------
# ts_downsample_m4


_M4_BUCKETS = 16

_M4_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM({_CENTS.format(col='o_totalprice')}) AS x
  FROM orders GROUP BY 1
), spine AS (
  SELECT MIN(d) AS d0, date_diff('day', MIN(d), MAX(d)) + 1 AS span
  FROM daily
), b AS (
  SELECT (date_diff('day', s.d0, daily.d) * {_M4_BUCKETS}) // s.span
           AS bucket,
         daily.d, daily.x
  FROM daily, spine s
), m AS (
  SELECT bucket, d, x,
         MIN(d) OVER (PARTITION BY bucket) AS d_min,
         MAX(d) OVER (PARTITION BY bucket) AS d_max,
         MIN(x) OVER (PARTITION BY bucket) AS x_min,
         MAX(x) OVER (PARTITION BY bucket) AS x_max
  FROM b
)
SELECT CAST(bucket AS BIGINT) AS bucket, d, CAST(x AS BIGINT) AS cents
FROM m
WHERE d = d_min OR d = d_max OR x = x_min OR x = x_max
"""


@register("ts_downsample_m4", oracle=_M4_ORACLE,
          tags=("ts", "downsample", "viz"))
def ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014) of the daily revenue
    series into {_M4_BUCKETS} pixel buckets: keep, per bucket, every
    point that is the first, last, minimum or maximum — the provably
    error-free reduction for min-max line rendering (a sampled
    downsample misses spikes; M4 cannot). Ties keep ALL extreme points,
    so the output is a well-defined SET and hash-checkable.

    Scale: one full pass to the daily rollup (map-side combined,
    calendar-bounded), then windows over the bucket key — a single
    ~uniform exchange of the already-tiny daily table. At 100 TB the
    rollup is the only term that sees raw rows; the M4 reduction's
    input is |days|, not |orders|.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice")
    # two consumers (spine + bucketing) read the daily rollup:
    # materialize it once or the fact scan runs twice
    daily = (o.groupBy(F.to_date("o_orderdate").alias("d"))
             .agg(F.sum(F.expr(_CENTS.format(col="o_totalprice")))
                  .alias("x"))
             .localCheckpoint(eager=True))
    spine = daily.agg(
        F.min("d").alias("d0"),
        (F.datediff(F.max("d"), F.min("d")) + 1).alias("span"))
    b = (daily.crossJoin(F.broadcast(spine))
         .select(F.expr(f"(datediff(d, d0) * {_M4_BUCKETS}) DIV span")
                 .alias("bucket"), "d", "x"))
    wb = Window.partitionBy("bucket")
    m = b.select(
        "bucket", "d", "x",
        F.min("d").over(wb).alias("d_min"), F.max("d").over(wb).alias("d_max"),
        F.min("x").over(wb).alias("x_min"), F.max("x").over(wb).alias("x_max"))
    return (m.filter("d = d_min OR d = d_max OR x = x_min OR x = x_max")
            .select(F.col("bucket").cast("bigint").alias("bucket"), "d",
                    F.col("x").cast("bigint").alias("cents")))


# ---------------------------------------------------------------------------
# scalar_ip_cidr


_IP_PREFIX_BITS = 12          # aggregate at /12
_IP_BLOCK = 1 << (32 - _IP_PREFIX_BITS)


def _ip_sql(dialect: str) -> str:
    """Deterministic IPv4 per customer: four octets from the first four
    md5 byte pairs of the key — identical hex text in both engines; the
    only dialect token is hex->int (Spark CONV vs DuckDB 0x-cast)."""
    if dialect == "spark":
        octet = ("CAST(CONV(SUBSTRING(h, {pos}, 2), 16, 10) AS BIGINT)")
    else:
        octet = "CAST(CAST('0x' || SUBSTRING(h, {pos}, 2) AS UBIGINT) AS BIGINT)"
    o = [octet.format(pos=1 + 2 * i) for i in range(4)]
    return (f"{o[0]} * 16777216 + {o[1]} * 65536 + {o[2]} * 256 + {o[3]}")


_IP_ORACLE = f"""
WITH ips AS (
  SELECT {_ip_sql('duckdb')} AS ip32
  FROM (SELECT md5(CAST(c_custkey AS VARCHAR)) AS h FROM customer)
), nets AS (
  SELECT (ip32 // {_IP_BLOCK}) * {_IP_BLOCK} AS net32, COUNT(*) AS n_ips,
         COUNT(DISTINCT ip32) AS n_distinct
  FROM ips GROUP BY 1
)
SELECT CAST(net32 // 16777216 AS VARCHAR) || '.' ||
       CAST((net32 // 65536) % 256 AS VARCHAR) ||
       '.0.0/{_IP_PREFIX_BITS}' AS subnet,
       CAST(n_ips AS BIGINT) AS n_ips,
       CAST(n_distinct AS BIGINT) AS n_distinct
FROM nets
ORDER BY n_ips DESC, subnet
LIMIT 20
"""


@register("scalar_ip_cidr", oracle=_IP_ORACLE,
          tags=("scalar", "string", "network"))
def scalar_ip_cidr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 / CIDR arithmetic: dotted-quad construction from hash
    octets, uint32 packing, /{_IP_PREFIX_BITS} prefix masking via pure
    integer arithmetic, and a top-20 subnets-by-address-count rollup —
    the log-pipeline scalar tier (geo/IP enrichment, subnet abuse
    rollups) beyond ``scalar_url_parse``. Addresses are md5-derived
    from customer keys so the exhibit is deterministic; the parse and
    mask logic is byte-for-byte what a real access-log pipeline runs.

    Scale: stateless per-row scalars in codegen, one map-side-combined
    groupBy on a 2^{_IP_PREFIX_BITS}-bounded key domain, TakeOrdered
    top-20 (total tie-break: count desc then subnet).
    """
    c = load_table(spark, sf_dir, "customer").select(
        F.md5(F.col("c_custkey").cast("string")).alias("h"))
    ips = c.select(F.expr(_ip_sql("spark")).alias("ip32"))
    nets = (ips.groupBy(
        F.expr(f"(ip32 DIV {_IP_BLOCK}) * {_IP_BLOCK}").alias("net32"))
        .agg(F.count(F.lit(1)).alias("n_ips"),
             F.countDistinct("ip32").alias("n_distinct")))
    return (nets.select(
        F.expr(f"CAST(net32 DIV 16777216 AS STRING) || '.' || "
               f"CAST((net32 DIV 65536) % 256 AS STRING) || "
               f"'.0.0/{_IP_PREFIX_BITS}'").alias("subnet"),
        F.col("n_ips").cast("bigint").alias("n_ips"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"))
        .orderBy(F.desc("n_ips"), "subnet").limit(20))


# ---------------------------------------------------------------------------
# agg_ecdf_points


_ECDF_THRESH = (-500_00, 0, 2_500_00, 5_000_00, 7_500_00)

_ECDF_ORACLE = f"""
WITH c AS (
  SELECT c_mktsegment, {_CENTS.format(col='c_acctbal')} AS cents
  FROM customer
), t AS (
  SELECT UNNEST(ARRAY{list(_ECDF_THRESH)}) AS thr_cents
)
SELECT c_mktsegment, CAST(thr_cents AS BIGINT) AS thr_cents,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN cents <= thr_cents THEN 1 ELSE 0 END) AS BIGINT)
         AS n_le,
       ROUND(CAST(SUM(CASE WHEN cents <= thr_cents THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS ecdf
FROM c, t
GROUP BY c_mktsegment, thr_cents
"""


@register("agg_ecdf_points", oracle=_ECDF_ORACLE,
          tags=("agg", "stats", "distribution"))
def agg_ecdf_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical CDF of account balance per market segment, evaluated
    at {len(_ECDF_THRESH)} fixed thresholds — the exact distribution
    table behind "share of customers under X" dashboards, and the
    fixed-point complement of ``agg_percentiles_disc`` (which inverts
    the same function). Counts are exact integers; the only double is
    the final ratio under ROUND(6).

    Scale: broadcast crossJoin against a {len(_ECDF_THRESH)}-row
    threshold spine, then one map-side-combinable groupBy on a
    |segments| x |thresholds| key domain — a single fact pass
    regardless of threshold count.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.expr(_CENTS.format(col="c_acctbal")).alias("cents"))
    thr = spark.createDataFrame(
        [(t,) for t in _ECDF_THRESH], "thr_cents long")
    le = F.sum(F.when(F.col("cents") <= F.col("thr_cents"), 1)
               .otherwise(0))
    return (c.crossJoin(F.broadcast(thr))
            .groupBy("c_mktsegment", "thr_cents")
            .agg(F.count(F.lit(1)).alias("n"), le.alias("n_le"))
            .select("c_mktsegment",
                    F.col("thr_cents").cast("bigint").alias("thr_cents"),
                    F.col("n").cast("bigint").alias("n"),
                    F.col("n_le").cast("bigint").alias("n_le"),
                    F.round(F.col("n_le").cast("double") / F.col("n"), 6)
                    .alias("ecdf")))


# ---------------------------------------------------------------------------
# llm_dataset_card


_CARD_ORACLE = """
WITH per_doc AS (
  SELECT source, lang, n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         md5(text) AS h
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dups,
       ROUND(CAST(COUNT(*) - COUNT(DISTINCT h) AS DOUBLE) / COUNT(*), 6)
         AS dup_rate,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 4)
         AS avg_tokens_per_doc
FROM per_doc
"""


@register("llm_dataset_card", oracle=_CARD_ORACLE,
          tags=("llm", "text", "metadata"))
def llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row dataset card a training-data pipeline publishes with
    every corpus snapshot: document/source/language counts, total
    characters and whitespace tokens, and the exact-duplicate rate
    (1 - distinct content hashes / docs) — the intake summary that
    gates whether a snapshot is worth the downstream dedup/quality
    spend. Every count is an exact integer; the two ratios are the
    only doubles, under ROUND.

    Scale: a single scan computing per-doc scalars in codegen, then
    one global aggregate; the distinct counts ride partial aggregation
    (hash + source + lang domains all << rows). This is the cheap
    always-on version of the full curation pipeline
    (``llm_curation_pipeline``).
    """
    d = load_table(spark, sf_dir, "documents")
    per = d.select(
        "source", "lang", "n_chars",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.md5("text").alias("h"))
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        (F.count(F.lit(1)) - F.countDistinct("h")).cast("bigint")
        .alias("n_exact_dups"),
        F.round((F.count(F.lit(1)) - F.countDistinct("h"))
                .cast("double") / F.count(F.lit(1)), 6).alias("dup_rate"),
        F.round(F.sum("n_tokens").cast("double") / F.count(F.lit(1)), 4)
        .alias("avg_tokens_per_doc"))
