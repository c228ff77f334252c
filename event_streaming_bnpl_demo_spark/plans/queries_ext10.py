"""Round-7 ext10 pack: exact-mergeable distinct, gaps-and-islands,
seasonal decomposition, and URL parsing.

Six queries that add genuinely new engine capability rather than a
new angle on an existing family:

- ``agg_bitmap_distinct`` — EXACT distinct counting through Spark's
  bitmap aggregate functions (``bitmap_bucket_number`` /
  ``bitmap_bit_position`` / ``bitmap_construct_agg`` /
  ``bitmap_or_agg`` / ``bitmap_count``): per-key distinct cardinality
  computed as a mergeable bitmap state. This is the missing middle of
  the distinct-counting spectrum the catalog already measures at both
  ends — ``agg_distinct`` (exact, but the raw keys shuffle) and
  ``agg_hll_mergeable`` (mergeable, but approximate): bitmaps merge
  associatively like a sketch yet count exactly. The query
  deliberately builds PARTIAL bitmaps per month and then
  ``bitmap_or_agg``-merges them — the materialized-view/rollup shape
  where pre-aggregated state must re-aggregate without rescanning.
- ``window_streaks`` — gaps-and-islands: longest run of CONSECUTIVE
  order days per customer via the row_number-difference technique
  (epoch_day − row_number is constant exactly within a consecutive
  run). The classic SQL idiom the window tier did not yet cover.
- ``ts_dow_seasonal`` — day-of-week seasonal decomposition of daily
  revenue with DIVISION-FREE residuals: the mean-residual
  ``daily − total/n`` is restated as the integer ``n·daily − total``
  (same ranking, exact in both engines), so no tolerance and no
  decimal division is needed. Top-|residual| days are the output.
- ``scalar_url_parse`` — ``parse_url`` (HOST / PATH / QUERY-key
  extraction), the web-corpus-curation scalar. The oracle does NOT
  call a URL parser: it reconstructs the expected components directly
  from the columns the URL was built from, so Spark's parser is
  checked against an independent formulation.
- ``mv_bitmap_distinct`` — the MV-maintenance twin of the bitmap
  aggregate: exact distinct-per-group maintained across a base/delta
  split purely by OR-merging bitmap state, with the batch
  COUNT(DISTINCT) as oracle. Completes the maintainability taxonomy
  (see ``queries_mv.py``) with a sixth strategy: bitmap-mergeable
  exact.
- ``mv_stream_bitmap_distinct`` — the streamed version: micro-batches
  write bitmap partials via ``foreachBatch``; the view is their
  OR-union. Identical topology to ``mv_stream_hll_distinct``, but
  exact — so it carries a full oracle where the HLL view is
  necessarily rows-only.

Scale: ``agg_bitmap_distinct`` shuffles (key, bucket) bitmap partials
(≤4 KiB each) instead of raw keys — the state per group is bounded by
|id-space|/8 bits regardless of row count, and partials from any
partitioning merge exactly. ``window_streaks`` is one
window-per-customer pass then two narrow groupBys. ``ts_dow_seasonal``
reduces to ≤ a-few-thousand daily rows before its 7-row broadcast
join. ``scalar_url_parse`` is a pure narrow map — no shuffle at all.

Determinism doctrine as everywhere: integer cents, exact counts,
dates cross the engine boundary as formatted strings, DuckDB HUGEINT
sums cast back to BIGINT.

Reference parity note: the reference's analytics surface is two SQL
strings over its MySQL projection (main.go:214,:241); this pack is
part of the SURVEY.md §2.2 capability superset for the 100 TB tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources import load_table
from .catalog import register
from .queries_ext7 import _CENTS


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS nd_customers
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("agg", "distinct", "bitmap", "mergeable"),
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct customers per order priority via mergeable
    bitmaps. Stage 1 builds PARTIAL bitmaps per (priority, bucket,
    month) — the granularity a monthly-rollup MV would persist;
    stage 2 ``bitmap_or_agg``-merges partials across months and sums
    per-bucket popcounts. Every id maps to exactly one
    (bucket, bit-position), so the merged popcount is the exact
    distinct count — associative and re-aggregable like a sketch,
    with none of a sketch's error. At 100 TB the win over
    COUNT(DISTINCT) is state shape: the shuffle carries bounded
    bitmap bytes per (key, bucket), not one row per raw id.
    """
    orders = load_table(spark, sf_dir, "orders")
    partial = (
        orders
        .withColumn("bkt", F.bitmap_bucket_number(F.col("o_custkey")))
        .withColumn("mth", F.date_trunc("month", F.col("o_orderdate")))
        .groupBy("o_orderpriority", "bkt", "mth")
        .agg(F.bitmap_construct_agg(
            F.bitmap_bit_position(F.col("o_custkey"))).alias("bm"))
    )
    merged = (
        partial.groupBy("o_orderpriority", "bkt")
        .agg(F.bitmap_or_agg(F.col("bm")).alias("bm"))
    )
    return (
        merged.groupBy("o_orderpriority")
        .agg(F.sum(F.bitmap_count(F.col("bm"))).alias("nd_customers"))
    )


@register(
    "window_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d
      FROM orders
    ),
    isl AS (
      SELECT o_custkey, d,
             CAST(d - DATE '1970-01-01' AS BIGINT)
               - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY d)
               AS grp
      FROM days
    ),
    runs AS (
      SELECT o_custkey, grp, COUNT(*) AS len
      FROM isl GROUP BY o_custkey, grp
    )
    SELECT o_custkey,
           CAST(MAX(len) AS BIGINT) AS max_streak,
           CAST(SUM(len) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM runs
    GROUP BY o_custkey
    HAVING MAX(len) >= 2
    """,
    tags=("window", "gaps-islands"),
)
def window_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: per customer, the longest streak of
    CONSECUTIVE calendar days with at least one order. Classic
    row_number-difference: within a consecutive run, epoch_day grows
    in lockstep with row_number, so their difference is a constant
    island id; a one-day gap shifts it. One window pass partitioned
    by customer (each partition is that customer's distinct days —
    bounded by the calendar, no skew), then two narrow groupBys.
    Output keeps customers with any streak >= 2 days.
    """
    orders = load_table(spark, sf_dir, "orders")
    # one hash exchange on customer serves the ENTIRE query: distinct
    # needs (cust, d) colocated, the window needs cust, and both
    # downstream groupBys key on cust — HashPartitioning(cust)
    # satisfies all four, so the plan has exactly one Exchange
    # (shuffling raw rows once beats shuffling near-identical deduped
    # rows twice: same-day duplicate orders are rare)
    days = (orders
            .select("o_custkey", F.to_date("o_orderdate").alias("d"))
            .repartition("o_custkey")
            .distinct())
    w = Window.partitionBy("o_custkey").orderBy("d")
    isl = days.withColumn(
        "grp",
        F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        .cast("long") - F.row_number().over(w))
    runs = isl.groupBy("o_custkey", "grp").agg(
        F.count(F.lit(1)).alias("len"))
    return (
        runs.groupBy("o_custkey")
        .agg(F.max("len").alias("max_streak"),
             F.sum("len").alias("n_days"),
             F.count(F.lit(1)).alias("n_streaks"))
        .filter(F.col("max_streak") >= 2)
    )


_O_CENTS = _CENTS.format(col="o_totalprice")


@register(
    "ts_dow_seasonal",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM({_O_CENTS}) AS BIGINT) AS day_cents
      FROM orders
      GROUP BY CAST(o_orderdate AS DATE)
    ),
    dow AS (
      SELECT isodow(d) AS dow,
             CAST(SUM(day_cents) AS BIGINT) AS dow_cents,
             CAST(COUNT(*) AS BIGINT) AS n_dow
      FROM daily GROUP BY isodow(d)
    )
    SELECT strftime(daily.d, '%Y-%m-%d') AS d,
           dow.dow,
           daily.day_cents,
           dow.n_dow,
           dow.n_dow * daily.day_cents - dow.dow_cents AS resid_num
    FROM daily JOIN dow ON isodow(daily.d) = dow.dow
    ORDER BY abs(dow.n_dow * daily.day_cents - dow.dow_cents) DESC,
             daily.d
    LIMIT 20
    """,
    tags=("ts", "seasonal", "exact"),
)
def ts_dow_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal decomposition of daily order revenue,
    division-free: the residual against the day-of-week mean,
    ``day_cents − dow_cents/n_dow``, is ranked through its integer
    numerator ``n_dow·day_cents − dow_cents`` (same sign and order —
    n_dow > 0 — and exact BIGINT in both engines). Output: the 20
    days deviating most from their weekday's seasonal level. The
    daily rollup reduces the input to one row per calendar day before
    the 7-row seasonal profile joins back (broadcast), so the heavy
    stage is a single map-side-combinable groupBy.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders
        .withColumn("d", F.to_date("o_orderdate"))
        .groupBy("d")
        .agg(F.sum(F.expr(_O_CENTS)).alias("day_cents"))
        # weekday(): Monday=0 .. Sunday=6; +1 matches DuckDB isodow
        .withColumn("dow", F.expr("weekday(d) + 1").cast("int"))
        # shared-subtree rule: daily feeds BOTH the 7-row profile and
        # the join probe — materialize the ~|calendar| rows once so
        # the fact scan+rollup never re-plans
        .localCheckpoint(eager=True)
    )
    dow = (daily.groupBy("dow")
           .agg(F.sum("day_cents").alias("dow_cents"),
                F.count(F.lit(1)).alias("n_dow")))
    joined = (
        daily.join(F.broadcast(dow), "dow")
        .withColumn("resid_num",
                    F.col("n_dow") * F.col("day_cents")
                    - F.col("dow_cents"))
        .select(F.date_format("d", "yyyy-MM-dd").alias("d"),
                "dow", "day_cents", "n_dow", "resid_num")
    )
    return joined.orderBy(F.abs(F.col("resid_num")).desc(), "d").limit(20)


@register(
    "scalar_url_parse",
    oracle="""
    SELECT doc_id,
           source || '.example.org' AS host,
           '/' || lang || '/doc/' || CAST(doc_id AS VARCHAR) AS path,
           lang AS qlang,
           CAST(doc_id AS VARCHAR) AS qid
    FROM documents
    """,
    tags=("scalar", "url", "narrow"),
)
def scalar_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``parse_url`` component extraction — HOST, PATH, and two
    QUERY-key lookups — over a URL deterministically constructed from
    the document's own columns. The oracle never parses: it
    reconstructs each expected component straight from the source
    columns, so Spark's parser is validated against an independent
    formulation rather than a second parser's quirks. Pure narrow
    map: no shuffle, whole-stage-codegen end to end — the shape of a
    web-corpus URL-normalization pass at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    url = _URL_EXPR()
    return docs.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("qlang"),
        F.parse_url(url, F.lit("QUERY"), F.lit("id")).alias("qid"),
    )


def _URL_EXPR():
    return F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.org/"),
        F.col("lang"), F.lit("/doc/"), F.col("doc_id").cast("string"),
        F.lit("?id="), F.col("doc_id").cast("string"),
        F.lit("&lang="), F.col("lang"))


@register(
    "mv_bitmap_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
    tags=("mv", "incremental", "bitmap", "distinct", "exact"),
)
def mv_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) maintained incrementally through BITMAP state —
    the exact answer ``mv_incremental_distinct`` maintains via its
    auxiliary key relation, at sketch-shaped cost. The stored view is
    one bitmap per (event_type, 32768-id bucket): an append folds in
    by building the delta's bitmaps independently (no read of the base
    state during the fold — unlike the anti-join strategy) and
    ``bitmap_or_agg``-merging, because set-OR is idempotent,
    commutative, and associative. State is O(|id-space|/8) bytes
    bounded regardless of row count; refresh cost is the delta scan
    plus an OR over touched buckets; the count stays EXACT. This
    completes the maintainability taxonomy's sixth row:
    bitmap-mergeable exact — between auxiliary-state
    (`mv_incremental_distinct`, O(distinct-keys) rows, needs the
    co-keyed anti-join) and sketch-mergeable (HLL, cheap but
    approximate). The base/delta split mirrors the MV pack
    (event_id % 4); the oracle is the batch COUNT(DISTINCT) over ALL
    events — the strongest incremental==batch check.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id")
    base = ev.filter(F.col("event_id") % 4 != 0)
    delta = ev.filter(F.col("event_id") % 4 == 0)

    def bitmaps(df: DataFrame) -> DataFrame:
        return (df
                .withColumn("bkt", F.bitmap_bucket_number("user_id"))
                .groupBy("event_type", "bkt")
                .agg(F.bitmap_construct_agg(
                    F.bitmap_bit_position("user_id")).alias("bm")))

    merged = (bitmaps(base).unionByName(bitmaps(delta))
              .groupBy("event_type", "bkt")
              .agg(F.bitmap_or_agg("bm").alias("bm")))
    return (merged.groupBy("event_type")
            .agg(F.sum(F.bitmap_count("bm")).alias("n_users")))


@register(
    "mv_stream_bitmap_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
    tags=("mv", "stream", "bitmap", "distinct", "exact"),
)
def mv_stream_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained EXACT distinct view: the event feed
    drains as four micro-batches; each foreachBatch writes its own
    (event_type, bucket) bitmap partials; the view is the OR-union of
    partials, popcounted. This is ``mv_stream_hll_distinct`` with the
    sketch swapped for bitmap state — and the decisive difference is
    that the result is exact, so the query carries a full DuckDB
    oracle (batch COUNT(DISTINCT) over all events) where the HLL view
    could only ever be rows-only. A 100 TB deployment keeps per-day
    bitmap columns and answers any-range distinct counts exactly by
    OR-ing them, never re-scanning raw history.

    Scale: per-batch state is |types| x |touched buckets| bitmaps
    (<= 4 KiB each) regardless of batch row count; the terminal union
    moves bitmaps, not user ids.
    """
    from .queries_ext import (_scratch, drain_partials, source_fingerprint,
                              staged_stream)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id")

    def fold(batch: DataFrame) -> dict[str, DataFrame]:
        return {"state": batch
                .withColumn("bkt", F.bitmap_bucket_number("user_id"))
                .groupBy("event_type", "bkt")
                .agg(F.bitmap_construct_agg(
                    F.bitmap_bit_position("user_id")).alias("bm"))}

    partials = drain_partials(
        staged_stream(spark, ev, "bmstream", sf_dir, 4),
        _scratch(f"bmstream_{source_fingerprint(sf_dir)}"), fold)["state"]
    return (partials.groupBy("event_type", "bkt")
            .agg(F.bitmap_or_agg("bm").alias("bm"))
            .groupBy("event_type")
            .agg(F.sum(F.bitmap_count("bm")).alias("n_users")))
