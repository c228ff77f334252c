"""Round-4 extension pack: null-safe join semantics, interval-coverage
(sweep-line) analytics, weight-biased deterministic sampling, and
watermark-bounded streaming dedup.

Each query keeps the catalog invariants: integer/string outputs (or the
``sqlcompat`` decimal idioms) so the driver value-hash is bit-stable,
and a plan that stays one-exchange / broadcast-shaped at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources import load_table
from .catalog import register


@register(
    "join_null_safe",
    oracle="""
    WITH keyed AS (
      SELECT NULLIF(event_type, 'error') AS k, user_id FROM events
    ),
    dim AS (
      SELECT DISTINCT k, COALESCE(k, '(errors)') AS bucket FROM keyed
    )
    SELECT d.bucket AS bucket,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM keyed e JOIN dim d ON e.k IS NOT DISTINCT FROM d.k
    GROUP BY d.bucket
    """,
    tags=("join", "null"),
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): the
    join key is NULL for one class of rows ('error' events) and a
    plain equi-join would silently drop them — the null-safe predicate
    keeps NULL==NULL matches, the semantics every dimension lookup
    with an "unknown" bucket needs.

    Scale: EqualNullSafe is still an equi-join predicate to Spark, so
    the tiny derived dimension broadcasts and the fact side streams
    through one BroadcastHashJoin — null-safety costs nothing over
    ``=``.
    """
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(F.expr("NULLIF(event_type, 'error')").alias("k"),
                      "user_id")
    dim = (keyed.select("k").distinct()
           .select("k", F.coalesce("k", F.lit("(errors)")).alias("bucket")))
    return (keyed.alias("e")
            .join(F.broadcast(dim.alias("d")),
                  F.col("e.k").eqNullSafe(F.col("d.k")))
            .groupBy("d.bucket")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("e.user_id").alias("n_users")))


@register(
    "ts_interval_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id,
             epoch_us(ts) // 1000000 AS s,
             epoch_us(ts) // 1000000 + 600 AS e
      FROM events
    ),
    m AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pmax
      FROM iv
    ),
    fl AS (
      SELECT user_id, s, e,
             CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS nf
      FROM m
    ),
    isl AS (
      SELECT user_id, s, e,
             SUM(nf) OVER (PARTITION BY user_id ORDER BY s, e
                           ROWS UNBOUNDED PRECEDING) AS island
      FROM fl
    ),
    agg AS (
      SELECT user_id, island, MIN(s) AS st, MAX(e) AS en
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(en - st) AS BIGINT) AS covered_sec
    FROM agg GROUP BY user_id
    """,
    tags=("ts", "window"),
)
def ts_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-interval coverage (sweep line): each event opens a
    10-minute activity interval; overlapping intervals per user are
    merged into islands and the total covered wall-clock is summed —
    the "how much time was this user actually active" metric that
    naive SUM(duration) double-counts. The classic gaps-and-islands
    sweep: running MAX of interval end over all *preceding* rows
    detects a gap, a running SUM of gap flags numbers the islands.

    Determinism: pure integer epoch-second arithmetic.

    Scale: both windows and both aggregates cluster by user_id, so
    the whole query rides ONE hashpartitioning(user_id) exchange —
    the (user_id, island) and final user_id aggregates reuse that
    clustering (pinned in test_plans).
    """
    ev = load_table(spark, sf_dir, "events")
    sec = F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000")
    iv = ev.select("user_id", sec.alias("s"), (sec + F.lit(600)).alias("e"))
    order = [F.col("s"), F.col("e")]
    w_prev = (Window.partitionBy("user_id").orderBy(*order)
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("user_id").orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    flagged = iv.withColumn("pmax", F.max("e").over(w_prev)).withColumn(
        "nf", F.when(F.col("pmax").isNull()
                     | (F.col("s") > F.col("pmax")), 1).otherwise(0))
    islands = flagged.withColumn("island", F.sum("nf").over(w_run))
    per_island = (islands.groupBy("user_id", "island")
                  .agg(F.min("s").alias("st"), F.max("e").alias("en")))
    return (per_island.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_islands"),
                 F.sum(F.col("en") - F.col("st")).alias("covered_sec")))


@register(
    "llm_priority_sample",
    oracle="""
    SELECT doc_id, source, n_chars
    FROM (
      SELECT doc_id, source, n_chars,
             least(n_chars, 32000)
               * CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                      1, 12)) AS BIGINT) AS pri
      FROM documents
    )
    ORDER BY pri DESC, doc_id
    LIMIT 100
    """,
    tags=("llm", "sample"),
)
def llm_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-biased deterministic sampling: rank every document by
    ``weight x uniform48`` (weight = n_chars, uniform48 = the first 12
    md5 hex chars of the doc id as a 48-bit integer) and keep the
    top 100 — longer documents are proportionally more likely to win,
    and the draw is reproducible across runs, engines, and cluster
    layouts because the "randomness" is a content hash, not an RNG.

    Honest caveat: this is weight-MONOTONE priority sampling, not
    exact Efraimidis–Spirakis A-ES (whose u^(1/w) keys need
    transcendental float math that is not bit-portable across
    engines); for corpus-curation quotas the monotone property is
    what's actually relied on. All arithmetic is 64-bit integer; the
    weight is capped at 32,000 so weight x 48-bit-hash can never
    overflow int64 (where the engines diverge: DuckDB errors, Spark
    wraps).

    Scale: a scalar projection plus global top-k = per-partition
    heaps + driver merge (TakeOrderedAndProject), no global sort, no
    shuffle of the full corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    u48 = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12),
                 16, 10).cast("bigint")
    return (d.select("doc_id", "source", "n_chars",
                     (F.least("n_chars", F.lit(32000)) * u48).alias("pri"))
            .orderBy(F.desc("pri"), "doc_id").limit(100)
            .select("doc_id", "source", "n_chars"))


@register(
    "stream_dedup_watermark",
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
    FROM events GROUP BY event_type
    """,
    tags=("stream", "dedup", "stateful"),
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup
    (``dropDuplicatesWithinWatermark``): the event log is doubled (every
    event twice) and streamed; the operator emits each event_id once
    and — unlike plain streaming ``dropDuplicates`` whose key state
    grows forever — evicts state once the watermark passes, the only
    dedup shape that survives an unbounded 100 TB stream. Duplicates
    ride in the same micro-batch so eviction can never race arrival
    and the result is exactly the distinct log, which the batch oracle
    counts.

    Scale: one state-store shuffle on the dedup key; state size is
    bounded by the watermark horizon, not stream history.
    """
    from .queries_ext import drain_memory, staged_stream

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
    # single-file input -> duplicates ride in the same micro-batch
    stream = staged_stream(spark, ev.unionAll(ev), "dedup_wm", sf_dir, 1)
    from ..session import scoped_conf

    # fresh-checkpoint stateful query: size the state store for the
    # keyspace, not the batch default (2.6 s -> 1.5 s warm at sf0.1;
    # see session.scoped_conf). The trailing no-data
    # micro-batch is skipped (r12): append-mode dedup emits every
    # first-seen row in its ARRIVAL batch — the watermark-advance
    # batch only evicts state, so the emitted rows are identical
    # (asserted per run by the oracle) and availableNow runs 1 batch
    # instead of 2 — measured interleaved 2.6-3.2 -> 1.1-1.5 s warm
    # at sf0.1. A shape whose output depends on watermark CLOSE
    # (append-mode windows, outer stream-stream joins) must never do
    # this; see session.scoped_conf.
    with scoped_conf(spark, {
            "spark.sql.streaming.noDataMicroBatches.enabled": "false",
            "spark.sql.shuffle.partitions": "8"}):
        deduped = drain_memory(
            stream.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"]), "append")
    return (deduped.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_unique")))


# ---------------------------------------------------------------------------
# Round-4b: distinct analytics capabilities — sketches, CDC merge,
# feature normalization, path analysis, co-occurrence, RFM segmentation.
# ---------------------------------------------------------------------------

_CM_D, _CM_W = 4, 256  # count-min sketch: 4 hash rows x 256 buckets


def _cm_bucket_sql(key: str, i: str, dialect: str) -> str:
    """Bucket of ``key`` under hash row ``i``: first 16 bits of
    md5(key ':' i) mod width — same arithmetic, both dialects."""
    if dialect == "spark":
        return (f"CAST(conv(substring(md5(concat(CAST({key} AS STRING), "
                f"':', CAST({i} AS STRING))), 1, 4), 16, 10) AS BIGINT) "
                f"% {_CM_W}")
    return (f"CAST(('0x' || substr(md5(CAST({key} AS VARCHAR) || ':' || "
            f"CAST({i} AS VARCHAR)), 1, 4)) AS BIGINT) % {_CM_W}")


@register(
    "sketch_count_min_topk",
    oracle=f"""
    WITH hr AS (SELECT UNNEST(range({_CM_D})) AS i),
    b AS (
      SELECT i.i AS i, {_cm_bucket_sql('e.user_id', 'i.i', 'duckdb')} AS bucket
      FROM events e CROSS JOIN hr i
    ),
    sketch AS (SELECT i, bucket, COUNT(*) AS cnt FROM b GROUP BY i, bucket),
    keys AS (SELECT user_id, COUNT(*) AS true_count FROM events
             GROUP BY user_id),
    kb AS (
      SELECT k.user_id, k.true_count, i.i AS i,
             {_cm_bucket_sql('k.user_id', 'i.i', 'duckdb')} AS bucket
      FROM keys k CROSS JOIN hr i
    ),
    est AS (
      SELECT kb.user_id, kb.true_count, MIN(s.cnt) AS cm_estimate
      FROM kb JOIN sketch s ON s.i = kb.i AND s.bucket = kb.bucket
      GROUP BY kb.user_id, kb.true_count
    )
    SELECT user_id, true_count, cm_estimate
    FROM est ORDER BY cm_estimate DESC, user_id LIMIT 10
    """,
    tags=("sketch", "agg"),
)
def sketch_count_min_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters: per-user event counts estimated
    from a {d} x {w} integer sketch (md5-hashed buckets, estimate =
    min over rows), reported for the top-10 estimated users next to
    their true counts. The sketch is THE bounded-memory answer to
    "top talkers" on a stream the exact groupBy can't hold — here both
    the sketch AND its exact oracle are computed so over-estimation is
    visible (estimate >= truth always).

    Determinism: buckets are md5 arithmetic, counts are integers, the
    estimate is an integer MIN — bit-stable everywhere.

    Scale: the sketch build is one aggregate over a {d}x-exploded scan
    into d*w <= 1024 cells (map-side combined to nothing); the probe
    joins the per-key relation against those 1024 broadcast-size
    cells. At stream scale the same cells live in stateful memory.
    """.format(d=_CM_D, w=_CM_W)
    ev = load_table(spark, sf_dir, "events")
    keys = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_count"))
    hr = F.explode(F.expr(f"sequence(0, {_CM_D - 1})")).alias("i")
    # ONE bucketed key relation feeds both the cell table and the
    # probe (r12): this query already materializes the exact per-key
    # counts for its true_count column, and the cell count is a pure
    # marginal of them — cnt(i, bucket) = Σ true_count over keys
    # hashing there, row-for-row what the 4x-exploded raw-event build
    # produced. The raw stream is now scanned ONCE and md5 runs
    # 4·|keys| times instead of 4·(|events| + |keys|) — measured
    # interleaved 1.5-2.1 -> 0.8-1.3 s at sf0.1 and 3.7-4.5 ->
    # 0.9-1.0 s at the sf1 replica, identical rows. (A stream-scale
    # deployment folds raw events into the d x w cells statefully —
    # the bounded-memory posture in the docstring — and has no exact
    # key relation to marginalize from; this batch exhibit does.)
    kb = (keys.select("user_id", "true_count", hr)
          .select("user_id", "true_count", "i",
                  F.expr(_cm_bucket_sql("user_id", "i", "spark"))
                  .alias("bucket"))
          .localCheckpoint(eager=True))
    sketch = kb.groupBy("i", "bucket").agg(F.sum("true_count").alias("cnt"))
    est = (kb.join(F.broadcast(sketch), ["i", "bucket"])
           .groupBy("user_id", "true_count")
           .agg(F.min("cnt").alias("cm_estimate")))
    return est.orderBy(F.desc("cm_estimate"), "user_id").limit(10)


@register(
    "cdc_merge_upsert",
    oracle="""
    WITH changes AS (
      SELECT c_custkey AS k, 'U' AS op, 'UPGRADED' AS seg
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey, 'D', NULL
      FROM customer WHERE c_custkey % 13 = 0 AND c_custkey % 7 <> 0
      UNION ALL
      SELECT c_custkey + (SELECT MAX(c_custkey) + 1 FROM customer), 'I', 'NEW'
      FROM customer WHERE c_custkey % 11 = 0
    )
    SELECT COALESCE(ch.seg, b.c_mktsegment) AS segment,
           COUNT(*) AS n_customers,
           CAST(COUNT(*) FILTER (WHERE ch.op = 'U') AS BIGINT) AS n_updated,
           CAST(COUNT(*) FILTER (WHERE ch.op = 'I') AS BIGINT) AS n_inserted
    FROM customer b FULL OUTER JOIN changes ch ON b.c_custkey = ch.k
    WHERE ch.op IS NULL OR ch.op <> 'D'
    GROUP BY 1
    """,
    tags=("cdc", "join"),
)
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch CDC MERGE: a derived change set (updates / deletes /
    inserts keyed like a change-data-capture feed) applied to the base
    table with one full-outer join — update rows override, delete rows
    drop, insert rows append, untouched rows pass through; the
    post-merge segment census proves all four paths. This is the MERGE
    INTO semantics every lakehouse upsert runs, expressed in pure
    DataFrame ops (the engine's streaming twin is the keyed last-wins
    upsert, ref_lastwin_state).

    Insert keys are offset by the data's own MAX(c_custkey) (a 1-row
    scalar aggregate), guaranteeing disjointness from live keys at ANY
    scale factor — a fixed constant collides once SF >= ~67 (customer
    cardinality = SF x 150k) and would silently turn inserts into
    multi-matching updates.

    Scale: one co-keyed full-outer join (both sides shuffle once on
    the key — at deploy co-bucketed to zero exchanges) + a tiny
    segment fold. The change set is usually << base, so AQE broadcasts
    it and the base never shuffles at all.
    """
    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    # 1-row scalar action: the max key is a single value pulled to the
    # driver (bounded, same precedent as the query-vector head() in
    # queries_udf) — a joined-in 1-row relation constant-folds into a
    # BroadcastNestedLoopJoin, which the pack's plan pin forbids.
    # +1 because keys start at 0: a bare max offset would map key 0
    # onto the existing max key (the emit/apply round-trip law test
    # caught this in the emission twin).
    max_key = c.agg(F.max(k)).head()[0] + 1
    changes = (
        c.filter(k % 7 == 0)
        .select(k.alias("k"), F.lit("U").alias("op"),
                F.lit("UPGRADED").alias("seg"))
        .unionAll(c.filter((k % 13 == 0) & (k % 7 != 0))
                  .select(k.alias("k"), F.lit("D").alias("op"),
                          F.lit(None).cast("string").alias("seg")))
        .unionAll(c.filter(k % 11 == 0)
                  .select((k + F.lit(max_key)).alias("k"),
                          F.lit("I").alias("op"),
                          F.lit("NEW").alias("seg"))))
    merged = c.join(changes, c.c_custkey == changes.k, "full_outer")
    return (merged.filter(F.col("op").isNull() | (F.col("op") != "D"))
            .groupBy(F.coalesce("seg", "c_mktsegment").alias("segment"))
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.sum(F.when(F.col("op") == "U", 1).otherwise(0))
                 .alias("n_updated"),
                 F.sum(F.when(F.col("op") == "I", 1).otherwise(0))
                 .alias("n_inserted")))


@register(
    "window_rank_normalize",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           percent_rank() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal, c_custkey) AS pr
    FROM customer
    """,
    tags=("window", "ml"),
)
def window_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based feature normalization: per-segment percent_rank of
    account balance in [0, 1] — the distribution-free scaling step ML
    feature pipelines prefer over z-scores when the raw values are
    skewed or outlier-heavy. The custkey tiebreak makes the rank (and
    therefore the emitted double, an exact ratio of small integers)
    deterministic across engines and partitionings.

    Scale: one window pass clustered by segment; nothing else.
    """
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.percent_rank().over(w).alias("pr"))


@register(
    "events_path_topk",
    oracle="""
    WITH r AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    p AS (
      SELECT user_id,
             MAX(CASE WHEN rn = 1 THEN event_type END) AS e1,
             MAX(CASE WHEN rn = 2 THEN event_type END) AS e2,
             MAX(CASE WHEN rn = 3 THEN event_type END) AS e3
      FROM r WHERE rn <= 3 GROUP BY user_id
    )
    SELECT e1 || ' > ' || e2 || ' > ' || e3 AS path,
           COUNT(*) AS n_users
    FROM p WHERE e3 IS NOT NULL
    GROUP BY 1 ORDER BY n_users DESC, path LIMIT 10
    """,
    tags=("events", "window"),
)
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: each user's first three events (event-time
    order, id tiebreak) folded into a path string, counted, top-10 —
    the path-analysis query behind every onboarding funnel review,
    without a sessionizer dependency.

    Scale: one user-clustered window pass, a conditional-pivot
    aggregate riding the SAME exchange, then a tiny path census and
    TakeOrdered — the fact is shuffled exactly once.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.select("user_id", "event_type",
                  F.row_number().over(w).alias("rn")).filter(F.col("rn") <= 3)
    p = r.groupBy("user_id").agg(*[
        F.max(F.when(F.col("rn") == i, F.col("event_type")))
        .alias(f"e{i}") for i in (1, 2, 3)])
    return (p.filter(F.col("e3").isNotNull())
            .select(F.concat_ws(" > ", "e1", "e2", "e3").alias("path"))
            .groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))
            .orderBy(F.desc("n_users"), "path").limit(10))


@register(
    "events_cooccurrence",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           COUNT(*) AS n_users
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
    tags=("events", "join"),
)
def events_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavior co-occurrence matrix: for every unordered pair of
    event types, how many users exhibit both — the market-basket /
    affinity query. The pairwise expansion is bounded by the TYPE
    cardinality per user (here <= 5, so <= 10 pairs/user), never by
    event volume: the blocking discipline of the dedup pack applied
    to basket analysis.

    Scale: distinct (user, type) collapses the log first (map-side
    combined); the self-join is co-keyed on user_id and its output is
    capped at |users| x C(types,2).
    """
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    a, b = ut.alias("a"), ut.alias("b")
    return (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                   & (F.col("a.event_type") < F.col("b.event_type")))
            .groupBy(F.col("a.event_type").alias("type_a"),
                     F.col("b.event_type").alias("type_b"))
            .agg(F.count(F.lit(1)).alias("n_users")))


@register(
    "q_customer_rfm",
    oracle="""
    WITH per AS (
      SELECT o_custkey AS custkey,
             date_diff('day', MAX(o_orderdate),
                       (SELECT MAX(o_orderdate) FROM orders)) AS recency_days,
             COUNT(*) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    q AS (
      SELECT custkey,
             NTILE(4) OVER (ORDER BY recency_days, custkey) AS r_q,
             NTILE(4) OVER (ORDER BY frequency DESC, custkey) AS f_q,
             NTILE(4) OVER (ORDER BY monetary DESC, custkey) AS m_q
      FROM per
    )
    SELECT r_q, f_q, m_q, COUNT(*) AS n_customers
    FROM q GROUP BY 1, 2, 3
    """,
    tags=("agg", "window", "bi"),
)
def q_customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored into recency /
    frequency / monetary quartiles (NTILE over the per-customer
    rollup, custkey tiebreak for determinism; monetary ranked on the
    exact decimal sum so float order can't flip a boundary), censused
    per (R,F,M) cell — the marketing-analytics workhorse.

    Scale: the quartile windows sort the per-CUSTOMER relation —
    orders-of-magnitude smaller than the fact — so the global NTILE
    sort is bounded by customer cardinality; at extreme customer
    counts swap NTILE for approx-percentile cutpoints
    (agg_approx_percentile) without changing the output contract.
    """
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_o"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)")).alias("monetary"))
    anchor = F.max("last_o").over(Window.partitionBy())
    per = per.withColumn("recency_days",
                         F.datediff(anchor, F.col("last_o")))
    q = per.select(
        "custkey",
        F.ntile(4).over(Window.orderBy("recency_days", "custkey"))
        .alias("r_q"),
        F.ntile(4).over(Window.orderBy(F.desc("frequency"), "custkey"))
        .alias("f_q"),
        F.ntile(4).over(Window.orderBy(F.desc("monetary"), "custkey"))
        .alias("m_q"))
    return (q.groupBy("r_q", "f_q", "m_q")
            .agg(F.count(F.lit(1)).alias("n_customers")))


@register(
    "join_fuzzy_blocked",
    oracle="""
    WITH names AS (
      SELECT p_name, split_part(p_name, ' ', 2) AS noun,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM part GROUP BY 1, 2
    ), pairs AS (
      SELECT a.noun, levenshtein(a.p_name, b.p_name) AS d,
             a.cnt * b.cnt AS w
      FROM names a JOIN names b
        ON a.noun = b.noun AND a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 2
      UNION ALL
      SELECT noun, 0, cnt * (cnt - 1) / 2 FROM names WHERE cnt > 1
    )
    SELECT noun,
           CAST(SUM(w) FILTER (WHERE d = 0) AS BIGINT) AS n_exact,
           CAST(SUM(w) FILTER (WHERE d = 1) AS BIGINT) AS n_dist1,
           CAST(SUM(w) FILTER (WHERE d = 2) AS BIGINT) AS n_dist2
    FROM pairs GROUP BY 1
    """,
    tags=("join", "similarity", "llm"),
)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked string-similarity self-join (edit distance <= 2) in the
    shape that survives 100 TB: first fold the rows to their DISTINCT
    value domain with multiplicities, THEN pair distinct values inside
    the blocking key (the name's noun token) and weight each pair by
    cnt_a*cnt_b (plus C(cnt,2) self-pairs for exact duplicates). Row
    pairs are never materialized — the pairwise cost depends on the
    number of distinct strings per block (vocabulary-bounded: it does
    NOT grow with the fact table), which is what separates a usable
    similarity join from the O(rows² / blocks) version that melts at
    scale. Per-block pair census by exact distance; Levenshtein is the
    classic DP distance in both engines, so the weighted counts match
    exactly.

    Scale: one distinct-fold exchange (map-side combined) + one
    equi-join on the block key over the distinct relation. For domains
    where distinct values DO grow with data (open text), compose with
    the LLM pack's blocking (length buckets, prefixes, df-caps) to
    re-bound the block.
    """
    p = load_table(spark, sf_dir, "part")
    names = (p.groupBy(
        "p_name", F.split(F.col("p_name"), " ").getItem(1).alias("noun"))
        .agg(F.count(F.lit(1)).alias("cnt")))
    a, b = names.alias("a"), names.alias("b")
    d = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    cross = (a.join(b, (F.col("a.noun") == F.col("b.noun"))
                    & (F.col("a.p_name") < F.col("b.p_name")))
             .select(F.col("a.noun").alias("noun"), d.alias("d"),
                     (F.col("a.cnt") * F.col("b.cnt")).alias("w"))
             .filter(F.col("d") <= 2))
    selfp = (names.filter(F.col("cnt") > 1)
             .select("noun", F.lit(0).alias("d"),
                     (F.col("cnt") * (F.col("cnt") - 1) / 2)
                     .cast("long").alias("w")))
    pairs = cross.unionAll(selfp)
    return (pairs.groupBy("noun")
            .agg(F.sum(F.when(F.col("d") == 0, F.col("w")).otherwise(0))
                 .alias("n_exact"),
                 F.sum(F.when(F.col("d") == 1, F.col("w")).otherwise(0))
                 .alias("n_dist1"),
                 F.sum(F.when(F.col("d") == 2, F.col("w")).otherwise(0))
                 .alias("n_dist2")))
