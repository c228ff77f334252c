"""Streaming-window semantics, batch-checkable (SURVEY.md §2.2
"streaming-only"): tumbling / sliding / session windows and stateful
dedup, expressed with the exact operators Structured Streaming uses
(``F.window``, ``F.session_window``, ``dropDuplicates``) running in
batch mode — the same code path Spark shares between batch and stream —
so each gets a DuckDB oracle. The live streaming wiring (watermarks,
triggers, state store) is in :mod:`..streaming` and covered by pytest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .catalog import register
from .sqlcompat import davg_sql, dsum_sql

_TS = "%Y-%m-%d %H:%M:%S"


@register(
    "stream_tumbling_window",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '{_TS}') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("stream", "window"),
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window aggregate by event type — the canonical
    streaming "events/interval" query. Under readStream the identical
    expression runs incrementally with a watermark; in batch it is one
    hash aggregate (window assignment is a scalar projection, so
    map-side partial agg still applies at 100 TB)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.expr(dsum_sql("value")).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n_events", "sum_value",
        )
    )


@register(
    "stream_sliding_window",
    oracle=f"""
    SELECT strftime(make_timestamp(
             (CAST(FLOOR(epoch(ts) / 1800) AS BIGINT) - k.k) * 1800 * 1000000),
             '{_TS}') AS window_start,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    CROSS JOIN (SELECT UNNEST([0, 1]) AS k) AS k
    GROUP BY 1
    """,
    tags=("stream", "window"),
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 30 min: each event lands in 2
    windows (Spark enumerates them; the oracle reproduces the
    enumeration arithmetic explicitly)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.countDistinct("user_id").alias("n_users"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events", "n_users",
        )
    )


@register(
    "stream_session_window",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts >= COALESCE(lag(ts) OVER w, ts) + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessioned AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '{_TS}') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '{_TS}') AS session_end,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS sum_value
    FROM sessioned
    GROUP BY user_id, session_id
    """,
    tags=("stream", "window", "session"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap per user —
    ``F.session_window`` (the same operator Structured Streaming runs
    stateful); oracle is the classic gap-and-islands SQL. A new session
    starts when the gap since the previous event is >= the timeout;
    session end = last event + gap (Spark's definition)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.expr(dsum_sql("value")).alias("sum_value"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events", "sum_value",
        )
    )


@register(
    "stream_dedup_keys",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
    tags=("stream", "dedup"),
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful key dedup (batch shape of
    ``dropDuplicatesWithinWatermark``): first occurrence per
    (user_id, event_type). Projected to the key columns so the result
    is deterministic under any arrival order — exactly the guarantee
    the streaming version provides within the watermark."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("user_id", "event_type").dropDuplicates()


@register(
    "agg_approx_distinct",
    oracle=None,  # HLL sketches differ across engines by design -> rows-only
    tags=("agg", "approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per event type — the 100 TB
    posture for distinct counts (constant memory vs exact's shuffle of
    every key). Sketches are engine-specific, so this is a rows-only
    check; the exact twin `agg_distinct` is hash-verified."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "stream_static_join",
    oracle=f"""
    WITH profile AS (
      SELECT user_id,
             COUNT(*) AS n_total,
             CASE WHEN {davg_sql('value')} >= 110.0 THEN 'high'
                  WHEN {davg_sql('value')} >= 90.0 THEN 'mid'
                  ELSE 'low' END AS tier
      FROM events GROUP BY user_id
    )
    SELECT tier,
           COUNT(*) AS n_purchases,
           {dsum_sql('value')} AS purchase_value
    FROM events p JOIN profile USING (user_id)
    WHERE p.event_type = 'purchase'
    GROUP BY tier
    """,
    tags=("stream", "join"),
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: a live purchase stream joined to
    a static per-user profile (computed batch-side from the event log),
    then aggregated per profile tier — the dimension-enrichment shape
    every streaming pipeline runs. The stream side is a genuine
    ``readStream`` drained with availableNow; the static side is a
    batch DataFrame, re-read per micro-batch by Structured Streaming's
    stream-static join (stateless — no watermark needed). Every
    reported column comes from the drained stream; the distinct-user
    sketch the stream also maintains is surfaced by the rows-only twin
    ``stream_static_join_approx`` (complete-mode streaming cannot run
    exact count_distinct, and sketches are engine-specific, so that
    column cannot hash-match a DuckDB oracle).

    Scale: the profile side is small per key and broadcasts (or is
    pre-bucketed at 100 TB); the stream side never shuffles before the
    join, so enrichment adds no state and no exchange to the hot path.
    """
    return _run_stream_static(spark, sf_dir).drop("n_users_approx")


def _run_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the stream-static enrichment join into a memory sink and
    return (tier, n_purchases, purchase_value, n_users_approx)."""
    import uuid as _uuid

    from .queries_ext import _scratch

    profile = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_total"),
             F.expr(davg_sql("value")).alias("avg_value"))
        .select(
            "user_id", "n_total",
            F.when(F.col("avg_value") >= 110.0, "high")
             .when(F.col("avg_value") >= 90.0, "mid")
             .otherwise("low").alias("tier"))
    )
    name = f"enrich_{_uuid.uuid4().hex[:8]}"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = (spark.readStream
              .schema("event_id long, ts long, user_id long, "
                      "event_type string, value double, props string")
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir)
              .filter(F.col("event_type") == "purchase"))
    enriched = (stream.join(F.broadcast(profile), "user_id")
                .groupBy("tier")
                .agg(F.count(F.lit(1)).alias("n_purchases"),
                     F.expr(dsum_sql("value")).alias("purchase_value"),
                     F.approx_count_distinct("user_id")
                      .alias("n_users_approx")))
    q = (enriched.writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .option("checkpointLocation", _scratch(f"ck_{name}"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name)


@register("stream_static_join_approx", tags=("stream", "join", "approx"))
def stream_static_join_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streamed distinct-user sketch from the stream-static
    enrichment join: approx_count_distinct (HyperLogLog++) maintained
    IN the streaming aggregation itself — complete-mode streaming
    cannot run exact count_distinct, and HLL sketches are
    engine-specific, hence rows-only. The hash-matched twin
    ``stream_static_join`` verifies the same join topology's exact
    columns."""
    return _run_stream_static(spark, sf_dir).select(
        "tier", "n_purchases", "n_users_approx")


from .queries_core import ASOF_ORACLE  # noqa: E402 - after registrations


def build_asof_stream(spark: SparkSession, in_dir: str) -> DataFrame:
    """The streaming as-of topology, unstarted: one-file-per-trigger
    parquet stream -> groupBy(user_id %% ASOF_BUCKETS) ->
    applyInPandasWithState(asof_update_bucketed) in UPDATE mode,
    rematching each bucket's users with ONE grouped merge_asof
    (streaming/asof_state.py). Factored out so tests can pin the
    state-store shape (exactly one hashpartitioning(bucket) exchange
    feeding the stateful node) and run the fold on crafted input."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..streaming.asof_state import (ASOF_BUCKETS, ASOF_OUTPUT_SCHEMA,
                                        BUCKETED_STATE_SCHEMA,
                                        asof_update_bucketed)

    return (spark.readStream
            .schema("user_id long, event_id long, event_type string, "
                    "ts_us long")
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
            .withColumn("bucket", F.pmod(F.col("user_id"),
                                         F.lit(ASOF_BUCKETS)))
            .groupBy("bucket")
            .applyInPandasWithState(
                asof_update_bucketed,
                outputStructType=ASOF_OUTPUT_SCHEMA,
                stateStructType=BUCKETED_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))


@register(
    "stream_asof_join",
    oracle=ASOF_ORACLE,
    tags=("stream", "join", "asof", "stateful"),
)
def stream_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING as-of join (custom stateful operator): purchases
    matched to their nearest prior view while events arrive as four
    unordered micro-batches — a view can land batches AFTER its
    purchase and the match is still right, because the bucketed state
    processor (streaming/asof_state.asof_update_bucketed) re-emits
    corrected matches in update mode and the reader keeps each
    purchase's highest-version row. The oracle is the BATCH as-of SQL
    (queries_core.ASOF_ORACLE): the strongest possible check that the
    streaming fixpoint equals the batch join regardless of how arrival
    order scrambled the log.

    Scale: one state-store shuffle on bucket(user_id) per micro-batch;
    at most ASOF_BUCKETS Python group-calls per batch (the r8 change —
    per-USER keys paid one Arrow/state round-trip per touched user per
    batch, ~15k at sf1, which WAS the wall clock: 22 s -> 4.2 s at
    sf1); the whole bucket rematches in one grouped merge_asof.
    Retention is unbounded (full retroactive correction needs the full
    log), so availableNow runs are exact.
    """
    import uuid as _uuid

    from .queries_ext import _scratch, staged_parquet

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase"))
    work = _scratch(f"sasof_{_uuid.uuid4().hex[:8]}")
    name = f"sasof_{_uuid.uuid4().hex[:8]}"
    # reshard to 4 parquet files == 4 micro-batches; repartition(4) on
    # no key scrambles event-time order across batches, which is the
    # point: arrival order must not matter. Content-keyed staging:
    # repeat runs (bench n=3) reuse the reshard and time only the
    # streaming query.
    in_dir = staged_parquet(
        ev.select("user_id", "event_id", "event_type",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("ts_us")),
        "sasof", sf_dir, 4)
    from ..session import scoped_conf

    # fresh-checkpoint stateful query: size the state store for the
    # keyspace, not the batch default (see session.scoped_conf).
    # Re-swept after the r8 bucketed fold (64 bucket keys): 8
    # partitions = 8 buckets each — 3.2 s @ 8 vs 3.6 s @ 16 vs 4.5 s
    # @ 32 warm at sf0.1; sf1 ties 8 vs 16 at ~4.2 s (the fold is
    # machinery-bound, not data-bound: sf1 runs 10x the rows for 1.3x
    # the wall).
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        matched = build_asof_stream(spark, in_dir)
        q = (matched.writeStream.format("memory").queryName(name)
             .outputMode("update")
             .option("checkpointLocation", f"{work}/ck")
             .trigger(availableNow=True).start())
        q.awaitTermination()
    emitted = spark.table(name)
    # fixpoint read: each purchase's HIGHEST-version emission. (purchase,
    # version) is unique — a purchase lives in exactly one bucket and a
    # bucket emits it at most once per micro-batch at that batch's
    # version — so max_by is deterministic and picks the same row the
    # old row_number()-over-(version DESC) window did. Honest plan
    # accounting (r13): max_by over a struct plans as a SortAggregate
    # pair, and the old window shape ALREADY reduced map-side via
    # WindowGroupLimit, so both shapes are local-sort + partial-reduce
    # + exchange + final; measured a wash at sf0.1 and sf1. Kept as
    # hygiene — one aggregate instead of Window+WindowGroupLimit
    # machinery (plans/r13/stream_asof_join_{before,after}.txt), with
    # the (purchase, version) uniqueness law now pinned by test —
    # NOT counted as a performance win.
    latest = (emitted.groupBy("purchase_id")
              .agg(F.max_by(F.struct("user_id", "view_id",
                                     "seconds_since_view"),
                            F.col("version")).alias("m")))
    return (latest.filter(F.col("m.view_id").isNotNull())
            .select("purchase_id", F.col("m.user_id").alias("user_id"),
                    F.col("m.view_id").alias("view_id"),
                    F.col("m.seconds_since_view")
                    .alias("seconds_since_view")))

