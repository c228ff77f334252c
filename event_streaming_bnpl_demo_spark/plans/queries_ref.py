"""Reference-semantics queries — the BNPL pipeline's operators (SURVEY.md
§2.1 R5-R15) re-expressed as declarative batch plans over the analytics
``events`` table (deterministic ids so every query is oracle-checkable;
the real streaming wiring, whose archive id is ``sha2(event_data)``,
lives in :mod:`..streaming.pipeline` and is covered by pytest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources import load_table
from .catalog import register
from .sqlcompat import dsum_sql


@register(
    "ref_filter_project",
    oracle="""
    SELECT event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str, value
    FROM events
    WHERE user_id = 7 AND event_type <> 'error'
    """,
    tags=("ref", "filter"),
)
def ref_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12/R13 analog: per-user filter + column projection (the
    reference's entire query surface, main.go:214/:241). Predicate and
    projection both reach the parquet scan (PushedFilters/ReadSchema)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter((F.col("user_id") == 7) & (F.col("event_type") != "error"))
        .select(
            "event_id", "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
            "value",
        )
    )


@register(
    "ref_type_router",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_events, {dsum_sql('value')} AS sum_value,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM events
    GROUP BY event_type
    """,
    tags=("ref", "router"),
)
def ref_type_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 analog: the consumer's switch-on-event_type fanout
    (consumer/consumer.go:122-181) as a single hash aggregate — N typed
    branches become N groups, one pass, no per-row dispatch."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(dsum_sql("value")).alias("sum_value"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


@register(
    "ref_purchase_to_promise",
    oracle="""
    SELECT md5(CONCAT('promise-', CAST(event_id AS VARCHAR))) AS promise_id,
           CONCAT('order-', CAST(user_id AS VARCHAR)) AS order_id,
           CAST(user_id AS VARCHAR) AS user_id,
           CAST(ROUND(value) AS BIGINT) AS amount,
           strftime(CAST(ts AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
           '月まとめ払い' AS payment_mode
    FROM events
    WHERE event_type = 'purchase'
    """,
    tags=("ref", "derive"),
)
def ref_purchase_to_promise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7: the purchase→promise derived-event transform
    (consumer/consumer.go:123-144) as a pure stateless select —
    due_date = event date + 30 d, constant payment_mode (UTF-8 enum,
    producer/events/events.go:18). Fixes the reference's data-loss bug
    (amount hard-coded to 3500, consumer/consumer.go:195-198) by
    carrying the purchase amount through. Deterministic md5 id replaces
    uuid() so the oracle can check it."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return ev.select(
        F.md5(F.concat(F.lit("promise-"), F.col("event_id").cast("string")))
         .alias("promise_id"),
        F.concat(F.lit("order-"), F.col("user_id").cast("string")).alias("order_id"),
        F.col("user_id").cast("string").alias("user_id"),
        F.round(F.col("value")).cast("bigint").alias("amount"),
        F.date_format(F.date_add(F.col("ts").cast("date"), 30), "yyyy-MM-dd")
         .alias("due_date"),
        F.lit("月まとめ払い").alias("payment_mode"),
    )


@register(
    "ref_lastwin_state",
    oracle="""
    SELECT user_id, event_type AS last_event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           value AS last_value
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) t WHERE rn = 1
    """,
    tags=("ref", "state"),
)
def ref_lastwin_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10: keyed last-event-wins state (the member_bills UPDATE,
    consumer/consumer.go:214-220) as an idempotent recompute — latest
    event per key via ranking window. Replayable, duplicate-tolerant:
    the event-sourcing fix for the reference's non-idempotent writes.

    Scale: one shuffle on the state key; at 100 TB this is the
    compaction pattern (incrementally, the pipeline's fold commits
    ``combine(stored ∪ rows(batch))`` keyed on the state key — see
    streaming.pipeline)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("last_event_type"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
    )


@register(
    "ref_event_log",
    oracle="""
    SELECT md5(CONCAT('evt-', CAST(event_id AS VARCHAR))) AS id,
           event_type,
           CONCAT('{"event_id":', CAST(event_id AS VARCHAR),
                  ',"event_type":"', event_type,
                  '","user_id":', CAST(user_id AS VARCHAR), '}') AS event_data,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS created_at
    FROM events
    WHERE event_type = 'signup'
    """,
    tags=("ref", "sink"),
)
def ref_event_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5: the append-only event-log archive row shape
    (consumer/consumer.go:185-191, readme:65-70) — id + type + JSON
    document + created_at. Deterministic id/serialization here for the
    oracle; the streaming sink's id is ``sha2(event_data)`` and its
    created_at the event's ingest_ts.

    Scale: the real sink is an append to an unpartitioned LakeTable
    (one manifest commit per micro-batch) — see streaming.pipeline."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    return ev.select(
        F.md5(F.concat(F.lit("evt-"), F.col("event_id").cast("string"))).alias("id"),
        "event_type",
        F.concat(
            F.lit('{"event_id":'), F.col("event_id").cast("string"),
            F.lit(',"event_type":"'), F.col("event_type"),
            F.lit('","user_id":'), F.col("user_id").cast("string"), F.lit("}"),
        ).alias("event_data"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("created_at"),
    )
