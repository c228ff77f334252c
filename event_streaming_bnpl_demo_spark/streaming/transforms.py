"""Pure BNPL transforms, shared by batch replay and Structured
Streaming (one StructType registry, one transform library — SURVEY.md
§7 design stance). Each function is a DataFrame -> DataFrame map with
no side effects, so the identical code runs under ``spark.read`` and
``spark.readStream``.

Reference parity map:

- :func:`derive_promises`   = R7 (consumer/consumer.go:123-144), with the
  amount-loss bug FIXED: the promise carries the purchase amount instead
  of the reference's hard-coded 3500 (consumer/consumer.go:195-198).
  ``fidelity_3500=True`` reproduces the reference behavior for
  comparison tests only.
- :func:`project_promises`  = R8 (consumer/consumer.go:193-202)
- :func:`project_bills`     = R9+R10 (consumer/consumer.go:205-220) as a
  last-event-wins recompute — idempotent under duplicate delivery,
  convergent under reordering (the reference is neither).
- :func:`archive_rows`      = R5 (consumer/consumer.go:185-191)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def archive_rows(events: DataFrame) -> DataFrame:
    """Event-log archive rows (events table, readme:65-70): stable id =
    sha of the payload (idempotent under redelivery — the reference's
    fresh-UUID-per-insert made duplicates undetectable)."""
    return events.select(
        F.sha2(F.col("event_data"), 256).alias("id"),
        "event_type",
        "event_data",
        F.coalesce("ingest_ts", F.current_timestamp()).alias("created_at"),
    )


def derive_promises(events: DataFrame, fidelity_3500: bool = False) -> DataFrame:
    """PurchaseCompletedEvent -> PaymentPromiseCreatedEvent (R7),
    flattened into the same micro-batch (no second stream hop — beats
    the reference's 2-poll-cycle cascade latency, BASELINE.md).

    due_date = event date + 30 days, payment_mode = '月まとめ払い'
    (consumer/consumer.go:137-138). promise_id is derived
    deterministically from the order so replays are idempotent.
    """
    purchases = events.filter(F.col("event_type") == "PurchaseCompletedEvent")
    amount = (F.lit(3500) if fidelity_3500 else F.col("amount")).cast("long")
    return purchases.select(
        F.lit("PaymentPromiseCreatedEvent").alias("event_type"),
        F.col("order_id"),
        F.col("user_id"),
        amount.alias("amount"),
        F.md5(F.concat(F.lit("promise:"), F.col("order_id"))).alias("promise_id"),
        F.lit(None).cast("string").alias("bill_id"),
        F.date_format(
            F.date_add(F.coalesce(F.col("ingest_ts").cast("date"),
                                  F.current_date()), 30),
            "yyyy-MM-dd").alias("due_date"),
        F.lit("月まとめ払い").alias("payment_mode"),
        F.lit(None).cast("string").alias("issued_date"),
        F.lit(None).cast("string").alias("paid_date"),
        F.col("ingest_ts"),
    )


def _first_seen_promise(rows: DataFrame) -> DataFrame:
    """Keep one projected promise row per ``id``: the earliest
    ``created_at``, ties broken by the remaining columns in order. Rows
    stamped in one batch share a ``created_at``, so without the tie
    break the winner would depend on how events fell into batches."""
    order = ["created_at"] + [c for c in rows.columns
                              if c not in ("id", "created_at")]
    w = Window.partitionBy("id").orderBy(*order)
    return (rows.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn"))


def project_promises(events: DataFrame) -> DataFrame:
    """payment_promises projection (readme:73-81): one row per promise
    event; first-seen wins on redelivery (dedup on natural key)."""
    promises = events.filter(F.col("event_type") == "PaymentPromiseCreatedEvent")
    return _first_seen_promise(promises.select(
        F.col("promise_id").alias("id"),
        "order_id",
        "user_id",
        F.col("amount").cast("long").alias("amount"),
        F.to_date("due_date").alias("due_date"),
        "payment_mode",
        F.col("ingest_ts").alias("created_at"),
    ))


#: bills partial-aggregate columns and their merge combiners. Every
#: combiner is associative, commutative, AND idempotent (max/min), so
#: partial states fold in any grouping/order and re-folding a replayed
#: batch is a no-op — this is what makes the pipeline's per-batch fold
#: equal to project_bills over the whole log (tests/test_bnpl_pipeline).
_BILLS_COMBINE = {
    "promise_id": F.max, "user_id": F.max, "create_amount": F.max,
    "any_amount": F.max, "issued_date": F.max, "paid_date": F.max,
    "created_at": F.min,
}


def bills_state(events: DataFrame) -> DataFrame:
    """Partial-aggregate state per bill_id over any slice of the event
    stream (a micro-batch or the whole log)."""
    bills = events.filter(
        F.col("event_type").isin("MemberBillCreatedEvent", "PaymentCompletedEvent"))
    return bills.groupBy("bill_id").agg(
        F.max(F.when(F.col("event_type") == "MemberBillCreatedEvent",
                     F.col("promise_id"))).alias("promise_id"),
        F.max("user_id").alias("user_id"),
        F.max(F.when(F.col("event_type") == "MemberBillCreatedEvent",
                     F.col("amount"))).alias("create_amount"),
        F.max("amount").alias("any_amount"),
        F.max(F.when(F.col("event_type") == "MemberBillCreatedEvent",
                     F.col("issued_date"))).alias("issued_date"),
        F.max(F.when(F.col("event_type") == "PaymentCompletedEvent",
                     F.col("paid_date"))).alias("paid_date"),
        F.min("ingest_ts").alias("created_at"),
    )


def merge_bills_state(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a new partial state into the accumulated one — the plain-
    parquet analog of a keyed MERGE (at scale the same shape becomes a
    Delta/Iceberg MERGE INTO; the combiners are unchanged)."""
    return existing.unionByName(delta).groupBy("bill_id").agg(*[
        fn(c).alias(c) for c, fn in _BILLS_COMBINE.items()])


def bills_from_state(agg: DataFrame) -> DataFrame:
    """Finalize the member_bills projection from the partial state."""
    return agg.select(
        F.col("bill_id").alias("id"),
        "promise_id",
        "user_id",
        F.coalesce("create_amount", "any_amount").cast("long").alias("amount"),
        F.when(F.col("paid_date").isNotNull(), "paid").otherwise("unpaid")
         .alias("status"),
        F.to_date("issued_date").alias("issued_date"),
        F.to_date("paid_date").alias("paid_date"),
        "created_at",
    )


def project_bills(events: DataFrame) -> DataFrame:
    """member_bills projection (readme:84-93): insert on
    MemberBillCreatedEvent (status 'unpaid'), flip to 'paid' (+
    paid_date) on PaymentCompletedEvent — computed as a last-event-wins
    recompute per bill_id, which converges under duplicate delivery AND
    payment-before-bill reordering (FIXTURES.md A3 v1/v2)."""
    return bills_from_state(bills_state(events))


def merge_promises(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold new first-seen promise rows into the accumulated projection:
    argmin over a total order is associative, so re-picking the first
    row per id over (existing ∪ delta) equals the full recompute."""
    return _first_seen_promise(existing.unionByName(delta))


def user_status(promises: DataFrame, bills: DataFrame, user_id: str
                ) -> tuple[DataFrame, DataFrame]:
    """R12+R13: the /user/:id/status query pair (main.go:213-270) —
    filter + project on both projections, NULL-safe paid_date."""
    p = (promises.filter(F.col("user_id") == user_id)
         .select("order_id", "amount",
                 F.date_format("due_date", "yyyy-MM-dd").alias("due_date"),
                 "payment_mode", "created_at"))
    b = (bills.filter(F.col("user_id") == user_id)
         .select("id", "amount", "status",
                 F.date_format("issued_date", "yyyy-MM-dd").alias("issued_date"),
                 F.when(F.col("paid_date").isNotNull(),
                        F.date_format("paid_date", "yyyy-MM-dd"))
                  .alias("paid_date")))
    return p, b


def observe_quality(events: DataFrame, name: str = "bnpl_quality"):
    """Attach zero-extra-pass data-quality metrics via ``df.observe``:
    row count, malformed rows (no event_type), negative amounts, and
    null ingest timestamps, all accumulated DURING whatever action the
    caller runs next — no second scan, no collect. Returns
    ``(df, observation)``; read ``observation.get`` after an action
    (batch), or find the metrics under ``observedMetrics[name]`` in
    each streaming progress event.

    This is the engine's answer to "validate 100 TB without paying for
    a validation pass": the metrics piggyback on the pipeline's own
    scan inside the same whole-stage-codegen task.
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    out = events.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("event_type").isNull(), 1).otherwise(0))
         .alias("n_missing_type"),
        F.sum(F.when(F.col("amount") < 0, 1).otherwise(0))
         .alias("n_negative_amount"),
        F.sum(F.when(F.col("ingest_ts").isNull(), 1).otherwise(0))
         .alias("n_null_ingest_ts"),
    )
    return out, obs
