"""Pure BNPL transforms, shared by batch replay and Structured
Streaming (one StructType registry, one transform library — SURVEY.md
§7 design stance). Each function is a DataFrame -> DataFrame map with
no side effects, so the identical code runs under ``spark.read`` and
``spark.readStream``.

Each projection is a pair: ``*_rows(events)``, a per-event ``select``
into the stored state's schema, and ``combine_*(rows)``, one keyed
``groupBy(key).agg``. Every combiner is associative, commutative and
idempotent, so the combine accepts raw rows and already-combined state
alike: the batch oracle is ``combine(rows(log))`` and the pipeline's
per-batch fold is ``combine(stored ∪ rows(batch))`` — the same function,
so the two cannot disagree.

Reference parity map:

- :func:`derive_promises`   = R7 (consumer/consumer.go:123-144), with the
  amount-loss bug FIXED: the promise carries the purchase amount instead
  of the reference's hard-coded 3500 (consumer/consumer.go:195-198).
- :func:`project_promises`  = R8 (consumer/consumer.go:193-202)
- :func:`project_bills`     = R9+R10 (consumer/consumer.go:205-220) as a
  last-event-wins recompute — idempotent under duplicate delivery,
  convergent under reordering (the reference is neither).
- :func:`archive_rows`      = R5 (consumer/consumer.go:185-191)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def archive_rows(events: DataFrame) -> DataFrame:
    """Event-log archive rows (events table, readme:65-70): stable id =
    sha of the payload (idempotent under redelivery — the reference's
    fresh-UUID-per-insert made duplicates undetectable)."""
    return events.select(
        F.sha2(F.col("event_data"), 256).alias("id"),
        "event_type",
        "event_data",
        F.col("ingest_ts").alias("created_at"),
    )


def derive_promises(events: DataFrame) -> DataFrame:
    """PurchaseCompletedEvent -> PaymentPromiseCreatedEvent (R7),
    flattened into the same micro-batch (no second stream hop — beats
    the reference's 2-poll-cycle cascade latency, BASELINE.md).

    due_date = event date + 30 days, payment_mode = '月まとめ払い'
    (consumer/consumer.go:137-138). promise_id is derived
    deterministically from the order so replays are idempotent.
    """
    purchases = events.filter(F.col("event_type") == "PurchaseCompletedEvent")
    return purchases.select(
        F.lit("PaymentPromiseCreatedEvent").alias("event_type"),
        F.col("order_id"),
        F.col("user_id"),
        F.col("amount").cast("long").alias("amount"),
        F.md5(F.concat(F.lit("promise:"), F.col("order_id"))).alias("promise_id"),
        F.lit(None).cast("string").alias("bill_id"),
        F.date_format(
            F.date_add(F.col("ingest_ts").cast("date"), 30),
            "yyyy-MM-dd").alias("due_date"),
        F.lit("月まとめ払い").alias("payment_mode"),
        F.lit(None).cast("string").alias("issued_date"),
        F.lit(None).cast("string").alias("paid_date"),
        F.col("ingest_ts"),
    )


def promise_rows(events: DataFrame) -> DataFrame:
    """One payment_promises row per PaymentPromiseCreatedEvent, in the
    stored state's schema."""
    promises = events.filter(F.col("event_type") == "PaymentPromiseCreatedEvent")
    return promises.select(
        F.col("promise_id").alias("id"),
        "order_id",
        "user_id",
        F.col("amount").cast("long").alias("amount"),
        F.to_date("due_date").alias("due_date"),
        "payment_mode",
        F.col("ingest_ts").alias("created_at"),
    )


def combine_promises(rows: DataFrame) -> DataFrame:
    """Keep one row per ``id``, first seen wins: the least ``created_at``,
    ties broken by the remaining columns in order, NULLs first. Rows
    stamped in one batch share a ``created_at``, so without the tie
    break the winner would depend on how events fell into batches."""
    order = ["created_at"] + [c for c in rows.columns
                              if c not in ("id", "created_at")]
    return (rows.groupBy("id").agg(F.min(F.struct(*order)).alias("_first"))
            .select("id", "_first.*").select(rows.columns))


def project_promises(events: DataFrame) -> DataFrame:
    """payment_promises projection (readme:73-81): one row per promise
    event; first-seen wins on redelivery (dedup on natural key)."""
    return combine_promises(promise_rows(events))


#: the bill state's columns and their combiners — the only place a bill
#: combiner is named. Every combiner is associative, commutative AND
#: idempotent (max/min), so one groupBy folds raw rows and stored state
#: alike, in any grouping and order, and re-folding a replayed batch or
#: a duplicate event is a no-op.
_BILLS_COMBINE = {
    "promise_id": F.max, "user_id": F.max, "create_amount": F.max,
    "any_amount": F.max, "issued_date": F.max, "paid_date": F.max,
    "created_at": F.min,
}


def bill_rows(events: DataFrame) -> DataFrame:
    """One bill-state row per bill event: each column carries the event's
    value where its type sets that column, else NULL, which max/min
    ignore."""
    created = F.col("event_type") == "MemberBillCreatedEvent"
    paid = F.col("event_type") == "PaymentCompletedEvent"
    return events.filter(created | paid).select(
        "bill_id",
        F.when(created, F.col("promise_id")).alias("promise_id"),
        "user_id",
        F.when(created, F.col("amount")).alias("create_amount"),
        F.col("amount").alias("any_amount"),
        F.when(created, F.col("issued_date")).alias("issued_date"),
        F.when(paid, F.col("paid_date")).alias("paid_date"),
        F.col("ingest_ts").alias("created_at"),
    )


def combine_bills(rows: DataFrame) -> DataFrame:
    """Fold bill rows — raw or already combined — to one per bill_id."""
    return rows.groupBy("bill_id").agg(*[
        fn(c).alias(c) for c, fn in _BILLS_COMBINE.items()])


def bills_from_state(agg: DataFrame) -> DataFrame:
    """Finalize the member_bills projection from the bill state."""
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
    return bills_from_state(combine_bills(bill_rows(events)))


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
