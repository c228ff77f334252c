"""Pure BNPL transforms, shared by batch replay and Structured
Streaming (one StructType registry, one transform library — SURVEY.md
§7 design stance). Each function is a DataFrame -> DataFrame map with
no side effects, so the identical code runs under ``spark.read`` and
``spark.readStream``.

Each operator is built with one call from SQL expression strings
(``selectExpr``, ``where``, ``F.expr``): one py4j round trip per
operator instead of one per column function, which is what a
micro-batch's plan costs the driver. Values from callers (the user id
of :func:`user_status`) enter as ``F.lit`` columns, never as SQL text.

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
    return events.selectExpr("sha2(event_data, 256) AS id", "event_type",
                             "event_data", "ingest_ts AS created_at")


def derive_promises(events: DataFrame) -> DataFrame:
    """PurchaseCompletedEvent -> PaymentPromiseCreatedEvent (R7),
    flattened into the same micro-batch (no second stream hop — beats
    the reference's 2-poll-cycle cascade latency, BASELINE.md).

    due_date = event date + 30 days, payment_mode = '月まとめ払い'
    (consumer/consumer.go:137-138). promise_id is derived
    deterministically from the order so replays are idempotent.
    """
    return events.where("event_type = 'PurchaseCompletedEvent'").selectExpr(
        "'PaymentPromiseCreatedEvent' AS event_type",
        "order_id",
        "user_id",
        "CAST(amount AS BIGINT) AS amount",
        "md5(concat('promise:', order_id)) AS promise_id",
        "CAST(NULL AS STRING) AS bill_id",
        "date_format(date_add(CAST(ingest_ts AS DATE), 30), 'yyyy-MM-dd')"
        " AS due_date",
        "'月まとめ払い' AS payment_mode",
        "CAST(NULL AS STRING) AS issued_date",
        "CAST(NULL AS STRING) AS paid_date",
        "ingest_ts",
    )


def promise_rows(events: DataFrame) -> DataFrame:
    """One payment_promises row per PaymentPromiseCreatedEvent, in the
    stored state's schema."""
    promises = events.where("event_type = 'PaymentPromiseCreatedEvent'")
    return promises.selectExpr(
        "promise_id AS id",
        "order_id",
        "user_id",
        "CAST(amount AS BIGINT) AS amount",
        "to_date(due_date) AS due_date",
        "payment_mode",
        "ingest_ts AS created_at",
    )


def combine_promises(rows: DataFrame) -> DataFrame:
    """Keep one row per ``id``, first seen wins: the least ``created_at``,
    ties broken by the remaining columns in order, NULLs first. Rows
    stamped in one batch share a ``created_at``, so without the tie
    break the winner would depend on how events fell into batches."""
    cols = rows.columns
    order = ", ".join(["created_at"] + [c for c in cols
                                        if c not in ("id", "created_at")])
    return (rows.groupBy("id").agg(F.expr(f"min(struct({order})) AS _first"))
            .selectExpr(*(c if c == "id" else f"_first.{c} AS {c}"
                          for c in cols)))


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
    "promise_id": "max", "user_id": "max", "create_amount": "max",
    "any_amount": "max", "issued_date": "max", "paid_date": "max",
    "created_at": "min",
}

_BILL_CREATED = "event_type = 'MemberBillCreatedEvent'"
_BILL_PAID = "event_type = 'PaymentCompletedEvent'"


def bill_rows(events: DataFrame) -> DataFrame:
    """One bill-state row per bill event: each column carries the event's
    value where its type sets that column, else NULL, which max/min
    ignore."""
    return events.where(f"{_BILL_CREATED} OR {_BILL_PAID}").selectExpr(
        "bill_id",
        f"CASE WHEN {_BILL_CREATED} THEN promise_id END AS promise_id",
        "user_id",
        f"CASE WHEN {_BILL_CREATED} THEN amount END AS create_amount",
        "amount AS any_amount",
        f"CASE WHEN {_BILL_CREATED} THEN issued_date END AS issued_date",
        f"CASE WHEN {_BILL_PAID} THEN paid_date END AS paid_date",
        "ingest_ts AS created_at",
    )


def combine_bills(rows: DataFrame) -> DataFrame:
    """Fold bill rows — raw or already combined — to one per bill_id."""
    return rows.groupBy("bill_id").agg(*(
        F.expr(f"{fn}({c}) AS {c}") for c, fn in _BILLS_COMBINE.items()))


def bills_from_state(agg: DataFrame) -> DataFrame:
    """Finalize the member_bills projection from the bill state."""
    return agg.selectExpr(
        "bill_id AS id",
        "promise_id",
        "user_id",
        "CAST(coalesce(create_amount, any_amount) AS BIGINT) AS amount",
        "CASE WHEN paid_date IS NOT NULL THEN 'paid' ELSE 'unpaid' END"
        " AS status",
        "to_date(issued_date) AS issued_date",
        "to_date(paid_date) AS paid_date",
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
    filter + project on both projections, NULL-safe paid_date. The user
    id is a literal column, so no caller string becomes SQL text."""
    who = F.col("user_id") == F.lit(user_id)
    p = promises.where(who).selectExpr(
        "order_id", "amount",
        "date_format(due_date, 'yyyy-MM-dd') AS due_date",
        "payment_mode", "created_at")
    b = bills.where(who).selectExpr(
        "id", "amount", "status",
        "date_format(issued_date, 'yyyy-MM-dd') AS issued_date",
        "CASE WHEN paid_date IS NOT NULL"
        " THEN date_format(paid_date, 'yyyy-MM-dd') END AS paid_date")
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
