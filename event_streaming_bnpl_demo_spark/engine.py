"""User-facing engine facade — the reference's command/query HTTP API
as a Python API, so a reference user can run every flow they run today:

=====================================  ==================================
reference endpoint                     engine call
=====================================  ==================================
``POST /purchase`` (main.go:80-103)    :meth:`BnplEngine.purchase`
``POST /create-bill/immediate``        :meth:`BnplEngine.create_bill`
(main.go:106-129)
``POST /webhook/payment-completed``    :meth:`BnplEngine.payment_completed`
(main.go:132-158)
``GET /user/:id/status``               :meth:`BnplEngine.user_status`
(main.go:161-183)
=====================================  ==================================

Commands append JSON events to the pipeline's input directory (the
durability point, like the reference's Kinesis PutRecord at
producer/producer.go:16-25 — an HTTP 200 there meant "event persisted",
not "state updated"); ``process()`` advances the streaming pipeline one
availableNow pass (the consumer's poll loop); queries read the
projections. CQRS eventual consistency is preserved: a command is not
visible until the next ``process()``.

Differences from the reference, each an intentional fix:
- ``purchase`` derives the promise in the SAME pass (cascade
  flattening) and carries the real amount, not the hard-coded 3500
  (consumer/consumer.go:195-198).
- ``order_id = 'order-' + user_id`` (main.go:90) is reproduced, and
  ``product_id``/``product_name`` are accepted-and-dropped exactly as
  the reference drops them (main.go:88-93).
- Restart-safe: checkpointed source; replays are idempotent.
"""

from __future__ import annotations

import json
import os
import uuid
from datetime import date, datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from .streaming import transforms
from .streaming.pipeline import BnplPipeline


class BnplEngine:
    """Command/query facade over :class:`BnplPipeline`."""

    def __init__(self, spark: SparkSession, data_dir: str):
        self.spark = spark
        self.in_dir = os.path.join(data_dir, "in")
        os.makedirs(self.in_dir, exist_ok=True)
        self.pipeline = BnplPipeline(
            spark, self.in_dir, os.path.join(data_dir, "out"))

    # -- command side -----------------------------------------------------
    def _emit(self, event: dict) -> None:
        """Append one event (durability point; producer/producer.go:16-25
        analog). The file is the atomic unit of publication; batching is
        the source's concern, and the next ``process()`` folds every file
        emitted since the last one as a single micro-batch.

        Published atomically: the line is written under a dot-prefixed
        name, which Spark's file listing skips, then renamed into place.
        A write that fails part-way leaves no visible file, so the next
        ``process()`` never reads a torn event."""
        event.setdefault(
            "ingest_ts",
            datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3]
            + "Z")
        name = f"evt-{uuid.uuid4().hex}.jsonl"
        tmp = os.path.join(self.in_dir, f".{name}.tmp")
        try:
            with open(tmp, "w", encoding="utf-8") as f:
                f.write(json.dumps(event, ensure_ascii=False) + "\n")
            os.replace(tmp, os.path.join(self.in_dir, name))
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise

    def purchase(self, user_id: str, amount: int,
                 product_id: str | None = None,
                 product_name: str | None = None) -> str:
        """POST /purchase: emit PurchaseCompletedEvent; returns order id
        (``'order-' + user_id``, main.go:90). product fields accepted and
        dropped for API parity (main.go:88-93 drops them too)."""
        del product_id, product_name
        order_id = f"order-{user_id}"
        self._emit({"event_type": "PurchaseCompletedEvent",
                    "order_id": order_id, "user_id": user_id,
                    "amount": int(amount)})
        return order_id

    def create_bill(self, promise_id: str, user_id: str, amount: int) -> str:
        """POST /create-bill/immediate: emit MemberBillCreatedEvent with
        a server-side bill id and today's issue date (main.go:113-120)."""
        bill_id = str(uuid.uuid4())
        self._emit({"event_type": "MemberBillCreatedEvent",
                    "bill_id": bill_id, "promise_id": promise_id,
                    "user_id": user_id, "amount": int(amount),
                    "issued_date": date.today().isoformat()})
        return bill_id

    def payment_completed(self, bill_id: str, user_id: str,
                          amount: int) -> None:
        """POST /webhook/payment-completed: emit PaymentCompletedEvent
        with today's paid date (main.go:141-149)."""
        self._emit({"event_type": "PaymentCompletedEvent",
                    "bill_id": bill_id, "user_id": user_id,
                    "amount": int(amount),
                    "paid_date": date.today().isoformat()})

    # -- processing -------------------------------------------------------
    def process(self) -> StreamingQuery:
        """Advance the pipeline over everything emitted so far (the
        consumer poll loop, consumer/consumer.go:75-96, as one
        checkpointed availableNow pass, folded as one micro-batch) and
        return the finished query, whose ``recentProgress`` records what
        the pass did."""
        return self.pipeline.run_stream(available_now=True)

    # -- query side -------------------------------------------------------
    def user_status(self, user_id: str) -> tuple[DataFrame, DataFrame]:
        """GET /user/:id/status: (promises, bills) filter-projects with
        yyyy-MM-dd formatting and NULL-safe paid_date (main.go:213-270)."""
        return transforms.user_status(
            self.pipeline.promises(), self.pipeline.bills(), user_id)
