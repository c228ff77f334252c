"""Golden replay tests for the BNPL pipeline (FIXTURES.md A3): readme
steps A/B/C as a deterministic event sequence, plus the failure modes
the reference gets wrong — duplicate delivery (v1), payment-before-bill
reordering (v2), unpaid second user (v3) — and streaming parity with
restart recovery (the consumer/consumer.go:64 fix), and a crash at
every filesystem step of the sinks' manifest commits."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from event_streaming_bnpl_demo_spark.streaming import transforms
from event_streaming_bnpl_demo_spark.streaming.pipeline import BnplPipeline

from .conftest import jobs_run_by

T0 = "2026-01-01T00:00:00.000Z"

GOLDEN = [
    {"event_type": "PurchaseCompletedEvent", "order_id": "order-u01",
     "user_id": "u01", "amount": 5000, "ingest_ts": T0},
    {"event_type": "PaymentPromiseCreatedEvent", "promise_id": "pr-001",
     "order_id": "order-u01", "user_id": "u01", "due_date": "2026-01-31",
     "payment_mode": "月まとめ払い", "ingest_ts": T0},
    {"event_type": "MemberBillCreatedEvent", "bill_id": "b-001",
     "promise_id": "pr-001", "user_id": "u01", "amount": 5000,
     "issued_date": "2026-01-01", "ingest_ts": T0},
    {"event_type": "PaymentCompletedEvent", "bill_id": "b-001",
     "user_id": "u01", "amount": 5000, "paid_date": "2026-01-02",
     "ingest_ts": "2026-01-02T00:00:00.000Z"},
]

EXTRA_USER = [
    {"event_type": "MemberBillCreatedEvent", "bill_id": "b-002",
     "promise_id": "pr-002", "user_id": "u02", "amount": 700,
     "issued_date": "2026-01-03", "ingest_ts": "2026-01-03T00:00:00.000Z"},
]


def write_events(path: str, events: list[dict], name: str = "part-0.jsonl"):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w", encoding="utf-8") as f:
        for e in events:
            f.write(json.dumps(e, ensure_ascii=False) + "\n")


def assert_golden_state(pipe: BnplPipeline):
    promises = {r["id"]: r.asDict() for r in pipe.promises().collect()}
    bills = {r["id"]: r.asDict() for r in pipe.bills().collect()}
    # explicit promise event + the flattened purchase-derived promise
    assert "pr-001" in promises
    p = promises["pr-001"]
    assert p["user_id"] == "u01"
    assert str(p["due_date"]) == "2026-01-31"
    assert p["payment_mode"] == "月まとめ払い"  # UTF-8 enum survives round-trip
    derived = [v for v in promises.values() if v["order_id"] == "order-u01"
               and v["id"] != "pr-001"]
    assert len(derived) == 1
    assert derived[0]["amount"] == 5000  # amount carried, not 3500
    b = bills["b-001"]
    assert b["status"] == "paid"
    assert str(b["paid_date"]) == "2026-01-02"
    assert b["amount"] == 5000
    assert b["promise_id"] == "pr-001"


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def assert_matches_log(pipe: BnplPipeline):
    """Both folded projections equal the batch oracle — transforms'
    project_promises / project_bills over the whole archived log — in
    every column."""
    log = pipe.read_log()
    for got, want in ((pipe.promises(), transforms.project_promises(log)),
                      (pipe.bills(), transforms.project_bills(log))):
        assert got.columns == want.columns
        assert _rows(got) == _rows(want)


def test_batch_replay_golden(spark, tmp_path):
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    write_events(in_dir, GOLDEN + EXTRA_USER)
    pipe = BnplPipeline(spark, in_dir, out_dir)
    pipe.run_stream(available_now=True)
    assert_golden_state(pipe)
    # v3: second user's bill stays unpaid, paid_date NULL
    b2 = [r for r in pipe.bills().collect() if r["id"] == "b-002"][0]
    assert b2["status"] == "unpaid" and b2["paid_date"] is None


def test_duplicate_delivery_idempotent(spark, tmp_path):
    """v1: every event delivered twice -> projections unchanged (the
    reference inserts duplicate rows; we dedup on content hash)."""
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    write_events(in_dir, GOLDEN + GOLDEN)
    pipe = BnplPipeline(spark, in_dir, out_dir)
    pipe.run_stream(available_now=True)
    assert_golden_state(pipe)
    assert pipe.promises().filter("id = 'pr-001'").count() == 1
    assert pipe.bills().filter("id = 'b-001'").count() == 1


def test_payment_before_bill_converges(spark, tmp_path):
    """v2: reordered delivery (payment first) still converges to
    status='paid' — the reference's UPDATE would have hit no row."""
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    write_events(in_dir, list(reversed(GOLDEN)))
    pipe = BnplPipeline(spark, in_dir, out_dir)
    pipe.run_stream(available_now=True)
    assert_golden_state(pipe)


def batch_input_rows(*queries) -> list[int]:
    """Input rows of every micro-batch the finished queries ran that
    read anything."""
    return [p.numInputRows for q in queries for p in q.recentProgress
            if p.numInputRows > 0]


def test_streaming_matches_batch(spark, tmp_path):
    """One pass per event makes one micro-batch per event: folding them
    one at a time gives the projections a batch pass over the log
    gives."""
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    pipe = BnplPipeline(spark, in_dir, out_dir)
    queries = []
    for i, e in enumerate(GOLDEN):
        write_events(in_dir, [e], f"e{i}.jsonl")
        queries.append(pipe.run_stream(available_now=True))
    assert batch_input_rows(*queries) == [1] * len(GOLDEN)
    assert_golden_state(pipe)
    assert_matches_log(pipe)


def test_pass_folds_all_files_as_one_batch(spark, tmp_path):
    """Files dropped before a pass fold as one micro-batch holding every
    line of every file, not one batch per file."""
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    for i, events in enumerate((GOLDEN[:2], GOLDEN[2:], EXTRA_USER)):
        write_events(in_dir, events, f"f{i}.jsonl")
    pipe = BnplPipeline(spark, in_dir, out_dir)
    q = pipe.run_stream(available_now=True)
    assert batch_input_rows(q) == [len(GOLDEN + EXTRA_USER)]
    assert_golden_state(pipe)
    assert_matches_log(pipe)


def test_continuous_run_returns_stoppable_query(spark, tmp_path):
    """``run_stream(available_now=False)`` hands back the running query:
    the caller can wait for a batch, read the projections, and stop it."""
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    write_events(in_dir, GOLDEN)
    pipe = BnplPipeline(spark, in_dir, out_dir)
    q = pipe.run_stream(available_now=False)
    try:
        assert q.isActive
        q.processAllAvailable()
        assert_golden_state(pipe)
    finally:
        q.stop()
    assert not q.isActive


def test_streaming_restart_no_loss(spark, tmp_path):
    """Restart recovery: stop after batch 1, add more files, resume from
    checkpoint — nothing lost, nothing double-processed (the exact
    failure of the reference's Latest iterator)."""
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    write_events(in_dir, GOLDEN[:2], "a.jsonl")
    pipe = BnplPipeline(spark, in_dir, out_dir)
    pipe.run_stream(available_now=True)
    assert pipe.bills().count() == 0
    # "restart": new pipeline object, same checkpoint; new data arrives
    write_events(in_dir, GOLDEN[2:], "b.jsonl")
    pipe2 = BnplPipeline(spark, in_dir, out_dir)
    pipe2.run_stream(available_now=True)
    assert_golden_state(pipe2)
    # log has exactly the 4 distinct events + 1 derived promise
    assert pipe2.read_log().count() == 5


def test_incremental_equals_recompute(spark, tmp_path):
    """Law: the per-batch fold equals the batch oracle (the projections
    recomputed from the whole archived log) under reordered delivery,
    duplicate delivery and a checkpointed restart — every combiner is
    associative, commutative and idempotent."""
    events = list(reversed(GOLDEN)) + EXTRA_USER + GOLDEN  # reorder + dupes
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    write_events(in_dir, events[:4], "a.jsonl")
    write_events(in_dir, events[4:], "b.jsonl")
    pipe = BnplPipeline(spark, in_dir, out_dir)
    pipe.run_stream(available_now=True)
    assert_matches_log(pipe)
    assert_golden_state(pipe)

    # restart: late third file, resume from the checkpoint
    write_events(in_dir, [{
        "event_type": "MemberBillCreatedEvent", "bill_id": "b-003",
        "promise_id": "pr-001", "user_id": "u01", "amount": 250,
        "issued_date": "2026-01-05", "ingest_ts": "2026-01-05T00:00:00.000Z",
    }], "c.jsonl")
    pipe = BnplPipeline(spark, in_dir, out_dir)
    pipe.run_stream(available_now=True)
    assert_matches_log(pipe)
    b3 = [r for r in pipe.bills().collect() if r["id"] == "b-003"][0]
    assert b3["status"] == "unpaid" and b3["amount"] == 250


#: the filesystem steps of one LakeTable commit: Spark writing the
#: table's ``_tmp-vNNNNN``, renaming the data files into ``data/``, the
#: manifest rename into ``_log/`` that commits, and the ``expire`` after
CRASH_POINTS = ("write_tmp", "after_data_rename", "at_rename", "in_expire")


def _inject_crash(monkeypatch, root: str, point: str) -> None:
    """Make the next commit to the table at ``root`` fail once at
    ``point``. A torn write leaves ``_tmp-vNNNNN`` without Spark's
    ``_SUCCESS`` marker and with truncated data files."""
    from pyspark.sql.readwriter import DataFrameWriter

    fired: list[bool] = []

    def crash(what: str):
        fired.append(True)
        raise OSError(f"injected crash {what} {root}")

    def under(path: str, sub: str) -> bool:
        return os.path.dirname(path) == os.path.join(root, sub)

    if point == "write_tmp":
        real_parquet = DataFrameWriter.parquet

        def parquet(self, path, *a, **k):
            real_parquet(self, path, *a, **k)
            if (os.path.dirname(path) == root
                    and os.path.basename(path).startswith("_tmp-v")
                    and not fired):
                os.remove(os.path.join(path, "_SUCCESS"))
                for f in os.listdir(path):
                    if f.startswith("part-"):
                        full = os.path.join(path, f)
                        os.truncate(full, os.path.getsize(full) // 2)
                crash("writing")
        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    elif point == "in_expire":
        real_remove = os.remove

        def remove(path, *a, **k):
            real_remove(path, *a, **k)
            if path.startswith(root + os.sep) and not fired:
                crash("expiring")
        monkeypatch.setattr(os, "remove", remove)
    else:
        real_rename = os.rename

        def rename(src, dst, *a, **k):
            if (point == "at_rename" and under(dst, "_log")
                    and not fired):
                crash("committing")
            real_rename(src, dst, *a, **k)
            if (point == "after_data_rename" and under(dst, "data")
                    and not fired):
                crash("after renaming into")
        monkeypatch.setattr(os, "rename", rename)


def assert_no_orphans(pipe: BnplPipeline):
    """Each table's ``data/`` holds exactly the files its retained
    manifests list, and no uncommitted ``_tmp-*`` output is left."""
    for t in (pipe.log_table, pipe.promises_table, pipe.bills_state_table):
        listed = {f["path"] for v in t.versions()
                  for f in t.manifest(v)["files"]}
        present = {f"data/{n}" for n in os.listdir(os.path.join(t.root,
                                                                "data"))}
        assert present == listed, t.root
        assert not [n for n in os.listdir(t.root) if n.startswith("_tmp-")]


@pytest.mark.parametrize("point", CRASH_POINTS)
@pytest.mark.parametrize("sink", ["promises_dir", "bills_state_dir"])
def test_fold_crash_then_restart_matches_log(spark, tmp_path, monkeypatch,
                                             sink, point):
    """Crash matrix for the folded projections: a batch that dies at any
    step of a sink's manifest commit is replayed from the checkpoint by
    a new pipeline, and the projections still equal the batch oracle.
    The replay must fold into the state from before the crash — folding
    into empty state would drop b-001's promise_id and issued_date,
    which only an earlier batch carried. Two batches precede the crash,
    so its ``expire`` has a snapshot to drop."""
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    pipe = BnplPipeline(spark, in_dir, out_dir)
    for i, events in enumerate((GOLDEN[:2], GOLDEN[2:3])):
        write_events(in_dir, events, f"a{i}.jsonl")
        pipe.run_stream(available_now=True)

    _inject_crash(monkeypatch, getattr(pipe, sink), point)
    write_events(in_dir, GOLDEN[3:] + EXTRA_USER, "b.jsonl")
    with pytest.raises(Exception, match="injected crash"):
        pipe.run_stream(available_now=True)
    monkeypatch.undo()

    pipe = BnplPipeline(spark, in_dir, out_dir)
    assert_no_orphans(pipe)
    pipe.run_stream(available_now=True)
    assert_matches_log(pipe)
    assert_golden_state(pipe)
    assert_no_orphans(pipe)


@pytest.mark.parametrize("point", CRASH_POINTS)
def test_compaction_crash_then_restart_keeps_log(spark, tmp_path,
                                                 monkeypatch, point):
    """Crash matrix for ``compact_log``: the log survives a crash at any
    step of its commit, and the pipeline resumes on it."""
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    pipe = BnplPipeline(spark, in_dir, out_dir)
    for i, events in enumerate((GOLDEN[:2], GOLDEN[2:])):
        write_events(in_dir, events, f"a{i}.jsonl")
        pipe.run_stream(available_now=True)
    before = _rows(pipe.read_log())

    _inject_crash(monkeypatch, pipe.log_dir, point)
    with pytest.raises(OSError, match="injected crash"):
        pipe.compact_log()
    monkeypatch.undo()

    pipe = BnplPipeline(spark, in_dir, out_dir)
    assert_no_orphans(pipe)
    assert _rows(pipe.read_log()) == before
    write_events(in_dir, EXTRA_USER, "c.jsonl")
    pipe.run_stream(available_now=True)
    assert pipe.read_log().count() == len(before) + 1
    assert_matches_log(pipe)
    assert_golden_state(pipe)
    assert_no_orphans(pipe)


def test_reader_keeps_its_snapshot_across_a_batch(spark, tmp_path):
    """A DataFrame resolved before a batch returns the same rows after
    that batch commits: the batch publishes a new manifest, and the
    snapshot the reader resolved keeps its files."""
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    write_events(in_dir, GOLDEN[:2], "a.jsonl")
    pipe = BnplPipeline(spark, in_dir, out_dir)
    pipe.run_stream(available_now=True)
    df = pipe.promises()
    before = _rows(df)

    write_events(in_dir, [_purchase("u2", 300, "2026-01-02T00:00:00Z")],
                 "b.jsonl")
    pipe.run_stream(available_now=True)
    assert _rows(df) == before
    assert len(_rows(pipe.promises())) == len(before) + 1


def _purchase(uid: str, amount: int | None, ts: str) -> dict:
    return {"event_type": "PurchaseCompletedEvent",
            "order_id": f"order-{uid}", "user_id": uid,
            "amount": amount, "ingest_ts": ts}


def test_compact_log_preserves_rows(spark, tmp_path):
    """compact_log rewrites the many per-micro-batch archive files into
    few, preserves the exact event multiset, and streaming appends keep
    working afterwards (the source checkpoint is untouched)."""
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    pipe = BnplPipeline(spark, in_dir, out_dir)
    queries = []
    for f in range(3):   # 3 passes -> 3 micro-batches of small writes
        write_events(in_dir, [
            _purchase(f"u{f}-{i}", 100 + i, ts=f"2026-01-01T00:0{f}:{i:02d}Z")
            for i in range(5)], name=f"f{f}.jsonl")
        queries.append(pipe.run_stream(available_now=True))
    assert batch_input_rows(*queries) == [5, 5, 5]
    before = sorted(r["event_data"]
                    for r in pipe.read_log().select("event_data").collect())

    stats = pipe.compact_log(target_rows_per_file=1_000_000)
    assert stats["files_after"] < stats["files_before"]
    after = sorted(r["event_data"]
                   for r in pipe.read_log().select("event_data").collect())
    assert after == before

    # the stream continues from its checkpoint onto the compacted log
    write_events(in_dir, [_purchase("u9", 999, ts="2026-01-01T00:09:00Z")],
                 name="f9.jsonl")
    BnplPipeline(spark, in_dir, out_dir).run_stream(available_now=True)
    final = BnplPipeline(spark, in_dir, out_dir).read_log()
    assert final.filter(F.col("user_id") == "u9").count() > 0
    # +2: the new purchase archives itself AND its flattened derived promise
    assert final.select("event_data").distinct().count() == len(before) + 2


@pytest.mark.parametrize("delivery", ["one_file", "two_passes",
                                      "two_passes_reversed"])
def test_promise_tie_on_timestamp_is_deterministic(spark, tmp_path,
                                                   delivery):
    """Two purchases of one order stamped with the same ``ingest_ts``
    derive two promises with one id and one ``created_at``. However they
    are delivered, the same row wins, and it is the one the batch oracle
    picks over the archived log. A NULL amount sorts first, so u2's
    NULL-amount purchase wins over its 200."""
    ts = "2026-01-01T00:00:00.000Z"
    first = [_purchase("u1", 100, ts), _purchase("u2", None, ts)]
    second = [_purchase("u1", 200, ts), _purchase("u2", 200, ts)]
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    pipe = BnplPipeline(spark, in_dir, out_dir)
    if delivery == "one_file":
        write_events(in_dir, first + second)
        pipe.run_stream(available_now=True)
    else:
        pair = [first, second]
        if delivery == "two_passes_reversed":
            pair.reverse()
        for i, events in enumerate(pair):
            write_events(in_dir, events, f"e{i}.jsonl")
            pipe.run_stream(available_now=True)
    got = {r["user_id"]: r["amount"] for r in pipe.promises().collect()}
    assert got == {"u1": 100, "u2": None}
    assert_matches_log(pipe)


def test_observe_quality_metrics(spark, tmp_path):
    """df.observe quality metrics accumulate during the pipeline's own
    action — no second scan: counts, malformed rows, negative amounts."""
    from event_streaming_bnpl_demo_spark.schemas import BNPL_ENVELOPE
    from event_streaming_bnpl_demo_spark.streaming.transforms import (
        observe_quality)

    in_dir = str(tmp_path / "in")
    rows = [_purchase("u1", 100, ts="2026-01-01T00:00:00Z"),
            _purchase("u2", -5, ts="2026-01-01T00:00:01Z"),
            {"order_id": "o-bad"}]  # no event_type
    write_events(in_dir, rows)
    df = spark.read.schema(BNPL_ENVELOPE).json(in_dir)
    observed, obs = observe_quality(df)
    assert observed.count() == 3     # the action the metrics ride on
    got = obs.get
    assert got["n_rows"] == 3
    assert got["n_missing_type"] == 1
    assert got["n_negative_amount"] == 1


def _struct(spec: str, not_null: tuple[str, ...] = ()) -> T.StructType:
    """``"name type, ..."`` as a StructType, every field nullable but
    those named in ``not_null``."""
    fields = []
    for item in spec.split(","):
        name, typ = item.split()
        fields.append(T.StructField(name, _TYPES[typ], name not in not_null))
    return T.StructType(fields)


_TYPES = {"string": T.StringType(), "bigint": T.LongType(),
          "date": T.DateType(), "timestamp": T.TimestampType()}


_ENVELOPE = ("event_data string, event_type string, order_id string,"
             " user_id string, amount bigint, promise_id string,"
             " bill_id string, due_date string, payment_mode string,"
             " issued_date string, paid_date string, ingest_ts timestamp")
_PROMISES = ("id string, order_id string, user_id string, amount bigint,"
             " due_date date, payment_mode string, created_at timestamp")
_BILL_STATE = ("bill_id string, promise_id string, user_id string,"
               " create_amount bigint, any_amount bigint,"
               " issued_date string, paid_date string,"
               " created_at timestamp")


def test_transform_output_schemas_pinned(spark, tmp_path):
    """Each transform's output names, types, order and nullability, as
    literals: the plans are built from expression strings, and a
    rewrite of how one is built must not change what it returns."""
    from event_streaming_bnpl_demo_spark.sources.events import (
        read_event_batch)

    write_events(str(tmp_path / "in"), GOLDEN + EXTRA_USER)
    parsed = read_event_batch(spark, str(tmp_path / "in"))
    events = BnplPipeline._flatten(parsed)
    promises = transforms.combine_promises(transforms.promise_rows(events))
    state = transforms.combine_bills(transforms.bill_rows(events))
    bills = transforms.bills_from_state(state)
    p, b = transforms.user_status(promises, bills, "u01")
    want = {
        "parsed": (parsed, _struct(_ENVELOPE, ("ingest_ts",))),
        "_flatten": (events, _struct(_ENVELOPE, ("ingest_ts",))),
        "archive_rows": (transforms.archive_rows(events), _struct(
            "id string, event_type string, event_data string,"
            " created_at timestamp", ("created_at",))),
        "promise_rows": (transforms.promise_rows(events),
                         _struct(_PROMISES, ("created_at",))),
        "combine_promises": (promises, _struct(_PROMISES)),
        "bill_rows": (transforms.bill_rows(events),
                      _struct(_BILL_STATE, ("created_at",))),
        "combine_bills": (state, _struct(_BILL_STATE)),
        "bills_from_state": (bills, _struct(
            "id string, promise_id string, user_id string, amount bigint,"
            " status string, issued_date date, paid_date date,"
            " created_at timestamp", ("status",))),
        "user_status.promises": (p, _struct(
            "order_id string, amount bigint, due_date string,"
            " payment_mode string, created_at timestamp")),
        "user_status.bills": (b, _struct(
            "id string, amount bigint, status string, issued_date string,"
            " paid_date string", ("status",))),
    }
    got = {k: df.schema for k, (df, _) in want.items()}
    assert got == {k: schema for k, (_, schema) in want.items()}
    # the derived promise's document lists its set fields in envelope order
    doc = json.loads(events.where("event_type = 'PaymentPromiseCreatedEvent'"
                                  " AND order_id = 'order-u01'"
                                  " AND promise_id <> 'pr-001'")
                     .first()["event_data"])
    assert list(doc) == ["event_type", "order_id", "user_id", "amount",
                         "promise_id", "due_date", "payment_mode",
                         "ingest_ts"]


def test_projection_reads_submit_no_job(spark, tmp_path):
    """``promises()`` and ``bills()`` take the schema from the table
    manifests: resolving them runs no schema-inference job."""
    write_events(str(tmp_path / "in"), GOLDEN)
    pipe = BnplPipeline(spark, str(tmp_path / "in"), str(tmp_path / "out"))
    pipe.run_stream()
    assert jobs_run_by(spark, lambda: (pipe.promises(), pipe.bills())) == []
    assert_golden_state(pipe)
