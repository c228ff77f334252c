"""Tests of the benchmark's own logic (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import gen  # noqa: E402
import stats  # noqa: E402
from tracing import Tracer  # noqa: E402


def _ev(kind, ts, **kw):
    return json.dumps({"event_type": kind, "ingest_ts": ts, **kw},
                      sort_keys=True)


# -- generator ------------------------------------------------------------

def test_generator_is_deterministic_per_seed():
    st = gen.StreamSettings(backlog=3000)
    assert gen.backlog_events(7, st) == gen.backlog_events(7, st)
    assert gen.backlog_events(7, st) != gen.backlog_events(8, st)
    assert gen.command_bursts(7, st, 6) == gen.command_bursts(7, st, 6)
    assert gen.command_bursts(7, st, 6) != gen.command_bursts(8, st, 6)


def test_generator_mixes_in_every_property():
    shares = gen.measured_shares(gen.backlog_events(3, gen.StreamSettings()))
    assert shares["events"] == gen.StreamSettings().backlog
    for k in ("dup_share", "reorder_share", "malformed_share"):
        assert shares[k] > 0, k
    # Zipf keys: the hottest 1% of users carry far more than 1% of events
    assert shares["top1pct_user_share"] > 0.1


def test_bursts_use_distinct_users_and_chain_in_order():
    bursts = gen.command_bursts(5, gen.StreamSettings(burst=3), 8)
    flat = [c for b in bursts for c in b]
    for b in bursts:
        assert len(b) == 3
        assert len({c.user for c in b}) == 3
    for c in flat:
        if c.kind == "create_bill":
            assert flat[c.ref].kind == "purchase"
        if c.kind == "payment_completed":
            assert flat[c.ref].kind == "create_bill"
        if c.ref is not None:
            assert flat[c.ref].user == c.user
    for b in bursts[2:]:
        assert sorted(c.kind for c in b) == [
            "create_bill", "payment_completed", "purchase"]


def test_staged_prelude_returns_what_the_calls_would():
    bursts = gen.command_bursts(5, gen.StreamSettings(burst=3), 3)
    prelude = bursts[0] + bursts[1]
    lines, results = gen.staged_commands(prelude, 100)
    evs = [json.loads(ln) for ln in lines]
    for cmd, ev, res in zip(prelude, evs, results):
        assert (ev["user_id"], ev["amount"]) == (cmd.user, cmd.amount)
        key = "order_id" if cmd.kind == "purchase" else "bill_id"
        assert ev[key] == res
    # the first measured payment settles a staged bill
    pay, = [c for c in bursts[2] if c.kind == "payment_completed"]
    assert results[pay.ref].startswith("bill-")


# -- percentile rule --------------------------------------------------------

def test_tail_needs_ten_samples_beyond():
    assert stats.tail(range(10)) is None
    pct, value, n = stats.tail(range(1, 12))
    assert (value, n) == (1, 11)
    assert pct == 9.0


def test_tail_is_the_highest_qualifying_percentile():
    pct, value, n = stats.tail(range(1, 101))
    assert (pct, value, n) == (90.0, 90, 100)
    # exactly ten samples lie above the reported value
    xs = list(range(1, 101))
    assert sum(1 for x in xs if x > value) == 10


# -- reference fold ----------------------------------------------------------

def test_fold_ignores_duplicates_and_malformed_lines():
    buy = _ev(gen.PURCHASE, "2026-01-01T00:00:00.000Z", order_id="order-u1",
              user_id="u1", amount=5000)
    once = gen.reference_fold([buy])
    assert gen.reference_fold([buy, buy, '{"event_type": "Purch']) == once
    (pid, row), = once[0].items()
    assert row == ("order-u1", "u1", 5000, "2026-01-31", gen.CASCADE_MODE,
                   "2026-01-01T00:00:00")
    assert once[1] == {}


def test_fold_first_purchase_per_order_wins():
    late = _ev(gen.PURCHASE, "2026-01-02T00:00:00.000Z", order_id="order-u1",
               user_id="u1", amount=9000)
    early = _ev(gen.PURCHASE, "2026-01-01T00:00:00.000Z",
                order_id="order-u1", user_id="u1", amount=5000)
    promises, _ = gen.reference_fold([late, early])
    assert [r[2] for r in promises.values()] == [5000]


def test_fold_payment_before_bill_converges():
    bill = _ev(gen.BILL, "2026-01-01T00:00:02.000Z", bill_id="b1",
               promise_id="p1", user_id="u1", amount=5000,
               issued_date="2026-01-01")
    pay = _ev(gen.PAYMENT, "2026-01-01T00:00:01.000Z", bill_id="b1",
              user_id="u1", amount=5000, paid_date="2026-01-04")
    in_order = gen.reference_fold([bill, pay])
    assert gen.reference_fold([pay, bill]) == in_order
    assert gen.reference_fold([pay, bill, pay, bill]) == in_order
    assert in_order[1]["b1"] == ("p1", "u1", 5000, "paid", "2026-01-01",
                                 "2026-01-04", "2026-01-01T00:00:01")


def test_fold_unpaid_bill_has_no_paid_date():
    bill = _ev(gen.BILL, "2026-01-01T00:00:00.000Z", bill_id="b2",
               promise_id="p2", user_id="u2", amount=700,
               issued_date="2026-01-01")
    _, bills = gen.reference_fold([bill])
    assert bills["b2"][3:6] == ("unpaid", "2026-01-01", None)


# -- tracing -----------------------------------------------------------------

def test_self_time_subtracts_covered_children():
    t = Tracer(enabled=True)
    t.spans = [
        {"id": 0, "name": "engine.process", "parent": None, "op": "a",
         "start": 0.0, "end": 100.0},
        {"id": 1, "name": "stream.batch", "parent": 0, "op": "a",
         "start": 10.0, "end": 50.0},
        {"id": 2, "name": "stream.batch", "parent": 0, "op": "a",
         "start": 40.0, "end": 70.0},
    ]
    job = t.add("exec.job", 20.0, 30.0)
    assert job["parent"] == 1 and job["op"] == "a"
    self_ms = t.self_times()
    assert self_ms["engine"] == 40.0       # 100 minus the union 10..70
    assert self_ms["stream"] == 60.0       # (40 - 10) + 30
    assert self_ms["exec"] == 10.0


def test_benchmark_json_lists_every_metric():
    import layers
    import run
    import workloads

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"),
              encoding="utf-8") as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] \
        == layers.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(
        workloads.WORKLOADS) == list(workloads.WHY)
