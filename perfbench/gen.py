"""Seeded BNPL command-stream generator and the reference fold.

Everything the benchmark feeds the program comes from here, drawn from
one ``random.Random(seed)``: the same seed gives the same events, files
and command calls. The program sees only the JSONL files written from
these events and the ``BnplEngine`` calls made from these commands.

:func:`reference_fold` is an independent pure-Python fold of the same
events into the two projections. ``ingest_bulk`` compares the
pipeline's output against it.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass
from datetime import date, datetime, timedelta

PURCHASE = "PurchaseCompletedEvent"
BILL = "MemberBillCreatedEvent"
PAYMENT = "PaymentCompletedEvent"
#: payment mode the pipeline's purchase→promise cascade assigns
CASCADE_MODE = "月まとめ払い"
#: day-0 of the logical clock every generated event is stamped from
EPOCH = datetime(2026, 1, 1)


@dataclass(frozen=True)
class StreamSettings:
    """Knobs of the command stream. Shares are of generated events."""

    users: int = 2000           # user key space
    skew: float = 1.1           # Zipf exponent of user keys; 0 = uniform
    backlog: int = 3000         # events staged by ingest_bulk
    files: int = 2              # JSONL files the backlog is split into
    burst: int = 3              # commands per command_roundtrip burst
    history: int = 200          # events pre-loaded into the engine
    dup_share: float = 0.05     # exact redeliveries of earlier events
    reorder_share: float = 0.10  # chains whose payment precedes the bill
    malformed_share: float = 0.005  # lines that are not valid JSON
    pay_share: float = 0.6      # billed chains that also get paid


def _zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (k ** s) for k in range(1, n + 1)]


def _ts(i: int) -> str:
    return (EPOCH + timedelta(seconds=i)).strftime(
        "%Y-%m-%dT%H:%M:%S.000Z")


def backlog_events(seed: int, st: StreamSettings, n: int | None = None,
                   prefix: str = "") -> list[str]:
    """Generate ``n`` (default ``st.backlog``) JSON lines in delivery
    order: purchase → bill → payment chains over Zipf-skewed users,
    with redeliveries, payment-before-bill reorders and malformed
    lines mixed in. Each event carries an explicit ``ingest_ts`` from a
    logical clock, so the projections are a pure function of the seed.
    """
    n = st.backlog if n is None else n
    rng = random.Random(seed)
    weights = _zipf_weights(st.users, st.skew)
    keys = list(range(st.users))
    rng.shuffle(keys)
    out: list[str] = []
    clock = 0
    chain = 0

    def emit(ev: dict) -> None:
        nonlocal clock
        ev["ingest_ts"] = _ts(clock)
        clock += 1
        out.append(json.dumps(ev, ensure_ascii=False, sort_keys=True))

    while len(out) < n:
        r = rng.random()
        if r < st.malformed_share:
            # a purchase line cut short, as a crashed writer leaves it
            emit({"event_type": PURCHASE, "user_id": f"{prefix}torn"})
            out[-1] = out[-1][:len(out[-1]) // 2]
            continue
        if r < st.malformed_share + st.dup_share and out:
            src = out[rng.randrange(len(out))]
            if src.endswith("}"):
                out.append(src)
                continue
        user = f"{prefix}u{keys[rng.choices(range(st.users), weights)[0]]}"
        amount = rng.randrange(500, 50000, 100)
        emit({"event_type": PURCHASE, "order_id": f"order-{user}",
              "user_id": user, "amount": amount})
        chain += 1
        if rng.random() < 0.7:
            bill_id = f"{prefix}b{seed}-{chain}"
            day = (EPOCH.date() + timedelta(days=clock // 86400))
            bill = {"event_type": BILL, "bill_id": bill_id,
                    "promise_id": f"{prefix}pr{seed}-{chain}",
                    "user_id": user, "amount": amount,
                    "issued_date": day.isoformat()}
            pay = None
            if rng.random() < st.pay_share:
                pay = {"event_type": PAYMENT, "bill_id": bill_id,
                       "user_id": user, "amount": amount,
                       "paid_date": (day + timedelta(days=3)).isoformat()}
            if pay is not None and rng.random() < st.reorder_share:
                emit(pay)
                emit(bill)
            else:
                emit(bill)
                if pay is not None:
                    emit(pay)
    return out[:n]


def write_files(lines: list[str], in_dir: str, files: int,
                stem: str = "backlog") -> list[str]:
    """Split ``lines`` in delivery order into ``files`` JSONL files.
    Each file is written under a dot-name and renamed into place, so
    a streaming source never sees a half-written file."""
    os.makedirs(in_dir, exist_ok=True)
    per = -(-len(lines) // files)
    paths = []
    for k in range(files):
        chunk = lines[k * per:(k + 1) * per]
        if not chunk:
            break
        path = os.path.join(in_dir, f"{stem}-{k:03d}.jsonl")
        tmp = os.path.join(in_dir, f".{stem}-{k:03d}.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write("\n".join(chunk) + "\n")
        os.replace(tmp, path)
        paths.append(path)
    return paths


def measured_shares(lines: list[str]) -> dict:
    """The shares the generated stream actually has, for the report."""
    seen: set[str] = set()
    dups = malformed = reorders = 0
    bills_seen: set[str] = set()
    paid_first: set[str] = set()
    users: dict[str, int] = {}
    for ln in lines:
        if ln in seen:
            dups += 1
            continue
        seen.add(ln)
        try:
            ev = json.loads(ln)
        except json.JSONDecodeError:
            malformed += 1
            continue
        users[ev["user_id"]] = users.get(ev["user_id"], 0) + 1
        if ev["event_type"] == BILL:
            bills_seen.add(ev["bill_id"])
            if ev["bill_id"] in paid_first:
                reorders += 1
        elif ev["event_type"] == PAYMENT and ev["bill_id"] not in bills_seen:
            paid_first.add(ev["bill_id"])
    n = max(1, len(lines))
    top = sorted(users.values(), reverse=True)
    hot = sum(top[:max(1, len(top) // 100)])
    return {"events": len(lines),
            "dup_share": round(dups / n, 4),
            "reorder_share": round(reorders / n, 4),
            "malformed_share": round(malformed / n, 4),
            "distinct_users": len(users),
            "top1pct_user_share": round(hot / max(1, sum(top)), 4)}


def reference_fold(lines: list[str]) -> tuple[dict, dict]:
    """Fold JSON lines into ``(promises, bills)`` without Spark.

    - Malformed lines and exact redeliveries change nothing.
    - Each purchase derives a promise keyed by ``md5('promise:' +
      order_id)``; the earliest ``ingest_ts`` per key wins.
    - A bill takes its fields from its creation event whatever order
      the payment arrived in; it is ``paid`` once any payment is seen.

    Rows: promises ``id -> (order_id, user_id, amount, due_date,
    payment_mode, created_at)``; bills ``id -> (promise_id, user_id,
    amount, status, issued_date, paid_date, created_at)``. Dates are
    ISO strings and ``created_at`` is ``YYYY-MM-DDTHH:MM:SS``.
    """
    promises: dict[str, tuple] = {}
    acc: dict[str, dict] = {}
    for ln in set(lines):
        try:
            ev = json.loads(ln)
        except json.JSONDecodeError:
            continue
        ts = ev["ingest_ts"][:19]
        kind = ev.get("event_type")
        if kind == PURCHASE:
            pid = hashlib.md5(
                f"promise:{ev['order_id']}".encode()).hexdigest()
            due = (date.fromisoformat(ts[:10]) + timedelta(days=30))
            row = (ev["order_id"], ev["user_id"], ev["amount"],
                   due.isoformat(), CASCADE_MODE, ts)
            if pid not in promises or ts < promises[pid][5]:
                promises[pid] = row
        elif kind in (BILL, PAYMENT):
            a = acc.setdefault(ev["bill_id"], {
                "promise_id": None, "user_id": None, "create_amount": None,
                "any_amount": None, "issued_date": None, "paid_date": None,
                "created_at": ts})
            a["user_id"] = max(filter(None, (a["user_id"], ev["user_id"])))
            a["any_amount"] = max(a["any_amount"] or ev["amount"],
                                  ev["amount"])
            a["created_at"] = min(a["created_at"], ts)
            if kind == BILL:
                a["promise_id"] = ev["promise_id"]
                a["create_amount"] = ev["amount"]
                a["issued_date"] = ev["issued_date"]
            else:
                a["paid_date"] = max(filter(None, (a["paid_date"],
                                                   ev["paid_date"])))
    bills = {
        bid: (a["promise_id"], a["user_id"],
              a["create_amount"] if a["create_amount"] is not None
              else a["any_amount"],
              "paid" if a["paid_date"] else "unpaid",
              a["issued_date"], a["paid_date"], a["created_at"])
        for bid, a in acc.items()}
    return promises, bills


@dataclass(frozen=True)
class Command:
    """One ``BnplEngine`` call of a command_roundtrip burst. ``ref`` is
    the index of the earlier command whose result this one uses (the
    purchase a bill is for, the bill a payment settles)."""

    kind: str          # 'purchase' | 'create_bill' | 'payment_completed'
    user: str
    amount: int
    ref: int | None = None


def command_bursts(seed: int, st: StreamSettings, n_bursts: int
                   ) -> list[list[Command]]:
    """Closed-loop bursts of ``st.burst`` commands, each from a distinct
    user. A chain spans three bursts: purchase in burst k, its bill in
    k+1, the payment in k+2. From the third burst on, a burst is a
    third payments, a third bills and a third fresh purchases."""
    rng = random.Random(seed ^ 0x5EED)
    third = max(1, st.burst // 3)
    flat: list[Command] = []
    bursts: list[list[int]] = []
    fresh = 0
    for k in range(n_bursts):
        idx: list[int] = []
        prev = bursts[-1] if bursts else []
        new: list[Command] = []
        for i in prev:
            if flat[i].kind == "create_bill":
                new.append(Command("payment_completed", flat[i].user,
                                   flat[i].amount, i))
        for i in [i for i in prev if flat[i].kind == "purchase"][:third]:
            new.append(Command("create_bill", flat[i].user,
                               flat[i].amount, i))
        while len(new) < st.burst:
            fresh += 1
            new.append(Command("purchase", f"rt{seed}-{fresh}",
                               rng.randrange(500, 50000, 100)))
        rng.shuffle(new)
        for c in new:
            idx.append(len(flat))
            flat.append(c)
        bursts.append(idx)
    return [[flat[i] for i in b] for b in bursts]


def staged_commands(cmds: list[Command], start: int
                    ) -> tuple[list[str], list[str]]:
    """Purchases and bills written as history lines instead of called.
    Returns the lines and, per command, what the call would have
    returned (the order id or the bill id); ``start`` is the first
    tick of their logical clock."""
    lines, results = [], []
    for k, c in enumerate(cmds):
        ev = {"user_id": c.user, "amount": c.amount,
              "ingest_ts": _ts(start + k)}
        if c.kind == "purchase":
            ev.update(event_type=PURCHASE, order_id=f"order-{c.user}")
            results.append(ev["order_id"])
        else:
            assert c.kind == "create_bill", c.kind
            ev.update(event_type=BILL, bill_id=f"bill-{c.user}",
                      promise_id=f"pr-{c.user}",
                      issued_date=EPOCH.date().isoformat())
            results.append(ev["bill_id"])
        lines.append(json.dumps(ev, ensure_ascii=False, sort_keys=True))
    return lines, results
