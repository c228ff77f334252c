"""The three workloads. Each sets itself up, measures for the run's
seconds, checks the program's outputs and returns its metrics.

A run is made of *units* (one ``run_stream``, one command burst, one
catalog pass) repeated until the run's seconds are used. With tracing
on, units go traced, plain, plain, traced, ... so that a drift over the
run weighs on both kinds alike. Only traced units record spans and have
the listeners registered; the difference between the two kinds is the
tracing overhead.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import tempfile
import time
from dataclasses import dataclass, field
from datetime import date

from pyspark.sql import functions as F

import gen
import stats
import tables

WHY = {
    "ingest_bulk": "a few large micro-batches over a skewed, redelivered "
                   "and reordered backlog: the time goes to addBatch, so "
                   "it stands for pipeline throughput.",
    "command_roundtrip": "the readme's purchase, bill and payment flow "
                         "from one closed-loop client: per-batch "
                         "bookkeeping, query start and log rereads set "
                         "command-to-visible latency.",
    "catalog_heavy": "larger inputs and iterative or text-heavy queries, "
                     "so execution dominates each wall.",
}

#: execution-dominated headline queries (graph tier and corpus tier)
HEAVY = ("graph_jaccard_links", "graph_pagerank", "llm_bigram_lift")
HEAVY_SF = 0.03
#: the tables are fixed so that a run's walls depend on the host and the
#: program, not on the draw, and the results can be checked against
#: oracle fingerprints recorded once; the seed orders the queries
TABLE_SEED = 42
FINGERPRINTS = os.path.join(os.path.dirname(__file__), "fingerprints.json")


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    tracer: object
    probes: object         # tracing.Probes when tracing, else None
    work: str              # per-run work dir, removed at exit
    cache: str             # generated inputs kept across runs
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    report: dict = field(default_factory=dict)
    units: list = field(default_factory=list)

    def count(self, n: int, ok: bool, why: str = "") -> None:
        self.attempted += n
        if not ok:
            self.failed += n
            self.problems.append(why)


def _timed_setups(fn, reps: int):
    walls, last = [], None
    for k in range(reps):
        t0 = time.perf_counter()
        last = fn(k)
        walls.append(time.perf_counter() - t0)
    return stats.median(walls), walls, last


def _run_units(ctx: Ctx, unit, min_units: int = 1) -> None:
    """Call ``unit(i, traced)`` until the run's seconds are used and at
    least ``min_units`` ran. Traced runs make at least two units, in the
    order traced, plain, plain, traced."""
    t_end = time.perf_counter() + ctx.seconds
    least = max(min_units, 2 if ctx.trace else 1)
    i = 0
    while time.perf_counter() < t_end or i < least:
        traced = ctx.trace and i % 4 in (0, 3)
        ctx.tracer.enabled = traced
        if traced:
            ctx.probes.attach()
        try:
            res = unit(i, traced)
        finally:
            if traced:
                ctx.probes.detach()
        res["traced"] = traced
        ctx.units.append(res)
        i += 1
    ctx.tracer.enabled = ctx.trace


# -- ingest_bulk ----------------------------------------------------------

def _fmt_ts(c):
    return F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss")


def _fmt_d(c):
    return F.date_format(c, "yyyy-MM-dd")


def check_projections(pipeline, expected) -> str:
    """Empty when the pipeline's projections equal the reference fold."""
    want_p, want_b = expected
    rows = pipeline.promises().select(
        "id", "order_id", "user_id", "amount", _fmt_d("due_date"),
        "payment_mode", _fmt_ts("created_at")).collect()
    got_p = {r[0]: tuple(r[1:]) for r in rows}
    rows_b = pipeline.bills().select(
        "id", "promise_id", "user_id", "amount", "status",
        _fmt_d("issued_date"), _fmt_d("paid_date"),
        _fmt_ts("created_at")).collect()
    got_b = {r[0]: tuple(r[1:]) for r in rows_b}
    if len(got_p) != len(rows) or len(got_b) != len(rows_b):
        return "duplicate projection keys"
    for name, got, want in (("promises", got_p, want_p),
                            ("bills", got_b, want_b)):
        if got != want:
            bad = sorted(set(got.items()) ^ set(want.items()))[:2]
            return f"{name} differ from the reference fold: {bad}"
    return ""


def ingest_bulk(ctx: Ctx) -> dict:
    from event_streaming_bnpl_demo_spark.streaming.pipeline import \
        BnplPipeline

    st = gen.StreamSettings()
    lines = gen.backlog_events(ctx.seed, st)
    expected = gen.reference_fold(lines)
    ctx.report["input"] = {**gen.measured_shares(lines),
                           "files": st.files, "skew": st.skew}

    def setup(k):
        # staging plus one pass over the backlog; repeating it carries
        # the JVM past most of its JIT warm-up before measuring
        in_dir = os.path.join(ctx.work, f"in{k}")
        gen.write_files(lines, in_dir, st.files)
        BnplPipeline(ctx.spark, in_dir, os.path.join(ctx.work, f"warm{k}"),
                     projection_mode="incremental").run_stream(
            available_now=True)
        return in_dir

    setup_s, setup_walls, in_dir = _timed_setups(setup, 3)

    def unit(i, traced):
        out = os.path.join(ctx.work, f"out{i}")
        p = BnplPipeline(ctx.spark, in_dir, out,
                         projection_mode="incremental")
        with ctx.tracer.span("pipeline.run_stream", f"run{i}"):
            t0 = time.perf_counter()
            p.run_stream(available_now=True)
            wall = time.perf_counter() - t0
        why = check_projections(p, expected)
        ctx.count(st.files, not why, why)
        return {"wall": wall, "items": len(lines), "out": out,
                "batches": st.files}

    _run_units(ctx, unit, min_units=2)
    plain = [u for u in ctx.units if not u["traced"]] or ctx.units
    rates = [u["items"] / u["wall"] for u in plain]
    return {"setup_s": setup_s, "setup_walls": setup_walls,
            "pipeline_out": ctx.units[0]["out"],
            "output_rows": len(expected[0]) + len(expected[1]),
            "throughput_per_s": stats.median(rates),
            "op_p50_ms": stats.median([u["wall"] * 1e3 for u in plain]),
            "named": {"ingest_events_per_s": stats.median(rates)}}


# -- command_roundtrip ----------------------------------------------------

def _visible(cmd: gen.Command, result, ref_result, prows, brows) -> str:
    today = date.today().isoformat()
    if cmd.kind == "purchase":
        ok = [r for r in prows if r["order_id"] == f"order-{cmd.user}"]
        good = (len(ok) == 1 and ok[0]["amount"] == cmd.amount
                and ok[0]["payment_mode"] == gen.CASCADE_MODE)
        return "" if good else f"purchase by {cmd.user} not visible: {ok}"
    bill_id = result if cmd.kind == "create_bill" else ref_result
    ok = [r for r in brows if r["id"] == bill_id]
    if cmd.kind == "create_bill":
        good = (len(ok) == 1 and ok[0]["amount"] == cmd.amount
                and ok[0]["status"] == "unpaid"
                and ok[0]["issued_date"] == today)
    else:
        good = (len(ok) == 1 and ok[0]["status"] == "paid"
                and ok[0]["paid_date"] == today)
    return "" if good else f"{cmd.kind} {bill_id} not visible: {ok}"


def command_roundtrip(ctx: Ctx) -> dict:
    from event_streaming_bnpl_demo_spark.engine import BnplEngine

    st = gen.StreamSettings()
    history = gen.backlog_events(ctx.seed + 1, st, n=st.history, prefix="h")
    bursts = gen.command_bursts(ctx.seed, st, 200)
    ctx.report["input"] = {**gen.measured_shares(history),
                           "burst": st.burst, "client": "closed loop, 1"}
    probe_user = json.loads(history[0])["user_id"]
    # the first two bursts start the chains; staged with the history,
    # they leave every measured burst one purchase, one bill, one payment
    prelude, results = gen.staged_commands(bursts[0] + bursts[1],
                                           len(history))

    def issue(cmd: gen.Command):
        if cmd.kind == "purchase":
            return eng.purchase(cmd.user, cmd.amount)
        if cmd.kind == "create_bill":
            return eng.create_bill(f"pr-{cmd.user}", cmd.user, cmd.amount)
        return eng.payment_completed(results[cmd.ref], cmd.user, cmd.amount)

    def setup(k):
        eng = BnplEngine(ctx.spark, os.path.join(ctx.work, f"engine{k}"))
        gen.write_files(history + prelude, eng.in_dir, 1, "history")
        eng.process()
        for df in eng.user_status(probe_user):
            df.collect()
        return eng

    setup_s, setup_walls, eng = _timed_setups(setup, 1)

    def unit(i, traced):
        burst = bursts[i + 2]
        base = len(results)
        calls = []
        t_start = time.perf_counter()
        for k, cmd in enumerate(burst):
            calls.append(time.perf_counter())
            with ctx.tracer.span(f"engine.{cmd.kind}", f"cmd{base + k}"):
                results.append(issue(cmd))
        with ctx.tracer.span("engine.process", f"burst{i}"):
            eng.process()
        lat, status = [], []
        for k, cmd in enumerate(burst):
            t0 = time.perf_counter()
            with ctx.tracer.span("engine.status", f"cmd{base + k}"):
                p, b = eng.user_status(cmd.user)
                prows = [r.asDict() for r in p.collect()]
                brows = [r.asDict() for r in b.collect()]
            t_done = time.perf_counter()
            status.append((t_done - t0) * 1e3)
            ref = results[cmd.ref] if cmd.ref is not None else None
            why = _visible(cmd, results[base + k], ref, prows, brows)
            ctx.count(1, not why, why)
            lat.append((t_done - calls[k]) * 1e3)
        return {"wall": time.perf_counter() - t_start, "items": len(burst),
                "latency_ms": lat, "status_ms": status}

    _run_units(ctx, unit, min_units=3)
    plain = [u for u in ctx.units if not u["traced"]] or ctx.units
    lat = [x for u in plain for x in u["latency_ms"]]
    tail = stats.tail(lat)
    ctx.report["visible_tail"] = (
        {"percentile": tail[0], "ms": tail[1], "samples": tail[2]}
        if tail else {"samples": len(lat)})
    return {"setup_s": setup_s, "setup_walls": setup_walls,
            "pipeline_out": eng.pipeline.out_dir,
            "throughput_per_s": sum(u["items"] for u in plain)
            / sum(u["wall"] for u in plain),
            "op_p50_ms": stats.median(lat),
            "named": {"visible_p50_ms": stats.median(lat),
                      "visible_tail_ms": tail[1] if tail else 0.0,
                      "visible_tail_pct": tail[0] if tail else 0.0,
                      "visible_samples": len(lat),
                      "status_p50_ms": stats.median(
                          [x for u in plain for x in u["status_ms"]])}}


# -- catalog_heavy --------------------------------------------------------

def result_key(cols, rows) -> list:
    """Sorted column names and the oracle harness's normalized row
    multiset: equal keys mean equal results."""
    from tests.oracle_harness import rows_to_multiset
    return [sorted(cols), rows_to_multiset(list(cols), rows)]


def fingerprint(key: list) -> str:
    return hashlib.sha256(json.dumps(key).encode()).hexdigest()


def _arrow_rows(df):
    tbl = df.toArrow()
    return tbl.column_names, list(zip(*(c.to_pylist() for c in tbl.columns)))


def _use_staging_dir(path: str) -> None:
    """Content-keyed staging of the catalog lands in the temp dir; a
    fresh one per set-up makes every set-up pay it."""
    os.makedirs(path, exist_ok=True)
    os.environ["TMPDIR"] = path
    tempfile.tempdir = path


def catalog_heavy(ctx: Ctx) -> dict:
    from event_streaming_bnpl_demo_spark.plans import all_queries

    names = list(HEAVY)
    random.Random(ctx.seed).shuffle(names)
    data = tables.ensure(os.path.join(ctx.cache, "tables"), HEAVY_SF,
                         TABLE_SEED)
    cat = all_queries()
    ctx.report["input"] = {"sf": HEAVY_SF, "table_seed": TABLE_SEED,
                           "queries": names}

    def setup(k):
        _use_staging_dir(os.path.join(ctx.work, f"stage{k}"))
        return {n: _arrow_rows(cat[n].fn(ctx.spark, data)) for n in names}

    setup_s, setup_walls, first = _timed_setups(setup, 1)
    with open(FINGERPRINTS, encoding="utf-8") as f:
        expected = json.load(f)
    for n in names:
        ok = expected[n] == fingerprint(result_key(*first[n]))
        ctx.count(1, ok, f"{n}: result differs from the oracle")

    walls: dict[str, list[float]] = {n: [] for n in names}

    def unit(i, traced):
        t_pass = 0.0
        for n in names:
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("plans.build", f"{n}#{i}") as sp:
                    df = cat[n].fn(ctx.spark, data)
                    if sp is not None:
                        sp["analysis_ms"] = _analysis_ms(df)
                with ctx.tracer.span("exec.materialize", f"{n}#{i}"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - counted, not fatal
                ctx.count(1, False, f"{n}: {exc!r}"[:300])
                continue
            w = time.perf_counter() - t0
            ctx.count(1, True)
            if not traced:
                walls[n].append(w)
            t_pass += w
        return {"wall": t_pass, "items": len(names)}

    _run_units(ctx, unit)
    plain = [u for u in ctx.units if not u["traced"]] or ctx.units
    per_q = [w for ws in walls.values() for w in ws]
    pass_s = stats.median([u["wall"] for u in plain])
    named = {"catalog_wall_s": pass_s,
             "query_p50_ms": stats.median(per_q) * 1e3,
             **{f"query.{n}_s": stats.median(walls[n]) for n in HEAVY}}
    # the op is a whole pass: a median over a handful of unlike queries
    # jumps between them from run to run
    return {"setup_s": setup_s, "setup_walls": setup_walls,
            "throughput_per_s": len(per_q) / sum(per_q),
            "op_p50_ms": pass_s * 1e3, "named": named}


def _analysis_ms(df) -> float:
    phases = df._jdf.queryExecution().tracker().phases()
    return float(phases.apply("analysis").durationMs()) \
        if phases.contains("analysis") else 0.0


def oracle_results(names, data: str) -> dict[str, list]:
    """:func:`result_key` of each query's DuckDB oracle over ``data``;
    ``record_fingerprints.py`` stores their fingerprints."""
    from event_streaming_bnpl_demo_spark.plans import all_queries
    from tests.oracle_harness import duck_connection

    cat = all_queries()
    con = duck_connection(data)
    try:
        out = {}
        for n in names:
            cur = con.execute(cat[n].oracle)
            out[n] = result_key([d[0] for d in cur.description],
                                cur.fetchall())
        return out
    finally:
        con.close()


WORKLOADS = {
    "ingest_bulk": ingest_bulk,
    "command_roundtrip": command_roundtrip,
    "catalog_heavy": catalog_heavy,
}
