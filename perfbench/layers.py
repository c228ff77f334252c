"""Per-layer metrics of a traced run.

Spans come from three places: the benchmark's own calls (``engine.*``,
``pipeline.run_stream``, ``plans.build``, ``exec.materialize``), the
listeners (``stream.batch``, ``catalyst.*``) and the status store
(``exec.job``). Observed spans nest under the innermost benchmark span
open when they started; anything outside a traced unit is dropped.

Values are per operation (a batch, a command or a query) unless the
name says otherwise. A layer the workload does not reach reads 0.
"""

from __future__ import annotations

import os

import tracing as tr
from workloads import HEAVY

STREAM_PHASES = ("walCommit", "commitOffsets", "latestOffset",
                 "queryPlanning", "getBatch", "addBatch")
EXEC_SUMS = ("run_ms", "cpu_ms", "gc_ms", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes", "input_bytes",
             "failed_tasks")
SELF_LAYERS = ("engine", "pipeline", "stream", "plans", "catalyst", "exec")

#: (name, unit, better) of every per-layer metric, in report order
PER_LAYER: list[tuple[str, str, str]] = [
    ("engine.emit_ms", "ms", "lower"),
    ("engine.process_ms", "ms", "lower"),
    ("engine.status_ms", "ms", "lower"),
    ("stream.queries_started", "count", "lower"),
    ("stream.start_stop_ms", "ms", "lower"),
    ("stream.batches", "count", "lower"),
    *[(f"stream.{p}_ms", "ms", "lower") for p in STREAM_PHASES],
    ("stream.bookkeeping_share", "ratio", "lower"),
    ("stream.rows_per_batch", "count", "higher"),
    ("pipeline.jobs_per_batch", "count", "lower"),
    ("pipeline.state_bytes", "bytes", "lower"),
    ("pipeline.log_files", "count", "lower"),
    ("pipeline.output_rows", "count", "higher"),
    ("plans.build_ms", "ms", "lower"),
    ("plans.eager_jobs", "count", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.run_ms", "ms", "lower"),
    ("exec.cpu_ms", "ms", "lower"),
    ("exec.gc_ms", "ms", "lower"),
    ("exec.shuffle_read_bytes", "bytes", "lower"),
    ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("exec.input_bytes", "bytes", "lower"),
    ("exec.failed_tasks", "count", "lower"),
    *[(f"self.{layer}_ms", "ms", "lower") for layer in SELF_LAYERS],
    ("ingest_events_per_s", "1/s", "higher"),
    ("visible_p50_ms", "ms", "lower"),
    ("visible_tail_ms", "ms", "lower"),
    ("visible_tail_pct", "%", "higher"),
    ("visible_samples", "count", "higher"),
    ("status_p50_ms", "ms", "lower"),
    ("catalog_wall_s", "s", "lower"),
    ("query_p50_ms", "ms", "lower"),
    *[(f"query.{q}_s", "s", "lower") for q in HEAVY],
    ("peak_rss_mb", "MB", "lower"),
    ("fail_ratio", "ratio", "lower"),
    ("trace.overhead_share", "ratio", "lower"),
    ("host.probe_s", "s", "lower"),
    ("host.steal_share", "ratio", "lower"),
    ("host.loadavg", "count", "lower"),
]


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, ignoring checksum side files."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.endswith(".crc"):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


def observe(tracer, spark, probes) -> tuple[list[dict], list[float]]:
    """Add listener and status-store spans under the benchmark's spans;
    return the jobs and the streaming-query starts inside traced units."""
    tr.drain(spark)
    stream_probe, cat_probe = probes.stream, probes.catalyst
    with stream_probe.lock:
        batches = list(stream_probe.batches)
    for b in batches:
        if tracer.enclosing(b["start"]) is not None:
            tracer.add("stream.batch", b["start"],
                       b["start"] + b["ms"].get("triggerExecution", 0),
                       rows=b["rows"], phases=b["ms"])
    with cat_probe.lock:
        plans = list(cat_probe.plans)
    for plan in plans:
        for phase, (start, ms) in plan.items():
            if ms > 0 and tracer.enclosing(start) is not None:
                tracer.add(f"catalyst.{phase}", start, start + ms)
    jobs = []
    for j in tr.status_jobs(spark):
        if j["submit"] is not None and tracer.enclosing(j["submit"]):
            jobs.append(tracer.add("exec.job", j["submit"],
                                   j["end"] or j["submit"], **j))
    with stream_probe.lock:
        starts = [t for t in stream_probe.starts
                  if tracer.enclosing(t) is not None]
    return jobs, starts


def compute(ctx, res: dict, jobs: list[dict], starts: list[float],
            weather: dict) -> dict:
    spans = ctx.tracer.spans
    by_id = {s["id"]: s for s in spans}
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def under(s: dict, name: str) -> bool:
        p = s["parent"]
        while p is not None:
            if by_id[p]["name"] == name:
                return True
            p = by_id[p]["parent"]
        return False

    cmds = [s for n in ("engine.purchase", "engine.create_bill",
                        "engine.payment_completed")
            for s in by_name.get(n, [])]
    batches = by_name.get("stream.batch", [])
    builds = by_name.get("plans.build", [])
    callers = by_name.get("engine.process", []) + \
        by_name.get("pipeline.run_stream", [])
    ops = len(builds) or len(cmds) or len(batches) or 1

    m: dict[str, float] = {}
    m["engine.emit_ms"] = _mean(_dur(s) for s in cmds)
    m["engine.process_ms"] = _mean(_dur(s) for s in
                                   by_name.get("engine.process", []))
    m["engine.status_ms"] = _mean(_dur(s) for s in
                                  by_name.get("engine.status", []))
    n_calls = len(callers) or 1
    m["stream.queries_started"] = len(starts) / n_calls
    m["stream.batches"] = len(batches) / n_calls
    m["stream.start_stop_ms"] = _mean(
        _dur(d) - sum(_dur(b) for b in batches if b["parent"] == d["id"])
        for d in callers) if callers else 0.0
    for p in STREAM_PHASES:
        m[f"stream.{p}_ms"] = _mean(b["phases"].get(p, 0) for b in batches)
    te = sum(b["phases"].get("triggerExecution", 0) for b in batches)
    add = sum(b["phases"].get("addBatch", 0) for b in batches)
    m["stream.bookkeeping_share"] = 1 - add / te if te else 0.0
    m["stream.rows_per_batch"] = _mean(b["rows"] for b in batches)

    m["pipeline.jobs_per_batch"] = (
        sum(1 for j in jobs if under(j, "stream.batch")) / len(batches)
        if batches else 0.0)
    out = res.get("pipeline_out")
    size = files = 0
    if out:
        for d in ("_member_bills_state", "payment_promises",
                  "member_bills"):
            size += _dir_stats(os.path.join(out, d))[0]
        files = _dir_stats(os.path.join(out, "events_log"))[1]
    m["pipeline.state_bytes"] = size
    m["pipeline.log_files"] = files
    m["pipeline.output_rows"] = res.get("output_rows", 0)

    m["plans.build_ms"] = _mean(_dur(s) for s in builds)
    m["plans.eager_jobs"] = (sum(1 for j in jobs if under(j, "plans.build"))
                             / len(builds) if builds else 0.0)
    analysis = sum(s.get("analysis_ms", 0.0) for s in builds)
    for phase in ("analysis", "optimization", "planning"):
        total = sum(_dur(s) for s in by_name.get(f"catalyst.{phase}", []))
        if phase == "analysis":
            total += analysis
        m[f"catalyst.{phase}_ms"] = total / ops

    m["exec.jobs"] = len(jobs) / ops
    m["exec.stages"] = sum(j["stages"] for j in jobs) / ops
    m["exec.tasks"] = sum(j["tasks"] for j in jobs) / ops
    for k in EXEC_SUMS:
        m[f"exec.{k}"] = sum(j[k] for j in jobs) / ops

    selfs = ctx.tracer.self_times()
    for layer in SELF_LAYERS:
        m[f"self.{layer}_ms"] = selfs.get(layer, 0.0) / ops

    m.update(res["named"])
    m["fail_ratio"] = ctx.failed / max(1, ctx.attempted)
    # plain units run with no listener registered and no span recorded,
    # so this is the whole cost of tracing on the workload's own wall
    traced = [u for u in ctx.units if u["traced"]]
    plain = [u for u in ctx.units if not u["traced"]]
    if traced and plain:
        per_t = sum(u["wall"] for u in traced) / sum(u["items"] for u in traced)
        per_p = sum(u["wall"] for u in plain) / sum(u["items"] for u in plain)
        m["trace.overhead_share"] = per_t / per_p - 1
    m["host.probe_s"] = weather["probe_s"]
    m["host.steal_share"] = weather["steal_share"]
    m["host.loadavg"] = weather["loadavg"]
    return {name: float(m.get(name, 0.0)) for name, _, _ in PER_LAYER}
