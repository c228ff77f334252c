"""Tracing from outside the program.

- :class:`Tracer` records spans around the benchmark's calls into each
  layer: name, start, end, parent and operation id. Spans live in
  memory until :meth:`Tracer.dump` writes them out.
- :class:`StreamProbe` is a ``StreamingQueryListener``: per-batch
  ``durationMs`` phases, input rows and query starts.
- :class:`CatalystProbe` is a ``QueryExecutionListener``: the
  optimization and planning phases of every executed plan.
- :class:`Probes` registers both listeners around a traced unit only.
- :func:`status_jobs` reads jobs and their stages from the JVM
  ``AppStatusStore``, which Spark fills even with the UI off.

A job is attributed to the innermost span open at its submission time.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from datetime import datetime, timezone

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory span recorder. Disabled, :meth:`span` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": sid, "name": name, "parent": parent, "op": op,
               "start": time.time() * 1000.0, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time() * 1000.0

    def add(self, name: str, start_ms: float, end_ms: float,
            **extra) -> dict:
        """Record a span observed elsewhere (a batch, a job, a Catalyst
        phase); its parent is the innermost span covering its start."""
        parent = self.enclosing(start_ms)
        rec = {"id": len(self.spans), "name": name,
               "parent": None if parent is None else parent["id"],
               "op": None if parent is None else parent["op"],
               "start": start_ms, "end": end_ms, **extra}
        self.spans.append(rec)
        return rec

    def enclosing(self, t_ms: float) -> dict | None:
        best = None
        for s in self.spans:
            if s["end"] is not None and s["start"] <= t_ms <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def self_times(self) -> dict[str, float]:
        """Milliseconds per layer (first dotted part of the span name)
        that no child span of the same interval covers."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union(kids.get(s["id"], []), s["start"], s["end"])
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


def _union(ivs: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur = 0.0, lo
    for a, b in sorted(ivs):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def _iso_ms(ts: str) -> float:
    dt = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
    return dt.replace(tzinfo=timezone.utc).timestamp() * 1000.0


class StreamProbe(StreamingQueryListener):
    """Collects per-batch progress; events arrive on Spark's listener
    thread, hence the lock."""

    def __init__(self):
        self.lock = threading.Lock()
        self.batches: list[dict] = []
        self.starts: list[float] = []

    def onQueryStarted(self, event):
        with self.lock:
            self.starts.append(_iso_ms(event.timestamp))

    def onQueryProgress(self, event):
        p = event.progress
        with self.lock:
            self.batches.append({"start": _iso_ms(p.timestamp),
                                 "rows": p.numInputRows,
                                 "ms": dict(p.durationMs)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class CatalystProbe:
    """py4j implementation of ``QueryExecutionListener``: keeps the
    Catalyst phases of every plan that ran."""

    def __init__(self):
        self.lock = threading.Lock()
        self.plans: list[dict] = []

    def onSuccess(self, func_name, qe, duration_ns):
        phases = qe.tracker().phases()
        rec = {}
        it = phases.keySet().iterator()
        while it.hasNext():
            k = it.next()
            p = phases.apply(k)
            rec[k] = (float(p.startTimeMs()), float(p.durationMs()))
        with self.lock:
            self.plans.append(rec)

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Probes:
    """The two listeners, registered only around traced units so that
    plain units run with no probe at all."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.stream = StreamProbe()
        self.catalyst = CatalystProbe()
        ensure_callback_server_started(spark.sparkContext._gateway)

    def attach(self) -> None:
        drain(self.spark)
        self.spark.streams.addListener(self.stream)
        self.spark._jsparkSession.listenerManager().register(self.catalyst)

    def detach(self) -> None:
        drain(self.spark)
        self.spark.streams.removeListener(self.stream)
        self.spark._jsparkSession.listenerManager().unregister(self.catalyst)


def drain(spark) -> None:
    """Wait until Spark's listener bus has delivered every posted event:
    both listeners are called asynchronously from it."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def status_jobs(spark) -> list[dict]:
    """Every job in the status store with the sums of its stages."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        rec = {"job": j.jobId(), "submit": _opt_ms(j.submissionTime()),
               "end": _opt_ms(j.completionTime()), "stages": 0,
               "tasks": 0, "failed_tasks": j.numFailedTasks(), "run_ms": 0,
               "cpu_ms": 0.0, "gc_ms": 0, "input_bytes": 0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0}
        ids = j.stageIds()
        for k in range(ids.size()):
            try:
                s = store.lastStageAttempt(ids.apply(k))
            except Py4JJavaError:   # stage evicted from the store
                continue
            if s.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            rec["run_ms"] += s.executorRunTime()
            rec["cpu_ms"] += s.executorCpuTime() / 1e6
            rec["gc_ms"] += s.jvmGcTime()
            rec["input_bytes"] += s.inputBytes()
            rec["shuffle_read_bytes"] += s.shuffleReadBytes()
            rec["shuffle_write_bytes"] += s.shuffleWriteBytes()
            rec["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out.append(rec)
    return out
