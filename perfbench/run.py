#!/usr/bin/env python3
"""Benchmark of the BNPL engine, its streaming pipeline and the query
catalog. Run from the repository root:

    python3 perfbench/run.py --workload ingest_bulk --seed 1 \
        --seconds 6 --trace 0

Workloads: ingest_bulk, command_roundtrip, catalog_heavy (see
``workloads.WHY``). Spark runs as ``local[<cpus>]`` in this
process. The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``, where metrics are the
end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``. Everything the run writes stays under ``.perfbench/``
in the repository root: generated inputs are cached in
``.perfbench/cache``, a full report per run lands in
``.perfbench/reports`` and, traced, its spans in ``.perfbench/spans``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

#: End-to-end metric name -> unit; every workload reports all of them.
#: - setup_s: median wall of the workload's set-up, which pays one-off
#:   work (codegen, catalog staging, the engine's history load);
#: - throughput_per_s: events ingested (ingest_bulk), commands made
#:   visible (command_roundtrip) or queries materialized
#:   (catalog_heavy) per second of measured wall;
#: - op_p50_ms: median wall of one run_stream over the whole backlog
#:   (ingest_bulk), of a command until user_status shows it
#:   (command_roundtrip) or of one pass over the queries (catalog_heavy).
END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "op_p50_ms": "ms"}


def build_session(work: str):
    from pyspark.sql import SparkSession

    from event_streaming_bnpl_demo_spark.session import RUNTIME_CONF, tune

    import host

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(local, exist_ok=True)
    # the launcher honours SPARK_LOCAL_DIRS over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = local
    b = (SparkSession.builder.master(f"local[{host.cpus()}]")
         .appName("perfbench")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         # the driver memory session.get_spark gives the program
         .config("spark.driver.memory", "8g")
         .config("spark.local.dir", local)
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp}")
         # the status store keeps every job of a run for attribution
         .config("spark.ui.retainedJobs", "100000")
         .config("spark.ui.retainedStages", "100000"))
    for k, v in RUNTIME_CONF.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return tune(spark)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def run(args, work: str) -> dict:
    import bench
    import host
    import layers
    import tracing
    import workloads

    spark = build_session(work)
    try:
        tracer = tracing.Tracer(enabled=bool(args.trace))
        probes = tracing.Probes(spark) if args.trace else None
        ctx = workloads.Ctx(spark=spark, seed=args.seed,
                            seconds=args.seconds, trace=bool(args.trace),
                            tracer=tracer, probes=probes, work=work,
                            cache=os.path.join(STATE, "cache"))
        cpu0, t0 = host.cpu_times(), time.time()
        res = workloads.WORKLOADS[args.workload](ctx)
        weather = {"steal_share": host.steal_share(cpu0, host.cpu_times()),
                   "loadavg": host.loadavg(), "run_s": time.time() - t0}
        # recorded per layer: the heap grows and is collected when the
        # JVM chooses, so the peak swings too much across seeds to bound
        res["named"]["peak_rss_mb"] = host.peak_rss_mb(spark)
        bench.calibration_probe(spark)
        weather["probe_s"] = bench.calibration_probe(spark)
        end_to_end = {"setup_s": res["setup_s"],
                      "throughput_per_s": res["throughput_per_s"],
                      "op_p50_ms": res["op_p50_ms"]}
        per_layer = None
        if args.trace:
            jobs, starts = layers.observe(tracer, spark, probes)
            per_layer = layers.compute(ctx, res, jobs, starts, weather)
            os.makedirs(os.path.join(STATE, "spans"), exist_ok=True)
            tracer.dump(os.path.join(
                STATE, "spans", f"{args.workload}-seed{args.seed}.json"))
    finally:
        stop_session(spark)

    report = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "why": workloads.WHY[args.workload],
              "cpus": host.cpus(), "host": weather, **ctx.report,
              "setup_walls_s": res["setup_walls"],
              "attempted": ctx.attempted, "failed": ctx.failed,
              "problems": ctx.problems[:20], "named": res["named"],
              "end_to_end": end_to_end, "per_layer": per_layer}
    os.makedirs(os.path.join(STATE, "reports"), exist_ok=True)
    with open(os.path.join(STATE, "reports",
                           f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w",
              encoding="utf-8") as f:
        json.dump(report, f, indent=1, ensure_ascii=False)
    for p in ctx.problems[:5]:
        print(f"perfbench: incorrect: {p}", file=sys.stderr)

    if args.trace:
        metrics = {name: {"value": per_layer[name], "unit": unit}
                   for name, unit, _ in layers.PER_LAYER}
    else:
        metrics = {name: {"value": end_to_end[name], "unit": unit}
                   for name, unit in END_TO_END.items()}
    return {"correct": ctx.failed == 0, "attempted": ctx.attempted,
            "failed": ctx.failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest_bulk", "command_roundtrip",
                             "catalog_heavy"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(STATE, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # catalog staging, Spark's local dirs and Python workers stay in here
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
