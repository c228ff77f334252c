"""SparkSession construction and tuning.

Scale posture (100 TB target, tested on local[32]):

- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic broadcast-join demotion replace hand-tuned plans.
- ``spark.sql.shuffle.partitions`` is a *starting* number; AQE coalesces
  down. On a real cluster this would be ~2-3x total cores; locally 32.
- Arrow on: every Pandas-UDF / applyInPandas boundary is Arrow-batched.
- Session timezone pinned to UTC so timestamp arithmetic is
  deterministic and oracle-comparable.

Nothing here is required for correctness — queries accept any session —
but :func:`tune` is applied to driver-provided sessions so the runtime
confs (all of these are runtime-settable) hold in the driver harness too.
"""

from __future__ import annotations

from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession

#: Runtime-settable confs applied to any session we are handed.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # small-dim joins (region/nation/supplier & broadcast query vectors)
    # should always broadcast; 64 MB is safe at 100 TB fact scale because
    # the *dimension* side stays small.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs; safe to call on any (incl. driver-owned) session."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # a conf may be non-settable in some deployment; never fatal
            pass
    return spark


def get_spark(app_name: str = "event_streaming_bnpl_demo_spark",
              master: str = "local[*]") -> SparkSession:
    """Build a tuned local session (tests / bench). Driver-owned sessions
    go through :func:`tune` instead."""
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]):
    """Temporarily set runtime confs for one query's execution scope,
    for per-query knobs that must not leak into the rest of the session
    (r12: ``spark.sql.streaming.noDataMicroBatches.enabled`` for
    streaming shapes whose emitted rows never depend on the trailing
    watermark-advance batch).

    ``spark.sql.shuffle.partitions`` is the common case: a STATEFUL
    streaming query with a FRESH checkpoint fixes its state-store
    partition count from this conf at first start, and can never
    change it afterwards. The session default (32) sizes batch
    shuffles for the full machine; a micro-batch state store over a
    bench-scale keyspace spends most of its wall on task dispatch at
    32 (measured: the streaming as-of join runs 6.3 s warm at 32
    partitions vs 4.4 s at 8, identical results). Production sizes
    this to peak keys x throughput per the capacity plan; it is a
    per-query knob precisely because it CANNOT be changed on an
    existing checkpoint — never wrap a content-keyed (reused)
    checkpoint in a partition-count scope.
    """
    old: dict[str, str | None] = {}
    for k, v in confs.items():
        # get(k, None) returns None ONLY when the key is truly unset
        # (the no-default get would substitute the conf's built-in
        # default, making restore pin that default as an explicit set —
        # wrong is-set state if the default ever changes mid-session)
        try:
            old[k] = spark.conf.get(k, None)
        except Py4JError:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
