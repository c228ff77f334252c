"""ext25: the streaming feature store —

``mv_stream_pit_features`` is the continuously-maintained twin of
``events_pit_features``: the event feed drains as four TIME-RANGE
micro-batches; each batch computes its purchases' features as (running
totals from TIME-EARLIER batches) + (strictly-prior rows within the
batch), and writes its own per-user aggregate partial. Per-user totals
are additive monoids, so the prior state for a batch is just the SUM
of earlier-time partials — no sequential read-modify-write, replay-safe
by construction (a recomputed batch re-reads partials that never
change and overwrites only its own output).

Two ordering disciplines make this correct, both learned from this
query's own first gate failure (Spark counted MORE history than the
oracle):

1. ``repartitionByRange`` writes its part files in task-COMPLETION
   order and FileStreamSource schedules by modification time, so the
   staged slices carry explicit range-ordered names AND pinned,
   strictly-increasing mtimes — the file fixture's stand-in for the
   per-partition log order a Kafka deployment gets for free.
2. Prior state is selected by TIME (partials whose slice_min_ts is
   before this batch's min ts), never by processing order — a replayed
   or reordered batch can therefore only ever see its true past; the
   batch's own (possibly crash-leftover) partial self-excludes because
   its slice_min_ts equals, not precedes, the current min.

Oracle = the batch point-in-time SQL verbatim: incremental == batch is
the checked contract, exactly the mv-taxonomy discipline.

Reference parity: none of this exists in the reference (615-LoC Go
CQRS demo); SURVEY.md §2.2 capability-superset tier.
"""

from __future__ import annotations

import glob as _glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .catalog import register
from .queries_ext24 import _PIT_ORACLE

_VCENTS = "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"

_TYPES = ("view", "click", "error")
_N_SLICES = 4


@register("mv_stream_pit_features", oracle=_PIT_ORACLE,
          tags=("mv", "stream", "events", "features", "pit"))
def mv_stream_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-time feature materialization. Per batch:

    1. within-batch strictly-prior features via the same cumulative
       window as the batch query (total (ts, event_id) order);
    2. cross-batch history as the monoid-sum of per-user partials from
       batches EARLIER IN TIME (slice_min_ts < this batch's min ts —
       counts and cent-sums are additive, the same reason the rule
       gate and bitmap views maintain in O(batch));
    3. the batch's own per-user partial + its purchases' feature rows
       land under batch-keyed dirs (overwrite ⇒ exactly-once on replay).

    Scale: state per batch is |active users| aggregate rows, not
    events; the cross-batch join shuffles on user_id (bounded by the
    user universe); nothing ever re-reads archived batches' raw rows.
    The one driver-side step is a single-row min/max bound per batch.
    """
    from .queries_ext import _scratch, source_fingerprint, stage_once

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts",
        F.expr(_VCENTS).alias("vcents"))
    fp = source_fingerprint(sf_dir)
    work = _scratch(f"pitstream_v3_{fp}")

    def write_slices(tmp: str) -> None:
        stage_time_slices(ev, tmp)

    in_dir = stage_once(f"pitstream_in_v3_{fp}", write_slices)
    return run_pit_stream(spark, in_dir, work)


def stage_time_slices(ev: DataFrame, tmp: str,
                      n_slices: int = _N_SLICES) -> None:
    """Materialize the feed as time-RANGE slice files with explicit
    range-ordered names and pinned, strictly-increasing mtimes — the
    two properties FileStreamSource needs to schedule them in time
    order (see module docstring, discipline 1)."""
    sub = f"{tmp}/_parts"
    (ev.repartitionByRange(n_slices, "ts", "event_id")
     .write.mode("overwrite").parquet(sub))
    parts = sorted(_glob.glob(f"{sub}/part-*.parquet"))
    base = 1_600_000_000
    for k, p in enumerate(parts):
        dst = f"{tmp}/{k:05d}.parquet"
        os.rename(p, dst)
        os.utime(dst, (base + k, base + k))   # pin schedule order
    shutil.rmtree(sub)


def run_pit_stream(spark: SparkSession, in_dir: str, work: str) -> DataFrame:
    """Drain every unprocessed slice file under ``in_dir`` through the
    feature fold (checkpointed under ``work``) and return the current
    view. Callable repeatedly: new slice files appended to ``in_dir``
    are picked up incrementally on the next call; already-processed
    slices are never re-read (exercised by the partial-feed resume law
    in ``tests/test_ext25_semantics.py``)."""
    from .queries_ext import drain_partials, parquet_stream

    state_dir = f"{work}/state"
    agg_cols = ["c_all", *[f"c_{t}" for t in _TYPES], "v_cents"]

    def fold(batch: DataFrame) -> dict[str, DataFrame]:
        # min (ts, event_id) — struct min orders lexicographically, so
        # the batch boundary is the composite range key, not ts alone:
        # two adjacent range slices CAN share a min ts (a slice made
        # wholly of one hot timestamp), and a ts-only `<` filter would
        # silently drop the earlier slice's whole history.
        b0 = batch.agg(F.min(F.struct("ts", "event_id"))).collect()[0][0]
        if b0 is None:
            return {}  # empty micro-batch: no state, no output (a NullType
            # slice_min_ts literal would otherwise break the write)
        bmin, bmin_eid = b0["ts"], b0["event_id"]
        have_state = bool(_glob.glob(f"{state_dir}/batch=*"))
        prior = None
        if have_state:
            earlier = (
                (F.col("slice_min_ts") < F.lit(bmin))
                | ((F.col("slice_min_ts") == F.lit(bmin))
                   & (F.col("slice_min_eid") < F.lit(bmin_eid))))
            prior = (spark.read.option("basePath", state_dir)
                     .parquet(f"{state_dir}/batch=*")
                     .filter(earlier)
                     .groupBy("user_id")
                     .agg(*(F.sum(c).alias(c) for c in agg_cols)))

        w = ("OVER (PARTITION BY user_id ORDER BY ts, event_id"
             " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
        typ = ("SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) {w}"
               " - CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END"
               " AS b_{t}")
        local = batch.selectExpr(
            "event_id", "user_id", "event_type",
            f"COUNT(*) {w} - 1 AS b_all",
            *[typ.format(t=t, w=w) for t in _TYPES],
            f"SUM(vcents) {w} - vcents AS b_cents")
        if prior is not None:
            local = (local.join(prior, "user_id", "left")
                     .na.fill(0, agg_cols))
        else:
            for c in agg_cols:
                local = local.withColumn(c, F.lit(0).cast("long"))
        feats = (local.filter("event_type = 'purchase'")
                 .selectExpr(
                     "event_id", "user_id",
                     "b_all + c_all AS n_prior_events",
                     *[f"b_{t} + c_{t} AS n_prior_{t}s" for t in _TYPES],
                     "b_cents + v_cents AS prior_value_cents"))
        state = (batch.groupBy("user_id")
                 .agg(F.count(F.lit(1)).alias("c_all"),
                      *[F.expr(f"SUM(CASE WHEN event_type = '{t}' THEN 1"
                               f" ELSE 0 END)").alias(f"c_{t}")
                        for t in _TYPES],
                      F.sum("vcents").alias("v_cents"))
                 .withColumn("slice_min_ts", F.lit(bmin))
                 .withColumn("slice_min_eid", F.lit(bmin_eid)))
        return {"out": feats, "state": state}

    # the slice layout is staged by stage_time_slices, so the stream
    # schema is read from the staged files' footers
    stream = parquet_stream(spark, in_dir, spark.read.parquet(in_dir).schema)
    out = drain_partials(stream, work, fold)["out"]
    return out.select(
        "event_id", "user_id",
        F.col("n_prior_events").cast("bigint").alias("n_prior_events"),
        *[F.col(f"n_prior_{t}s").cast("bigint").alias(f"n_prior_{t}s")
          for t in _TYPES],
        F.col("prior_value_cents").cast("bigint")
        .alias("prior_value_cents"))
