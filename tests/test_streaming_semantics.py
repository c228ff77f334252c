"""Streaming semantics tests (SURVEY.md §5.2): watermark drops late
rows, dropDuplicatesWithinWatermark dedups, windowed aggregation over a
file stream matches the batch equivalent."""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType, TimestampType)

SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
])


def write_jsonl(path: str, name: str, rows: list[dict]):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run_stream(spark, in_dir, ckpt, build, query_name):
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).json(in_dir))
    q = (build(stream).writeStream.format("memory").queryName(query_name)
         .outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving 2 h behind the watermark is dropped from the
    windowed aggregate; the reference instead silently lost ALL data
    across restarts (consumer/consumer.go:64) — here loss is bounded
    and declared by the watermark."""
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")

    def build(stream):
        return (stream.withWatermark("ts", "30 minutes")
                .groupBy(F.window("ts", "1 hour"))
                .agg(F.count("*").alias("n")))

    # pass 1: advance event time to 12:00 (watermark -> 11:30, persisted
    # in the checkpoint commit log)
    write_jsonl(in_dir, "a.jsonl", [
        {"event_id": 1, "ts": "2024-01-01T10:30:00Z", "user_id": 1,
         "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T12:00:00Z", "user_id": 1,
         "event_type": "click", "value": 1.0},
    ])
    out_dir = str(tmp_path / "out")

    def run_pass():
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", 1).json(in_dir))
        q = (build(stream)
             .select(F.col("window.start").cast("string").alias("w"), "n")
             .writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run_pass()
    # pass 2 (restart from checkpoint): a 10:00 straggler behind the
    # watermark, plus a 13:00 row that advances it further
    write_jsonl(in_dir, "b.jsonl", [
        {"event_id": 3, "ts": "2024-01-01T10:00:00Z", "user_id": 2,
         "event_type": "click", "value": 1.0},  # late beyond 30 min watermark
        {"event_id": 4, "ts": "2024-01-01T13:00:00Z", "user_id": 1,
         "event_type": "click", "value": 1.0},
    ])
    run_pass()
    emitted = [(r["w"], r["n"]) for r in spark.read.parquet(out_dir).collect()]
    # the 10:00 window is finalized exactly once, with only event 1 —
    # the late event 3 neither inflates nor re-emits it
    tens = [n for w, n in emitted if w == "2024-01-01 10:00:00"]
    assert tens == [1]


def test_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a replayed event_id within the
    watermark window is emitted exactly once."""
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    row = {"event_id": 1, "ts": "2024-01-01T10:00:00Z", "user_id": 1,
           "event_type": "click", "value": 1.0}
    write_jsonl(in_dir, "a.jsonl", [row, row])
    write_jsonl(in_dir, "b.jsonl", [row,
        {"event_id": 2, "ts": "2024-01-01T10:05:00Z", "user_id": 1,
         "event_type": "click", "value": 2.0}])

    def build(stream):
        return (stream.withWatermark("ts", "1 hour")
                .dropDuplicatesWithinWatermark(["event_id"]))

    _run_stream(spark, in_dir, ckpt, build, "dedup_wm")
    ids = [r["event_id"] for r in spark.sql("select * from dedup_wm").collect()]
    assert sorted(ids) == [1, 2]


def test_stream_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream interval join: purchases within 1 h
    after each view, per user — the streaming result equals the batch
    interval_join over the same rows (same operator, same code path).
    This is the join the reference's cascade could not express (the
    hard-coded-3500 amount loss, consumer/consumer.go:195-198)."""
    from event_streaming_bnpl_demo_spark.operators.interval import interval_join

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    t = "2026-01-01T{:02d}:{:02d}:00.000Z"
    rows = [
        {"event_id": 1, "ts": t.format(10, 0), "user_id": 7,
         "event_type": "view", "value": 1.0},
        {"event_id": 2, "ts": t.format(10, 30), "user_id": 7,
         "event_type": "purchase", "value": 99.0},   # within 1 h of view 1
        {"event_id": 3, "ts": t.format(12, 0), "user_id": 7,
         "event_type": "purchase", "value": 5.0},    # outside the hour
        {"event_id": 4, "ts": t.format(10, 15), "user_id": 8,
         "event_type": "purchase", "value": 3.0},    # other user
    ]
    write_jsonl(in_dir, "a.jsonl", rows)

    def split(df):
        views = df.filter(F.col("event_type") == "view").select(
            "user_id", F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"))
        purchases = df.filter(F.col("event_type") == "purchase").select(
            "user_id", F.col("event_id").alias("p_id"),
            F.col("ts").alias("p_ts"), F.col("value").alias("p_value"))
        return views, purchases

    def joined(views, purchases):
        return interval_join(views, purchases, "user_id",
                             "v_ts", "p_ts", "1 HOUR")

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).json(in_dir))
    v, p = split(stream)
    q = (joined(v.withWatermark("v_ts", "2 hours"),
                p.withWatermark("p_ts", "2 hours"))
         .writeStream.format("memory").queryName("ssj")
         .outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = sorted(
        (r["view_id"], r["p_id"], r["p_value"])
        for r in spark.sql("select * from ssj").collect())

    bv, bp = split(spark.read.schema(SCHEMA).json(in_dir))
    batch = sorted((r["view_id"], r["p_id"], r["p_value"])
                   for r in joined(bv, bp).collect())
    assert streamed == batch == [(1, 2, 99.0)]


def test_stream_stream_outer_join(spark, tmp_path):
    """Watermarked stream-stream LEFT OUTER interval join: a view with
    no purchase inside the hour emits a null-extended row once the
    watermark passes its join bound — state is closed, not retained
    forever. A late sentinel file advances the watermark so the outer
    result can actually emit under availableNow."""
    from event_streaming_bnpl_demo_spark.operators.interval import (
        interval_join)

    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    t = "2026-01-01T{:02d}:{:02d}:00.000Z"
    rows = [
        {"event_id": 1, "ts": t.format(10, 0), "user_id": 7,
         "event_type": "view", "value": 1.0},
        {"event_id": 2, "ts": t.format(10, 30), "user_id": 7,
         "event_type": "purchase", "value": 99.0},   # matches view 1
        {"event_id": 3, "ts": t.format(10, 5), "user_id": 8,
         "event_type": "view", "value": 1.0},        # never matched
    ]
    write_jsonl(in_dir, "a.jsonl", rows)
    # Sentinels far in the future, on BOTH sides: the global watermark
    # is the MIN of the two input watermarks, so a one-sided sentinel
    # would never advance it. Two sentinel files because outer results
    # emit in the batch AFTER the watermark passes their bound.
    #
    # The sentinels must NOT be filtered inside the query: a filter on
    # left-side columns pushes below the left-outer join — and below
    # the watermark operator — so filtered sentinel views would never
    # advance the view-side watermark. They are dropped post-collect.
    for name, day, vid, pid in (("b.jsonl", 2, 98, 99),
                                ("c.jsonl", 3, 100, 101)):
        write_jsonl(in_dir, name, [
            {"event_id": vid, "ts": f"2026-01-0{day}T12:00:00.000Z",
             "user_id": 0, "event_type": "view", "value": 0.0},
            {"event_id": pid, "ts": f"2026-01-0{day}T12:05:00.000Z",
             "user_id": 0, "event_type": "purchase", "value": 0.0}])
    # the file source admits oldest-mtime first: pin mtimes so the real
    # data is batch 0 and the sentinel batches follow (maxFilesPerTrigger=1)
    now = time.time()
    for i, name in enumerate(["a.jsonl", "b.jsonl", "c.jsonl"]):
        os.utime(os.path.join(in_dir, name),
                 (now - 60 + i * 20, now - 60 + i * 20))

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).json(in_dir))
    v = stream.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"))
    p = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"), F.col("value").alias("p_value"))
    q = (interval_join(v.withWatermark("v_ts", "10 minutes"),
                       p.withWatermark("p_ts", "10 minutes"),
                       "user_id", "v_ts", "p_ts", "1 HOUR", how="left")
         .select("view_id", "p_id", "p_value")
         .writeStream.format("memory").queryName("ssoj")
         .outputMode("append")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = sorted(
        (r["view_id"], r["p_id"], r["p_value"])
        for r in spark.sql("select * from ssoj").collect()
        if r["view_id"] < 90)  # drop watermark sentinels
    assert streamed == [(1, 2, 99.0), (3, None, None)]


def test_stream_window_matches_batch(spark, tmp_path):
    """The tumbling-window aggregate under readStream equals the batch
    groupBy on the same data — one transform library, two run modes."""
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    rows = [
        {"event_id": i, "ts": f"2024-01-01T10:{i:02d}:00Z", "user_id": i % 3,
         "event_type": "click", "value": float(i)}
        for i in range(30)
    ]
    write_jsonl(in_dir, "a.jsonl", rows[:15])
    write_jsonl(in_dir, "b.jsonl", rows[15:])

    def agg(df):
        return (df.groupBy(F.window("ts", "10 minutes").alias("w"))
                .agg(F.count("*").alias("n"),
                     F.sum("value").cast("double").alias("s")))

    _run_stream(spark, in_dir, ckpt,
                lambda s: agg(s.withWatermark("ts", "0 seconds")),
                "win_stream")
    # append mode only emits closed windows; compare those against batch
    batch = {str(r["w"]["start"]): (r["n"], r["s"])
             for r in agg(spark.read.schema(SCHEMA).json(in_dir)).collect()}
    streamed = {str(r["w"]["start"]): (r["n"], r["s"])
                for r in spark.sql("select * from win_stream").collect()}
    assert streamed  # at least the first windows closed
    for k, v in streamed.items():
        assert batch[k] == v


def test_python_datasource_stream(spark, tmp_path):
    """The custom Python DataSource's streaming reader: micro-batches
    serve consecutive index ranges, so the memory sink holds an exact
    deterministic prefix of the generator — and readBetweenOffsets
    regenerates any committed range (replay = exactly-once by
    determinism)."""
    from event_streaming_bnpl_demo_spark.sources.pydatasource import (
        _row, register_datasource)

    register_datasource(spark)
    q = (spark.readStream.format("bnpl_synthetic")
         .option("rowsPerBatch", 50).load()
         .writeStream.format("memory").queryName("pyds")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(processingTime="0 seconds").start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            n = spark.sql("select count(*) c from pyds").collect()[0]["c"]
            if n >= 100:
                break
            time.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination()
    rows = sorted((r["event_id"], r["user_id"], r["event_type"], r["amount"])
                  for r in spark.sql("select * from pyds").collect())
    assert len(rows) >= 100
    assert rows == [_row(i) for i in range(len(rows))]


def test_python_datasource_batch_writer(spark, tmp_path):
    """The custom DataSource's batch writer: per-task temp files, one
    driver-side rename commit — reading the committed output back
    yields exactly the written rows, and no temp files survive."""
    from event_streaming_bnpl_demo_spark.sources.pydatasource import (
        SCHEMA as PYDS_SCHEMA, _row, register_datasource)

    register_datasource(spark)
    out = str(tmp_path / "out")
    (spark.read.format("bnpl_synthetic").option("rows", 500).load()
     .write.format("bnpl_synthetic").option("path", out)
     .mode("append").save())
    files = os.listdir(out)
    assert files and all(f.startswith("part-") for f in files)
    back = sorted(
        (r["event_id"], r["user_id"], r["event_type"], r["amount"])
        for r in spark.read.schema(PYDS_SCHEMA).json(out).collect())
    assert back == [_row(i) for i in range(500)]


def test_python_datasource_stream_writer(spark, tmp_path):
    """The custom DataSource's streaming writer commits one directory
    per epoch; the union of all epochs is an exact prefix of the
    generator (no loss, no duplication across micro-batches)."""
    from event_streaming_bnpl_demo_spark.sources.pydatasource import (
        SCHEMA as PYDS_SCHEMA, _row, register_datasource)

    register_datasource(spark)
    out = str(tmp_path / "out")
    q = (spark.readStream.format("bnpl_synthetic")
         .option("rowsPerBatch", 40).load()
         .writeStream.format("bnpl_synthetic").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(processingTime="0 seconds").start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            epochs = [d for d in os.listdir(out)
                      if d.startswith("epoch=")] if os.path.isdir(out) else []
            if len(epochs) >= 2:
                break
            time.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination()
    back = sorted(
        (r["event_id"], r["user_id"], r["event_type"], r["amount"])
        for r in spark.read.schema(PYDS_SCHEMA)
        .json(os.path.join(out, "epoch=*")).collect())
    assert len(back) >= 80
    assert back == [_row(i) for i in range(len(back))]


def test_two_hop_streaming_dag(spark, tmp_path):
    """The reference's multi-stage dataflow (derived events re-enter
    the stream, SURVEY §3.2) as an explicit two-hop streaming DAG: hop
    A's parquet sink is hop B's file-stream source, each hop
    independently checkpointed. The engine's default flattens the
    cascade into one micro-batch (BnplPipeline), but the faithful
    multi-query topology must also work — sinks are valid sources.

    Hop A: raw events -> typed parquet log.
    Hop B: log -> per-type running counts.
    """
    in_dir = str(tmp_path / "in")
    mid = str(tmp_path / "mid")        # hop A sink = hop B source
    rows = [
        {"event_id": i, "ts": f"2026-01-01T10:00:{i:02d}.000Z",
         "user_id": i % 3, "event_type": t, "value": float(i)}
        for i, t in enumerate(["view", "view", "purchase", "view",
                               "purchase", "refund"])
    ]
    write_jsonl(in_dir, "a.jsonl", rows)

    qa = (spark.readStream.schema(SCHEMA).json(in_dir)
          .writeStream.format("parquet")
          .option("path", mid)
          .option("checkpointLocation", str(tmp_path / "ck_a"))
          .trigger(availableNow=True).start())
    qa.awaitTermination()

    qb = (spark.readStream.schema(SCHEMA).parquet(mid)
          .groupBy("event_type")
          .agg(F.count(F.lit(1)).alias("n"))
          .writeStream.format("memory").queryName("hop_b")
          .outputMode("complete")
          .option("checkpointLocation", str(tmp_path / "ck_b"))
          .trigger(availableNow=True).start())
    qb.awaitTermination()

    got = {r["event_type"]: r["n"]
           for r in spark.sql("select * from hop_b").collect()}
    assert got == {"view": 3, "purchase": 2, "refund": 1}

    # late second wave: BOTH hops resume from their checkpoints and
    # the downstream aggregate sees exactly the new rows once
    write_jsonl(in_dir, "b.jsonl", [
        {"event_id": 9, "ts": "2026-01-01T10:01:00.000Z", "user_id": 0,
         "event_type": "view", "value": 9.0}])
    for name, fn in (("a2", lambda: spark.readStream.schema(SCHEMA)
                      .json(in_dir).writeStream.format("parquet")
                      .option("path", mid)
                      .option("checkpointLocation", str(tmp_path / "ck_a"))
                      .trigger(availableNow=True).start()),):
        q = fn(); q.awaitTermination()
    qb2 = (spark.readStream.schema(SCHEMA).parquet(mid)
           .groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n"))
           .writeStream.format("memory").queryName("hop_b2")
           .outputMode("complete")
           .option("checkpointLocation", str(tmp_path / "ck_b"))
           .trigger(availableNow=True).start())
    qb2.awaitTermination()
    got2 = {r["event_type"]: r["n"]
            for r in spark.sql("select * from hop_b2").collect()}
    assert got2 == {"view": 4, "purchase": 2, "refund": 1}


def _run_asof_stream(spark, tmp_path, batches: list[list[tuple]],
                     name: str):
    """Write each batch of (user_id, event_id, event_type, ts_us) rows
    as its own parquet file, with modification times in list order (the
    file source's batch order), and drain them through the production
    as-of topology (queries_stream.build_asof_stream). Returns the
    emitted update-mode table."""
    from event_streaming_bnpl_demo_spark.plans.queries_ext import \
        parquet_stream
    from event_streaming_bnpl_demo_spark.plans.queries_stream import \
        build_asof_stream

    in_dir = str(tmp_path / "in")
    cols = ["user_id", "event_id", "event_type", "ts_us"]
    now = time.time()
    for i, b in enumerate(batches):
        sub = f"{in_dir}/f{i}"
        spark.createDataFrame(b, cols).coalesce(1).write.parquet(sub)
        for f in os.listdir(sub):
            os.utime(os.path.join(sub, f), (now - 60 + i, now - 60 + i))
    events = parquet_stream(spark, in_dir + "/f*",
                            "user_id long, event_id long, "
                            "event_type string, ts_us long")
    q = (build_asof_stream(events)
         .writeStream.format("memory").queryName(name)
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name)


def _asof_fixpoint(emitted) -> dict:
    """Each purchase's highest-version emission:
    {purchase_id: (user_id, view_id, seconds_since_view)}."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("purchase_id").orderBy(F.desc("version"))
    return {r["purchase_id"]: (r["user_id"], r["view_id"],
                               r["seconds_since_view"])
            for r in (emitted.withColumn("rn", F.row_number().over(w))
                      .filter(F.col("rn") == 1).collect())}


def test_stream_asof_corrects_out_of_order_arrival(spark, tmp_path):
    """The stateful as-of operator's defining property: a view
    arriving a micro-batch AFTER its purchase retroactively upgrades
    the match. Batch 1 delivers the purchase (and an older view);
    batch 2 delivers a better (later, still-prior) view; the fixpoint
    must match the batch-2 view."""
    b1 = [(1, 100, "purchase", 1_000_000_000),
          (1, 10, "view", 100_000_000)]
    b2 = [(1, 20, "view", 900_000_000),    # later prior view -> must win
          (1, 30, "view", 2_000_000_000)]  # AFTER the purchase -> ignored
    emitted = _run_asof_stream(spark, tmp_path, [b1, b2], "sasof_ooo")

    assert emitted.count() >= 2, "expected one emission per batch"
    # 1000 s - 900 s, upgraded by batch 2
    assert _asof_fixpoint(emitted) == {100: (1, 20, 100)}
    # and the batch-1 emission really did carry the stale match
    first = emitted.orderBy("version").first()
    assert first["view_id"] == 10


def test_stream_asof_bucketed_ties_and_cobucket(spark, tmp_path):
    """Adversarial edges of the bucketed fold, the exact places a
    grouped merge_asof could diverge from the batch as-of join: (a) two
    views with IDENTICAL timestamps — the larger event_id must win (the
    oracle's ORDER BY ts DESC, event_id DESC); (b) a view at exactly the
    purchase timestamp — inclusive match; (c) two users in the SAME
    bucket (ids ≡ mod ASOF_BUCKETS) with interleaved timestamps — no
    cross-user leakage; (d) a view in a later batch retro-upgrading
    only the affected user's purchase while the co-bucketed user's
    match must NOT be re-emitted."""
    from event_streaming_bnpl_demo_spark.streaming.asof_state import \
        ASOF_BUCKETS

    u1, u2 = 7, 7 + ASOF_BUCKETS          # same bucket by construction
    b1 = [
        # (a) duplicate-ts views: ids 5 and 9 at ts=100 -> 9 must win
        (u1, 5, "view", 100), (u1, 9, "view", 100),
        # (b) purchase exactly AT the tie ts -> inclusive match to 9
        (u1, 100, "purchase", 100),
        # (c) co-bucketed user, interleaved ts
        (u2, 11, "view", 90), (u2, 200, "purchase", 150),
        # purchase before ANY view for u2's second purchase
        (u2, 201, "purchase", 50),
    ]
    b2 = [
        # (d) retro view for u2's early purchase; u1 untouched
        (u2, 12, "view", 40),
    ]
    emitted = _run_asof_stream(spark, tmp_path, [b1, b2], "sasof_ties")
    expected = {
        100: (u1, 9, 0),      # tie -> larger id, inclusive, 0 seconds
        200: (u2, 11, 0),     # 150us and 90us are the same second
        201: (u2, 12, 0),     # retro-matched by batch 2
    }
    assert _asof_fixpoint(emitted) == expected
    # (d) emit-on-change: batch 2 touches only purchase 201 — exactly
    # one emission may carry the final bucket version
    per_purchase = {r["purchase_id"]: r["cnt"] for r in
                    emitted.groupBy("purchase_id")
                    .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert per_purchase == {100: 1, 200: 1, 201: 2}, per_purchase


def test_stream_asof_bucketed_equals_batch_asof_randomized(spark, tmp_path):
    """Seeded randomized law: on 300 events over 12 users (four
    co-bucketed pairs), timestamps drawn from a tiny range so
    duplicate-ts ties are COMMON, scrambled into 3 arrival batches —
    the streaming fold's fixpoint must equal the batch
    ``operators.asof.asof_join(direction="backward")`` over the same
    rows, purchase for purchase (ties to the larger view id, as in
    ASOF_ORACLE). This is the fuzzing complement to the crafted-edge
    test above: ties, co-bucket interleave, and retro-correction all
    occur many times at random positions."""
    import random

    from event_streaming_bnpl_demo_spark.operators.asof import asof_join
    from event_streaming_bnpl_demo_spark.streaming.asof_state import \
        ASOF_BUCKETS

    rng = random.Random(42)
    users = [1, 2, 3, 4, 1 + ASOF_BUCKETS, 2 + ASOF_BUCKETS,
             3 + ASOF_BUCKETS, 4 + ASOF_BUCKETS,
             1 + 2 * ASOF_BUCKETS, 5, 6, 7]
    rows = []
    for eid in range(300):
        rows.append((rng.choice(users), eid,
                     "view" if rng.random() < 0.7 else "purchase",
                     rng.randrange(0, 40) * 1_000_000))  # heavy ts ties
    rng.shuffle(rows)
    emitted = _run_asof_stream(
        spark, tmp_path, [rows[0:100], rows[100:200], rows[200:300]],
        "sasof_rand")
    # the invariants the catalog's max_by readback relies on: max_by
    # skips a null version, and a repeated (purchase, version) would
    # make its pick arbitrary
    assert emitted.filter(F.col("version").isNull()).count() == 0
    assert (emitted.select("purchase_id", "version").distinct().count()
            == emitted.count())

    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts_us long")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts_us").alias("p_ts"))
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"),
        F.col("ts_us").alias("v_ts"))
    batch = asof_join(p, v, on="user_id", left_ts="p_ts", right_ts="v_ts",
                      right_cols=["view_id", "v_ts"], direction="backward")
    want = {r["purchase_id"]: (
                r["user_id"], r["view_id"],
                None if r["view_id"] is None
                else r["p_ts"] // 1_000_000 - r["v_ts"] // 1_000_000)
            for r in batch.collect()}
    n_purchases = sum(1 for r in rows if r[2] == "purchase")
    assert len(want) == n_purchases
    assert _asof_fixpoint(emitted) == want


def test_bucket_match_exact_above_2_53():
    """_bucket_match must keep ids/timestamps exact across the FULL
    int64 domain: merge_asof emits missing values for unmatched rows,
    and a float64 round-trip would silently round any value >= 2^53
    (e.g. snowflake-style event ids). Values here are chosen so the
    nearest float64 differs from the exact int."""
    import numpy as np

    from event_streaming_bnpl_demo_spark.streaming.asof_state import \
        _bucket_match

    big_id = (1 << 60) + 1          # not representable in float64
    big_ts = (1 << 57) + 3          # ditto
    u_v = np.array([7, 7], dtype=np.int64)
    v_ts = np.array([big_ts, 10], dtype=np.int64)
    v_id = np.array([big_id, 42], dtype=np.int64)
    # purchase 1: after big_ts -> matches the huge view exactly;
    # purchase 2 (user 8): no view -> -1/0 sentinel path still works
    u_p = np.array([7, 8], dtype=np.int64)
    p_ts = np.array([big_ts + 5, 100], dtype=np.int64)
    vid, vts = _bucket_match(u_v, v_ts, v_id, u_p, p_ts)
    assert vid.tolist() == [big_id, -1]
    assert vts.tolist() == [big_ts, 0]
    assert vid.dtype == np.int64 and vts.dtype == np.int64


def test_mv_stream_refresh_resumes_exactly_once(spark, tmp_path):
    """The streaming JOIN+AGG view refresh must be exactly-once across
    restarts: drain two input files, stop, add two more, construct a
    FRESH streaming query on the SAME checkpoint — the resumed query
    must process only the new files (no partial duplicated, none
    lost), and the folded view must equal the one-shot batch join+agg
    over all four files. This is the property that lets a 100 TB
    refresh loop crash mid-day and restart without rebuilding the
    view."""
    import os

    from pyspark.sql import functions as F

    from event_streaming_bnpl_demo_spark.sources import load_table

    from .conftest import SF_SMOKE

    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    dim = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_nationkey")
    in_dir = str(tmp_path / "in")
    work = str(tmp_path / "work")
    state_dir = f"{work}/state"
    parts = o.randomSplit([0.25, 0.25, 0.25, 0.25], seed=7)

    def write_file(i: int) -> None:
        parts[i].coalesce(1).write.mode("append").parquet(in_dir)

    from event_streaming_bnpl_demo_spark.plans.queries_ext import (
        drain_partials, parquet_stream)
    from event_streaming_bnpl_demo_spark.plans.queries_mv import \
        nation_fold_batch

    def drain():
        # the production drain and fold of mv_stream_join_agg, on a
        # checkpoint that survives between calls
        return drain_partials(
            parquet_stream(spark, in_dir, o.schema), work,
            lambda batch: {"state": nation_fold_batch(batch, dim)})["state"]

    write_file(0); write_file(1)
    drain()
    n_batches_first = len(os.listdir(state_dir))
    write_file(2); write_file(3)
    partials = drain()           # fresh query, same checkpoint
    batches = sorted(os.listdir(state_dir))
    # resumed query continued the batch-id sequence: only NEW partials
    # were added, none of the first run's were reprocessed/overwritten
    assert len(batches) == n_batches_first + 2, batches

    folded = (partials.groupBy("c_nationkey")
              .agg(F.sum("pn").alias("n_orders"),
                   F.sum("psum").alias("rev")))
    batch = (o.join(F.broadcast(dim), o.o_custkey == dim.c_custkey)
             .groupBy("c_nationkey")
             .agg(F.count(F.lit(1)).alias("n_orders"),
                  F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
                  .alias("rev")))
    got = {r["c_nationkey"]: (r["n_orders"], r["rev"])
           for r in folded.collect()}
    want = {r["c_nationkey"]: (r["n_orders"], r["rev"])
            for r in batch.collect()}
    assert got == want


def test_memory_sink_views_leave_nothing_in_the_temp_dir(spark):
    """Every memory-sink view drains on Spark's temporary checkpoint,
    which Spark deletes when the availableNow query ends cleanly: a
    call leaves no checkpoint dir behind. Each view runs once first, so
    its staged input and the JVM's one-off temp files exist before the
    listing the second call is checked against."""
    import tempfile

    from event_streaming_bnpl_demo_spark.plans import all_queries

    from .conftest import SF_SMOKE

    tmp = tempfile.gettempdir()
    queries = all_queries()
    for name in ("stream_scd2_enrich", "stream_asof_join",
                 "stream_static_join", "stream_interval_join",
                 "stream_interval_join_outer", "stream_dedup_watermark",
                 "source_stream_replay", "source_rate_demo"):
        fn = queries[name].fn
        fn(spark, SF_SMOKE).collect()
        before = set(os.listdir(tmp))
        assert fn(spark, SF_SMOKE).collect(), name
        assert set(os.listdir(tmp)) - before == set(), name


def test_partials_view_redrain_reads_no_new_rows(spark):
    """A foreachBatch partials view keeps one content-keyed work dir:
    a second call resumes the drained checkpoint, folds zero input
    rows, makes no new dir and returns the same rows."""
    import tempfile

    from pyspark.sql.streaming import StreamingQueryListener

    from event_streaming_bnpl_demo_spark.plans.queries_ext import (
        _scratch, source_fingerprint)
    from event_streaming_bnpl_demo_spark.plans.queries_ts import \
        stream_ts_rollup

    from .conftest import SF_SMOKE

    class InputRows(StreamingQueryListener):
        def __init__(self):
            self.rows = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.rows.append(event.progress.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    bus = spark.sparkContext._jsc.sc().listenerBus()
    work = _scratch(f"tsroll_{source_fingerprint(SF_SMOKE)}")
    first = sorted(stream_ts_rollup(spark, SF_SMOKE).collect())
    assert os.path.isdir(work)

    after_first = set(os.listdir(tempfile.gettempdir()))
    bus.waitUntilEmpty()
    listener = InputRows()
    spark.streams.addListener(listener)
    try:
        again = sorted(stream_ts_rollup(spark, SF_SMOKE).collect())
        bus.waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert again == first
    assert sum(listener.rows) == 0, listener.rows
    assert set(os.listdir(tempfile.gettempdir())) == after_first


def test_dynamic_gap_session_stream_matches_batch(spark, tmp_path):
    """Dynamic-gap session windows under readStream equal the batch
    groupBy on the same data — and the per-event gap actually changes
    the sessionization: a click (10 min gap) 15 minutes after a click
    starts a NEW session, while a purchase (30 min gap) 15 minutes
    after a purchase extends the session."""
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    rows = [
        # user 0: clicks 15 min apart -> two sessions (gap 10 min)
        {"event_id": 1, "ts": "2024-01-01T10:00:00Z", "user_id": 0,
         "event_type": "click", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T10:15:00Z", "user_id": 0,
         "event_type": "click", "value": 1.0},
        # user 1: purchases 15 min apart -> one session (gap 30 min)
        {"event_id": 3, "ts": "2024-01-01T10:00:00Z", "user_id": 1,
         "event_type": "purchase", "value": 1.0},
        {"event_id": 4, "ts": "2024-01-01T10:15:00Z", "user_id": 1,
         "event_type": "purchase", "value": 1.0},
        # watermark pusher so the sessions above close in append mode
        {"event_id": 5, "ts": "2024-01-01T13:00:00Z", "user_id": 9,
         "event_type": "click", "value": 0.0},
    ]
    write_jsonl(in_dir, "a.jsonl", rows)
    gap = (F.when(F.col("event_type").isin("view", "click"), "10 minutes")
           .otherwise("30 minutes"))

    def agg(df):
        return (df.groupBy(F.session_window("ts", gap).alias("w"),
                           "user_id")
                .agg(F.count("*").alias("n")))

    _run_stream(spark, in_dir, ckpt,
                lambda s: agg(s.withWatermark("ts", "0 seconds")),
                "dyn_session_stream")
    streamed = {(r["user_id"], str(r["w"]["start"])): r["n"]
                for r in spark.sql(
                    "select * from dyn_session_stream").collect()}
    batch = {(r["user_id"], str(r["w"]["start"])): r["n"]
             for r in agg(spark.read.schema(SCHEMA).json(in_dir)).collect()}
    # the gap semantics: user 0 split into two 1-event sessions,
    # user 1 merged into one 2-event session
    u0 = [n for (u, _), n in batch.items() if u == 0]
    u1 = [n for (u, _), n in batch.items() if u == 1]
    assert sorted(u0) == [1, 1], f"clicks should split: {batch}"
    assert u1 == [2], f"purchases should merge: {batch}"
    # closed streamed sessions match batch exactly
    assert streamed
    for k, v in streamed.items():
        assert batch[k] == v


def test_kafka_source_contract_no_broker(spark, tmp_path):
    """SURVEY §2.2 'Kafka source' regression guard (no broker in this
    environment): pins (a) the constructed reader options — earliest
    offsets + checkpoint is what fixes the reference's Latest-iterator
    restart loss (consumer/consumer.go:64), maxOffsetsPerTrigger is the
    backpressure bound it lacked (consumer/consumer.go:76-78) — and
    (b) that the Kafka post-load stage produces a post-parse schema
    byte-identical to the tested file path's, by feeding it a batch
    DataFrame with Kafka's wire schema. If the Kafka branch ever drifts
    from the file branch (different parse, dropped column, changed
    nullability), this fails without needing a broker."""
    from pyspark.sql import functions as F

    from event_streaming_bnpl_demo_spark.sources.events import (
        kafka_records_to_envelope, kafka_source_options, read_event_batch)

    # (a) reader options contract
    opts = kafka_source_options("broker1:9092,broker2:9092", "bnpl-events")
    assert opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "bnpl-events",
        "startingOffsets": "earliest",
    }
    opts = kafka_source_options("b:9092", "t", starting_offsets="latest",
                                max_offsets_per_trigger=5000)
    assert opts["startingOffsets"] == "latest"
    # string-serialized, as the DataStreamReader option API requires
    assert opts["maxOffsetsPerTrigger"] == "5000"

    # (b) schema handoff: Kafka wire records -> envelope must be
    # byte-identical to the file path's post-parse schema
    payload = json.dumps({
        "event_type": "PurchaseCompletedEvent", "order_id": "o-77",
        "user_id": "u-9", "amount": 1500,
        "ingest_ts": "2026-01-01T00:00:00.000Z"})
    wire = spark.createDataFrame(
        [("k1".encode(), payload.encode(), "bnpl-events", 0, 42)],
        "key binary, value binary, topic string, partition int, offset long",
    ).withColumn("timestamp", F.current_timestamp()) \
     .withColumn("timestampType", F.lit(0))
    via_kafka = kafka_records_to_envelope(wire)

    log = tmp_path / "events.jsonl"
    log.write_text(payload + "\n")
    via_file = read_event_batch(spark, str(log))

    assert via_kafka.schema == via_file.schema, (
        f"kafka branch drifted from file branch:\n"
        f"kafka: {via_kafka.schema}\nfile:  {via_file.schema}")
    krow = via_kafka.select("event_type", "order_id", "user_id",
                            "amount").first()
    frow = via_file.select("event_type", "order_id", "user_id",
                           "amount").first()
    assert krow == frow


def test_asof_maxby_readback_equals_window_readback(spark):
    """r13: stream_asof_join's fixpoint read switched from a
    row_number()-over-(version DESC) window to a max_by hash aggregate
    (guide §2.3 — the partial aggregate collapses superseded emissions
    before the exchange instead of sorting them). Equivalence rests on
    (purchase_id, version) being unique in the emitted table — a
    purchase lives in one bucket and a bucket emits it at most once
    per micro-batch — which the operator guarantees. This pins the two
    readbacks equal on an adversarial emitted table: superseded
    matches, a match that degrades to null, a null that upgrades to a
    match, never-emitted-again rows, and a null-match fixpoint."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    rows = [
        # (user_id, purchase_id, view_id, seconds_since_view, version)
        (1, 100, 10, 50, 1),      # superseded at v3
        (1, 100, 20, 5, 3),       # fixpoint: view 20
        (2, 200, None, None, 1),  # null -> upgraded at v2
        (2, 200, 30, 7, 2),
        (3, 300, 40, 9, 2),       # match -> still the fixpoint
        (4, 400, None, None, 5),  # null fixpoint: must be DROPPED
        (5, 500, 50, 1, 1),       # emitted once, never revised
    ]
    emitted = spark.createDataFrame(
        rows, "user_id long, purchase_id long, view_id long, "
              "seconds_since_view long, version long")

    w = Window.partitionBy("purchase_id").orderBy(F.desc("version"))
    old = (emitted.withColumn("rn", F.row_number().over(w))
           .filter((F.col("rn") == 1) & F.col("view_id").isNotNull())
           .select("purchase_id", "user_id", "view_id",
                   "seconds_since_view"))
    latest = (emitted.groupBy("purchase_id")
              .agg(F.max_by(F.struct("user_id", "view_id",
                                     "seconds_since_view"),
                            F.col("version")).alias("m")))
    new = (latest.filter(F.col("m.view_id").isNotNull())
           .select("purchase_id", F.col("m.user_id").alias("user_id"),
                   F.col("m.view_id").alias("view_id"),
                   F.col("m.seconds_since_view")
                   .alias("seconds_since_view")))
    assert sorted(map(tuple, old.collect())) == \
        sorted(map(tuple, new.collect()))
    got = {r["purchase_id"]: r["view_id"] for r in new.collect()}
    assert got == {100: 20, 200: 30, 300: 40, 500: 50}
