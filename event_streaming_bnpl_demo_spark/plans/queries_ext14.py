"""Ext14 pack: bloom file-skipping, experimentation analytics,
distribution distance, and the stream-stream interval join promoted to
a driver-checkable query — four oracled queries.

- ``lake_bloom_point_lookup`` — point lookup over a lake table through
  a per-file BLOOM manifest: min/max zone maps (lake_cluster_prune_scan)
  cannot skip files for a high-cardinality key that every file's range
  covers; a per-file bloom sidecar can. No false negatives by
  construction, so the pruned read equals the full filter — which IS
  the oracle; the pruning effectiveness is pinned separately in
  tests/test_ext14_semantics.py.
- ``stat_cuped_adjustment`` — CUPED variance reduction (the standard
  experimentation-analytics adjustment): per-arm post-period means
  adjusted by theta * (pre-period deviation), theta = cov(pre, post) /
  var(pre) from exact integer moments.
- ``llm_hellinger_sources`` — squared Hellinger distance between two
  sources' unigram distributions: H^2 = 1 - sum(sqrt(p_i * q_i)).
  Chosen over KL/JS divergence deliberately — sqrt is a correctly-
  rounded IEEE op so the statistic hash-checks exactly, while log is
  not and would force tolerances (the BM25-rational-idf doctrine).
- ``stream_interval_join`` — watermarked stream-stream interval join
  (purchases within 1 h after each view, per user) running as four
  unordered micro-batches; previously covered only by a semantic
  pytest, now a catalog query whose oracle is the BATCH interval join
  over the same log — arrival order must not matter.

Reference parity note: the stream-stream join fixes the reference's
hard-coded-amount data loss (consumer/consumer.go:195-198) — the
purchase→promise cascade could not carry fields across events; a
watermarked join can. The rest is the beyond-reference extension tier
(SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .catalog import register
from .queries_ext7 import _CENTS

_O_CENTS = _CENTS.format(col="o_totalprice")

# ---------------------------------------------------------------------------
# Bloom index: built and probed by operators/laketable.py (build_bloom /
# bloom_candidates / read_point) — K=2 hash rows x M=4096 buckets per
# file, packed hex bitmaps in the manifest, md5-bucket arithmetic shared
# with the count-min idiom.
# ---------------------------------------------------------------------------

_BLOOM_PROBE_KEY = 421  # an o_orderkey; exists at every SF (>=1500 orders)


@register(
    "lake_bloom_point_lookup",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           strftime(o_orderdate, '%Y-%m-%d') AS odate,
           CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents
    FROM orders
    WHERE o_orderkey = {_BLOOM_PROBE_KEY}
    """,
    tags=("lake", "bloom", "pruning"),
)
def lake_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Needle-in-haystack point lookup (one order by key) over a
    date-clustered lake table via a per-file BLOOM manifest: each file
    carries the set of (hash-row, bucket) bits its order keys
    populate, and the lookup reads ONLY files whose bloom contains
    both probe bits. Zone maps can't skip here — the table is
    clustered by DATE and order keys are uncorrelated with date, so
    every file's orderkey min/max straddles the probe — exactly the gap
    blooms close (the file-level analog of join_bloom_reduced's
    scan-side filter). Blooms have no false negatives, so the pruned
    read provably equals the full filter — the oracle is that full
    filter; pruning effectiveness (some files skipped at every SF) is
    pinned in tests/test_ext14_semantics.py.

    Scale: the bloom index is a first-class LakeTable maintenance
    commit (``operators/laketable.py:build_bloom`` — one grouped pass
    per version, bounded by k*m bits per file regardless of rows,
    unit-tested for no-false-negatives and actual skipping in
    tests/test_lake.py); a lookup consults the manifest bitmaps
    driver-side — the same KB-sized metadata an Iceberg/Delta planner
    ships — and opens only surviving files.
    """
    from ..operators.laketable import LakeTable  # noqa: F401 (doc link)
    from .queries_lake import _staged_table

    o = load_table(spark, sf_dir, "orders")

    def build(t) -> None:
        # cluster by DATE into 8 files -> every file's orderkey
        # min/max straddles any probe key (zone maps useless); then
        # commit the bloom index over the orderkey
        t.create(o, n_files=8)
        t.cluster(["o_orderdate"], n_files=8)
        t.build_bloom("o_orderkey")

    t = _staged_table(spark, sf_dir, "bloomidx_v1", build,
                      stat_cols=("o_orderdate",))
    return (t.read_point("o_orderkey", _BLOOM_PROBE_KEY)
            .selectExpr("o_orderkey", "o_custkey",
                        "date_format(o_orderdate, 'yyyy-MM-dd') AS odate",
                        f"{_O_CENTS} AS total_cents"))


@register(
    "stat_cuped_adjustment",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                           THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                           THEN 1 ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    moms AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM per_user
    ),
    arms AS (
      SELECT user_id % 4 AS arm,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(y) AS BIGINT) AS asy, CAST(SUM(x) AS BIGINT) AS asx
      FROM per_user GROUP BY user_id % 4
    )
    SELECT a.arm, a.n_users,
           CAST(a.asy AS DOUBLE) / CAST(a.n_users AS DOUBLE) AS raw_mean,
           CAST(a.asy AS DOUBLE) / CAST(a.n_users AS DOUBLE)
             - (CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
                / CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE))
               * (CAST(a.asx AS DOUBLE) / CAST(a.n_users AS DOUBLE)
                  - CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))
             AS cuped_mean
    FROM arms a CROSS JOIN moms m
    ORDER BY a.arm
    """,
    tags=("agg", "stats", "experimentation"),
)
def stat_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for experiment readouts: each user's
    post-period activity (Jan 16-30 event count) adjusted by their
    pre-period activity (Jan 1-15) — adjusted arm mean =
    raw_mean - theta * (arm pre-mean - global pre-mean) with theta =
    cov(pre, post) / var(pre). The standard trick that cuts experiment
    confidence intervals 30-50% when pre-period behavior predicts
    post-period. Arms are a deterministic user_id % 4 split (stand-in
    for real assignment). theta and every mean are exact-integer-
    moment ratios — the only floating point is the final composition,
    written identically on both sides.

    Scale: one pass to per-user (pre, post) pairs (map-side combined),
    then a global 5-sum moment aggregate and a 4-row per-arm
    aggregate, both over |users| rows; the 1-row moments broadcast
    into the arm readout. Adding covariates = more integer sums in the
    same pass.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.groupBy("user_id")
                .agg(F.sum(F.when(F.to_date("ts")
                                  < F.lit("2024-01-16").cast("date"), 1)
                           .otherwise(0)).cast("bigint").alias("x"),
                     F.sum(F.when(F.to_date("ts")
                                  >= F.lit("2024-01-16").cast("date"), 1)
                           .otherwise(0)).cast("bigint").alias("y"))
                .localCheckpoint(eager=True))
    moms = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"))
    arms = (per_user.groupBy((F.col("user_id") % 4).alias("arm"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"),
                 F.sum("y").cast("bigint").alias("asy"),
                 F.sum("x").cast("bigint").alias("asx")))
    return (arms.crossJoin(F.broadcast(moms))
            .selectExpr(
                "arm", "n_users",
                "CAST(asy AS DOUBLE) / CAST(n_users AS DOUBLE) AS raw_mean",
                "CAST(asy AS DOUBLE) / CAST(n_users AS DOUBLE)"
                " - (CAST(n * sxy - sx * sy AS DOUBLE)"
                "    / CAST(n * sxx - sx * sx AS DOUBLE))"
                "   * (CAST(asx AS DOUBLE) / CAST(n_users AS DOUBLE)"
                "      - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
                " AS cuped_mean")
            .orderBy("arm"))


_HELL_A, _HELL_B = "src0", "src1"


@register(
    "llm_hellinger_sources",
    oracle=f"""
    WITH tok AS (
      SELECT source, UNNEST(string_split(lower(text), ' ')) AS t
      FROM documents WHERE source IN ('{_HELL_A}', '{_HELL_B}')
    ),
    counts AS (
      SELECT t,
             CAST(SUM(CASE WHEN source = '{_HELL_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN source = '{_HELL_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
      FROM tok WHERE t <> '' GROUP BY t
    ),
    tot AS (
      SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
      FROM counts
    ),
    terms AS (
      SELECT CAST(FLOOR(
               sqrt((CAST(c.ca AS DOUBLE) / CAST(t.na AS DOUBLE))
                    * (CAST(c.cb AS DOUBLE) / CAST(t.nb AS DOUBLE)))
               * 1000000000000000.0 + 0.5) AS BIGINT) AS sq
      FROM counts c CROSS JOIN tot t
    )
    SELECT 1.0 - CAST(SUM(sq) AS DOUBLE) / 1000000000000000.0
             AS hellinger_sq,
           CAST(COUNT(*) AS BIGINT) AS n_shared_vocab
    FROM terms WHERE sq > 0
    """,
    tags=("llm", "stats", "distance"),
)
def llm_hellinger_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Squared Hellinger distance between the unigram distributions of
    two document sources (0 = identical corpora, 1 = disjoint
    vocabularies): H^2 = 1 - sum_i sqrt(p_i * q_i). The distribution-
    shift metric a data-mixing pipeline monitors per source. Hellinger
    is chosen over KL/JS deliberately: sqrt is a correctly-rounded
    IEEE-754 operation, so with exact-integer count ratios the whole
    statistic hash-checks bit-exactly — log is not correctly rounded
    across libms and would force a tolerance (the same reason tf-idf
    uses a rational idf; see DESIGN.md determinism doctrine). Terms
    are accumulated as INTEGER femto-units (floor(s*1e15 + 0.5) —
    double multiply + floor are single correctly-rounded ops) and the
    exact bigint sum closes to a double once: the double->decimal cast
    is avoided entirely, because Spark's shortest-string decimal cast
    diverges from DuckDB's exact-binary cast (the agg_hhi finding, in
    the small-magnitude regime).

    Scale: explode -> one map-side-combined conditional count per
    token -> a scalar total broadcast -> one sum over |shared vocab|
    rows. Token traffic is the only real shuffle and it's bounded by
    vocabulary, not corpus size.
    """
    d = (load_table(spark, sf_dir, "documents")
         .filter(F.col("source").isin(_HELL_A, _HELL_B)))
    tok = d.select("source",
                   F.explode(F.split(F.lower("text"), " ")).alias("t"))
    counts = (tok.filter(F.col("t") != "")
              .groupBy("t")
              .agg(F.sum(F.when(F.col("source") == _HELL_A, 1)
                         .otherwise(0)).cast("bigint").alias("ca"),
                   F.sum(F.when(F.col("source") == _HELL_B, 1)
                         .otherwise(0)).cast("bigint").alias("cb"))
              .localCheckpoint(eager=True))
    tot = counts.agg(F.sum("ca").cast("bigint").alias("na"),
                     F.sum("cb").cast("bigint").alias("nb"))
    terms = (counts.crossJoin(F.broadcast(tot))
             .selectExpr(
                 "CAST(FLOOR(sqrt((CAST(ca AS DOUBLE)"
                 " / CAST(na AS DOUBLE))"
                 " * (CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)))"
                 " * 1000000000000000.0 + 0.5) AS BIGINT) AS sq"))
    return (terms.filter(F.col("sq") > 0)
            .selectExpr(
                "1.0 - CAST(SUM(sq) AS DOUBLE) / 1000000000000000.0"
                " AS hellinger_sq",
                "CAST(COUNT(*) AS BIGINT) AS n_shared_vocab"))


@register(
    "stream_interval_join",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS p_id, v.user_id,
           CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS secs_after
    FROM events v JOIN events p
      ON p.user_id = v.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    ORDER BY view_id, p_id
    """,
    tags=("stream", "join", "interval", "stateful"),
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING stream-stream interval join: purchases within one
    hour AFTER each view, per user, with the event log arriving as
    four unordered micro-batches — a purchase can land batches before
    its view and the pair still emits, because both sides buffer in
    the state store until the watermark passes. The oracle is the
    BATCH interval join over the same log: arrival order must not
    change the answer. This is the join that fixes the reference's
    field-loss bug (consumer/consumer.go:195-198 hard-codes amount
    3500 because its cascade cannot carry fields between events).
    Previously covered only by tests/test_streaming_semantics.py;
    promoted to a driver-checkable catalog query.

    Scale: one state-store shuffle keyed by user per micro-batch; the
    time bound plus watermarks let Spark EVICT buffered rows once no
    future match is possible, so state is bounded by the interval
    width x arrival rate, not by history (availableNow + generous
    watermark here keeps the run exact; production tightens the
    watermark to its lateness SLO).
    """
    import uuid as _uuid

    from ..operators.interval import interval_join
    from .queries_ext import _scratch, staged_parquet

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase"))
    in_dir = staged_parquet(
        ev.select("event_id", "user_id", "event_type",
                  F.col("ts").cast("timestamp").alias("ts")),
        "sivj", sf_dir, 4)
    name = f"sivj_{_uuid.uuid4().hex[:8]}"
    work = _scratch(f"sivj_{_uuid.uuid4().hex[:8]}")
    stream = (spark.readStream
              .schema("event_id bigint, user_id bigint, "
                      "event_type string, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    views = (stream.filter(F.col("event_type") == "view")
             .select("user_id", F.col("event_id").alias("view_id"),
                     F.col("ts").alias("v_ts"))
             .withWatermark("v_ts", "90 days"))
    purch = (stream.filter(F.col("event_type") == "purchase")
             .select(F.col("user_id").alias("p_user"),
                     F.col("event_id").alias("p_id"),
                     F.col("ts").alias("p_ts")))
    purch = (purch.withColumnRenamed("p_user", "user_id")
             .withWatermark("p_ts", "90 days"))
    from ..session import scoped_conf

    # fresh-checkpoint stateful query: size the state store for the
    # keyspace, not the batch default (session.scoped_conf)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        joined = interval_join(views, purch, "user_id", "v_ts", "p_ts",
                               "1 HOUR")
        q = (joined.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", f"{work}/ck")
             .trigger(availableNow=True).start())
        q.awaitTermination()
    return (spark.table(name)
            .selectExpr("view_id", "p_id", "user_id",
                        "CAST(unix_seconds(p_ts) - unix_seconds(v_ts)"
                        " AS BIGINT) AS secs_after")
            .orderBy("view_id", "p_id"))


@register(
    "stream_interval_join_outer",
    oracle="""
    SELECT v.event_id AS view_id, v.user_id,
           p.event_id AS p_id,
           CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS secs_after
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = v.user_id
     AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    ORDER BY view_id, p_id
    """,
    tags=("stream", "join", "interval", "outer", "stateful"),
)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER interval join: every view
    emits — matched within the hour, or null-extended once the
    watermark proves no purchase can still arrive. Outer results only
    exist because state CLOSES: the engine must prove absence, which
    pure stream replay can't do without watermark progress. Two
    ingredients make the availableNow run exact against the batch
    oracle (the argument, checkable: with files range-partitioned by
    TIME and watermark delay >= the join interval, no legitimate row
    is ever late — batch i+1's min ts >= batch i's max ts >= the
    post-batch-i watermark + delay — and every buffered view outlives
    any purchase that could still match it):

    - the staged files are TIME-ORDERED (repartitionByRange on ts,
      mtimes pinned ascending so the file source replays them in
      order) — unlike stream_interval_join's deliberately scrambled
      shards, because outer emission NEEDS a moving watermark, and a
      moving watermark plus unordered arrival would drop legitimate
      rows;
    - a sentinel view+purchase pair (user_id -1, one day past the log)
      rides in a final file to push the watermark past every real
      view's join bound, so the last hour's unmatched views emit too;
      sentinels are filtered AFTER the memory sink (a filter inside
      the streaming query would push below the watermark operator and
      stall it).

    Scale: same state-store posture as stream_interval_join, PLUS the
    eviction guarantee actually exercised — state is bounded by
    interval width x arrival rate even on an unbounded stream, which
    is the whole reason outer stream joins are usable at 100 TB/day.
    """
    import os
    import uuid as _uuid

    from ..operators.interval import interval_join
    from .queries_ext import _scratch, source_fingerprint, stage_once

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase"))

    def write_fn(tmp: str) -> None:
        base = (ev.select("event_id", "user_id", "event_type",
                          F.col("ts").cast("timestamp").alias("ts")))
        (base.repartitionByRange(4, "ts")
         .write.mode("overwrite").parquet(os.path.join(tmp, "d")))
        hi = base.agg(F.max("ts").alias("m")).collect()[0]["m"]
        sent = spark.createDataFrame(
            [(-1, -1, "view"), (-2, -1, "purchase")],
            "event_id bigint, user_id bigint, event_type string"
        ).select("event_id", "user_id", "event_type",
                 (F.lit(hi) + F.expr("INTERVAL 1 DAY")).alias("ts"))
        sent.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmp, "s"))
        # one flat dir, mtimes ascending in time order; the file
        # source admits oldest-mtime first (maxFilesPerTrigger=1)
        import shutil
        import time as _time
        out = os.path.join(tmp, "in")
        os.makedirs(out)
        parts = sorted(os.listdir(os.path.join(tmp, "d")))
        parts = [p for p in parts if p.endswith(".parquet")]
        t0 = _time.time() - 600
        for i, p in enumerate(parts):
            dst = os.path.join(out, f"{i:02d}.parquet")
            shutil.copy(os.path.join(tmp, "d", p), dst)
            os.utime(dst, (t0 + i * 10, t0 + i * 10))
        sp = [p for p in os.listdir(os.path.join(tmp, "s"))
              if p.endswith(".parquet")][0]
        dst = os.path.join(out, "99.parquet")
        shutil.copy(os.path.join(tmp, "s", sp), dst)
        os.utime(dst, (t0 + 500, t0 + 500))
        shutil.rmtree(os.path.join(tmp, "d"))
        shutil.rmtree(os.path.join(tmp, "s"))

    root = stage_once(f"sivjo_{source_fingerprint(sf_dir)}", write_fn)
    in_dir = os.path.join(root, "in")
    name = f"sivjo_{_uuid.uuid4().hex[:8]}"
    work = _scratch(f"sivjo_{_uuid.uuid4().hex[:8]}")
    stream = (spark.readStream
              .schema("event_id bigint, user_id bigint, "
                      "event_type string, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    views = (stream.filter(F.col("event_type") == "view")
             .select("user_id", F.col("event_id").alias("view_id"),
                     F.col("ts").alias("v_ts"))
             .withWatermark("v_ts", "2 hours"))
    purch = (stream.filter(F.col("event_type") == "purchase")
             .select(F.col("user_id").alias("p_user"),
                     F.col("event_id").alias("p_id"),
                     F.col("ts").alias("p_ts")))
    purch = (purch.withColumnRenamed("p_user", "user_id")
             .withWatermark("p_ts", "2 hours"))
    from ..session import scoped_conf

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        joined = interval_join(views, purch, "user_id", "v_ts", "p_ts",
                               "1 HOUR", how="left_outer")
        q = (joined.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", f"{work}/ck")
             .trigger(availableNow=True).start())
        q.awaitTermination()
    return (spark.table(name)
            .filter(F.col("user_id") >= 0)      # drop the sentinel pair
            .selectExpr("view_id", "user_id", "p_id",
                        "CAST(unix_seconds(p_ts) - unix_seconds(v_ts)"
                        " AS BIGINT) AS secs_after")
            .orderBy("view_id", "p_id"))
