"""Third operator batch: TPC-H Q3 headline, correlated EXISTS,
union-by-name with missing columns, MapType ops, the composed
LSH-recall + exact-verify dedup pipeline, and a rate-source demo.
"""

from __future__ import annotations

import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table, maybe_broadcast, register_views
from .catalog import all_queries, register
from .sqlcompat import dsum_sql


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "sort", "flagship"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: filtered 3-way join, grouped revenue, top-10.

    Scale: both join-side filters push to the scans (segment on
    customer, date ranges on orders/lineitem); filtered customer
    broadcasts; orders takes a stats-based broadcast hint
    (sources.maybe_broadcast: hinted only while its measured size fits,
    so at 100 TB the join falls back to one shuffle on orderkey);
    final top-10 is TakeOrdered, not a global sort.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING")
    o = maybe_broadcast(
        load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")),
        sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.expr(dsum_sql("l_extendedprice * (1 - l_discount)", 4))
             .alias("revenue"))
        .select("l_orderkey", "revenue",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
                "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {dsum_sql('l_extendedprice * l_discount', 4)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("agg", "filter", "flagship"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped: pure scan-filter-aggregate, zero shuffle beyond
    the final single-row reduce — the query whose entire cost is the
    scan, so pushdown is everything. All four predicates reach the
    parquet reader (PushedFilters); only 4 of 11 columns are read."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24))
        .agg(F.expr(dsum_sql("l_extendedprice * l_discount", 4))
             .alias("revenue"))
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("join", "agg", "sort", "flagship"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped (adapted to the slimmed schema): top-20
    customers by returned-item revenue in a quarter.

    Scale: the quarter filter prunes orders at the scan; lineitem's
    returnflag filter prunes before the orderkey shuffle; nation (25
    rows) broadcasts and orders/customer take stats-based hints
    (shuffled joins again once measured size outgrows the threshold);
    the top-20 is TakeOrdered (per-partition heaps + driver merge),
    never a global sort."""
    c = maybe_broadcast(load_table(spark, sf_dir, "customer"),
                        sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = maybe_broadcast(
        load_table(spark, sf_dir, "orders").filter(
            (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))),
        sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.expr(dsum_sql("l_extendedprice * (1 - l_discount)", 4))
             .alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_EXISTS_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE c_acctbal > 0
  AND EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 150000)
"""


@register("subquery_exists", oracle=_EXISTS_SQL,
          tags=("filter", "subquery", "sql-api"))
def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS through the SQL entry path (identical text both
    engines); Catalyst rewrites it to the same left-semi join the
    DataFrame twin (join_semi) declares directly."""
    register_views(spark, sf_dir)
    return spark.sql(_EXISTS_SQL)


@register(
    "set_union_byname",
    oracle="""
    SELECT entity_id, kind, amount, segment FROM (
      SELECT c_custkey AS entity_id, 'customer' AS kind,
             c_acctbal AS amount, c_mktsegment AS segment
      FROM customer
      UNION ALL BY NAME
      SELECT s_suppkey AS entity_id, s_acctbal AS amount, 'supplier' AS kind
      FROM supplier
    ) t
    """,
    tags=("setop",),
)
def set_union_byname(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName with allowMissingColumns: two differently-shaped
    entity tables aligned by column name, absent columns NULL — the
    schema-evolution-tolerant union a long-lived event log needs."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_id"),
        F.lit("customer").alias("kind"),
        F.col("c_acctbal").alias("amount"),
        F.col("c_mktsegment").alias("segment"))
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_id"),
        F.col("s_acctbal").alias("amount"),
        F.lit("supplier").alias("kind"))
    return c.unionByName(s, allowMissingColumns=True)


@register(
    "map_ops",
    oracle="""
    SELECT event_id,
           CAST(props->>'$.k' AS BIGINT) AS k_value,
           'k' AS first_key,
           CAST(1 AS INT) AS n_keys
    FROM events WHERE event_type = 'error'
    """,
    tags=("scalar", "map"),
)
def map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: props parsed with from_json into
    map<string,bigint>, then element_at / map_keys / size — the dynamic
    key-value shape for sparse event properties (vs the fixed-envelope
    StructType path in sources.events)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "error")
    m = F.from_json("props", "map<string,bigint>")
    return ev.select(
        "event_id",
        F.element_at(m, "k").alias("k_value"),
        F.element_at(F.map_keys(m), 1).alias("first_key"),
        F.size(m).cast("int").alias("n_keys"),
    )


def _verified_oracle() -> str:
    qs = all_queries()
    minhash = qs["llm_dedup_minhash"].oracle
    jaccard = qs["llm_dedup_ngram_jaccard_exact"].oracle
    return f"""
    WITH cand AS ({minhash}), jac AS ({jaccard})
    SELECT cand.doc_a AS doc_a, cand.doc_b AS doc_b, jac.jaccard AS jaccard
    FROM cand JOIN jac ON cand.doc_a = jac.doc_a AND cand.doc_b = jac.doc_b
    """


@register("llm_dedup_verified", oracle=_verified_oracle(),
          tags=("llm", "dedup", "lsh"))
def llm_dedup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup pipeline composed end-to-end: MinHash-LSH
    candidates (high recall, ~linear) verified by exact shingle-Jaccard
    (precision) — and, unlike the oracle's all-pairs jac CTE, only
    candidate pairs ever reach the exact computation: the per-doc
    shingle sets are collected once from the SAME checkpointed shingle
    table the signatures came from and joined onto the (tiny) candidate
    list, so the corpus is tokenized/shingled exactly once and no
    non-candidate pair is ever compared. This is the two-stage shape
    every 100 TB dedup run uses.
    """
    from ..functions.text import shingles_col, tokens_col
    from ..sources import spread
    from .queries_llm import minhash_pairs

    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks_df = d.select("doc_id", F.expr(tokens_col("text")).alias("toks"))
    sh = (toks_df.select("doc_id", F.explode(
            F.array_distinct(F.expr(shingles_col("toks", "spark"))))
          .alias("s"))
          .localCheckpoint(eager=True))
    cand = minhash_pairs(sh.select("doc_id", F.md5("s").alias("hs")))
    sets = sh.groupBy("doc_id").agg(F.collect_set("s").alias("hset"))
    a = sets.select(F.col("doc_id").alias("doc_a"),
                    F.col("hset").alias("ha"))
    b = sets.select(F.col("doc_id").alias("doc_b"),
                    F.col("hset").alias("hb"))
    inter = F.size(F.array_intersect("ha", "hb")).cast("double")
    union = (F.size("ha") + F.size("hb")).cast("double") - inter
    return (cand.join(a, "doc_a").join(b, "doc_b")
            .filter(inter / union >= 0.5)
            .select("doc_a", "doc_b",
                    F.round(inter / union, 6).alias("jaccard")))


@register(
    "join_right_outer",
    oracle="""
    SELECT n_name, c_custkey, c_name
    FROM customer RIGHT JOIN nation ON c_nationkey = n_nationkey
                                   AND c_mktsegment = 'MACHINERY'
    """,
    tags=("join",),
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join: every nation preserved, machinery-segment
    customers attached where present (nations with none keep one NULL
    row). The segment predicate lives in the join condition, not a
    WHERE — pushing it to WHERE would silently turn the join inner."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(n, (c.c_nationkey == n.n_nationkey)
               & (c.c_mktsegment == "MACHINERY"), "right")
        .select("n_name", "c_custkey", "c_name")
    )


@register(
    "join_salted_skew",
    oracle="""
    SELECT e.user_id AS user_id, c_name,
           COUNT(*) AS n_events
    FROM events e JOIN customer ON e.user_id = c_custkey
    WHERE e.event_type IN ('view', 'click')
    GROUP BY e.user_id, c_name
    """,
    tags=("join", "skew"),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit salting for a skewed fact⋈dim join, result identical to
    the plain join (the oracle IS the plain join).

    The hot-key problem at 100 TB: one power user's events all hash to
    one shuffle partition and that task runs for hours. Salting splits
    each fact key into SALT sub-keys (random per row) and explodes the
    dim side SALT ways, so a hot key spreads over SALT tasks. AQE's
    skew-join handles the same case adaptively for *sort-merge* joins;
    explicit salting is the portable form that also covers grouped aggs
    and older runtimes, so the engine ships both (session.py enables
    AQE; this operator is the manual strategy, verified equivalent).
    """
    salt_n = 8
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click"))
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_name"))
    salted_ev = ev.withColumn(
        "salt", (F.rand(seed=7) * salt_n).cast("int"))
    salted_c = c.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(salt_n)])))
    return (
        salted_ev.join(salted_c,
                       (salted_ev.user_id == salted_c.c_custkey)
                       & (salted_ev.salt == salted_c.salt))
        .groupBy("user_id", "c_name")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "join_interval_op",
    oracle="""
    SELECT v.user_id AS user_id, v.event_id AS view_id,
           p.event_id AS p_id, p.value AS p_value
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
    tags=("join", "theta", "asof"),
)
def join_interval_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operators.interval.interval_join code path under the oracle
    gate: purchases within 30 min after each view. The SAME call wired
    to readStream inputs with watermarks is the stream-stream join
    (tests/test_streaming_semantics.py) — one implementation, both
    execution modes."""
    from ..operators.interval import interval_join

    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"), F.col("value").alias("p_value"))
    return (interval_join(v, p, "user_id", "v_ts", "p_ts", "30 MINUTE")
            .select("user_id", "view_id", "p_id", "p_value"))


@register(
    "join_interval_outer",
    oracle="""
    SELECT v.user_id AS user_id, v.event_id AS view_id,
           p.event_id AS p_id, p.value AS p_value
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """,
    tags=("join", "theta", "outer"),
)
def join_interval_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer variant of the interval join: every view survives,
    with nulls where no purchase followed within 30 minutes. Under
    readStream the same call is Spark's watermarked stream-stream outer
    join — unmatched left state emits null-extended rows once the
    watermark passes the interval bound
    (tests/test_streaming_semantics.py::test_stream_stream_outer_join).

    Scale: identical plan to the inner form (equi key drives the
    shuffle, time bound evaluates in-stage); in streaming the
    watermark + bound also cap the retained outer-side state."""
    from ..operators.interval import interval_join

    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"),
        F.col("ts").alias("v_ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_ts"), F.col("value").alias("p_value"))
    joined = interval_join(
        v, p.withColumnRenamed("p_user", "user_id"),
        "user_id", "v_ts", "p_ts", "30 MINUTE", how="left")
    return joined.select("user_id", "view_id", "p_id", "p_value")


@register(
    "q14_promo_share",
    oracle=f"""
    SELECT {dsum_sql("CASE WHEN p_type = 'PROMO' "
                     "THEN l_extendedprice * (1 - l_discount) ELSE 0 END", 4)}
             AS promo_revenue,
           {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-02-01 00:00:00'
    """,
    tags=("join", "agg", "flagship"),
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: promo revenue share for one month — a
    conditional aggregate over a fact⋈dim join.

    Scale: the month filter prunes lineitem at the scan; part (the dim)
    broadcasts so the fact table never shuffles; the CASE folds into
    the same partial aggregate, so the whole query is one scan + one
    single-row reduce."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp")))
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = "l_extendedprice * (1 - l_discount)"
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(F.expr(dsum_sql(
            f"CASE WHEN p_type = 'PROMO' THEN {rev} ELSE 0 END", 4))
             .alias("promo_revenue"),
             F.expr(dsum_sql(rev, 4)).alias("total_revenue"))
    )


@register(
    "join_snowflake_dims",
    oracle=f"""
    SELECT n_name, p_brand,
           {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_size <= 10
    GROUP BY n_name, p_brand
    """,
    tags=("join", "agg", "star"),
)
def join_snowflake_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake join through the supplier arm: fact⋈part⋈supplier⋈
    nation, revenue by (nation, brand).

    Scale: ALL three dims broadcast (part filtered by size first), so
    the fact table is scanned once with zero shuffles before the
    grouped aggregate — the canonical star-join plan. AQE would demote
    any dim that outgrew the threshold to a shuffle join without query
    changes."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_size") <= 10).select("p_partkey", "p_brand")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", "p_brand")
        .agg(F.expr(dsum_sql("l_extendedprice * (1 - l_discount)", 4))
             .alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


@register(
    "window_distribution",
    oracle="""
    SELECT s_suppkey, s_name, n_name,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume,
           NTH_VALUE(s_suppkey, 2) OVER (
             PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_richest
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WINDOW w AS (PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey)
    """,
    tags=("window",),
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — percent_rank, cume_dist,
    nth_value over suppliers ranked by balance within nation.
    percent_rank/cume_dist divide exact integer positions, so the
    doubles are tie-free at ROUND(6) and oracle-stable."""
    from pyspark.sql.window import Window

    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("s_acctbal"),
                                             F.asc("s_suppkey"))
    w_full = w.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "s_suppkey", "s_name", "n_name",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.nth_value("s_suppkey", 2).over(w_full).alias("second_richest"),
        )
    )


@register("source_rate_demo", oracle=None, tags=("source", "stream"))
def source_rate_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate demo source (SURVEY §2.2 'rate / socket demo source'):
    rate-micro-batch with a fixed row budget drained through a memory
    sink — rows-only check (synthetic timestamps are wall-clock
    dependent)."""
    from .queries_ext import drain_memory

    raw = (spark.readStream.format("rate-micro-batch")
           .option("rowsPerBatch", 64)
           .option("numPartitions", 4)
           .load())
    agg = raw.groupBy((F.col("value") % 8).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"))
    # availableNow drains exactly one 64-row batch of this source
    return drain_memory(agg, "complete")


@register("source_socket_demo", oracle=None, tags=("source", "stream"))
def source_socket_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Socket demo source (SURVEY §2.2 'rate / socket demo source'):
    the ``format("socket")`` reader run for REAL against a
    self-contained localhost listener — no prose equivalence claim, the
    actual TextSocketMicroBatchStream code path executes. The query
    owns its fixture: it binds an ephemeral 127.0.0.1 port (no races —
    bound and listening before ``start()``), a daemon thread serves 32
    deterministic lines and closes, and the stream is stopped once the
    memory sink has drained them all (the socket source keeps the query
    alive after peer close; a bounded poll + ``stop()`` ends it).
    Rows-only check: the *ingest path* is wall-clock streaming, but the
    returned aggregate over the 32 controlled lines is deterministic —
    8 buckets x 4 lines. Demo-tier only (Spark's own docs mark the
    socket source as not fault-tolerant); production ingestion is the
    file/Kafka envelope path in ``sources/events.py``.
    """
    import socket
    import threading
    import time as _time

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    n_lines = 32

    def _serve() -> None:
        conn, _ = srv.accept()
        try:
            conn.sendall(
                ("".join(f"evt {i}\n" for i in range(n_lines))).encode())
            # linger so the reader drains before peer close
            _time.sleep(1.0)
        finally:
            conn.close()
            srv.close()

    threading.Thread(target=_serve, daemon=True).start()

    name = f"socket_{_uuid.uuid4().hex[:8]}"
    raw = (spark.readStream.format("socket")
           .option("host", "127.0.0.1")
           .option("port", port)
           .load())
    q = (raw.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .trigger(processingTime="250 milliseconds")
         .start())
    try:
        deadline = _time.monotonic() + 30
        while _time.monotonic() < deadline:
            if spark.table(name).count() >= n_lines:
                break
            _time.sleep(0.25)
    finally:
        q.stop()
    return (spark.table(name)
            .select(F.split("value", " ").getItem(1).cast("int").alias("i"))
            .groupBy((F.col("i") % 8).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("bucket"))
