"""Fifth operator batch: window frames over event-time ranges,
forward-fill (IGNORE NULLS), grouping flags, unpivot/melt reshape,
outer explode, multiset EXCEPT ALL, cross join, and edit-distance
scalars. These close the remaining §2.2 window/set-op/scalar corners
that the earlier batches didn't reach.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources import load_table
from .catalog import register
from .queries_ext import source_fingerprint, stage_once
from .sqlcompat import dsum_sql


@register(
    "window_range_interval",
    oracle="""
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_last_hour,
           CAST(SUM(CAST(value AS DECIMAL(30,2))) OVER w AS DOUBLE)
             AS sum_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    tags=("window", "frame"),
)
def window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE frame: per user, count/sum of events in the
    trailing hour — the time-windowed feature shape (rolling activity)
    that rowsBetween can't express when event spacing is irregular.
    RANGE frames include ties, so equal timestamps agree across engines,
    and the frame sum accumulates in decimal for bit equality.

    Scale: one shuffle on user_id, per-partition sort on ts; the frame
    is evaluated with a sliding two-pointer over the sorted run — no
    self-join, no candidate blow-up.
    """
    ev = load_table(spark, sf_dir, "events")
    # unix_micros over a cast, not unix_timestamp: the parquet ts
    # column is tz-naive (TIMESTAMP_NTZ under Spark 4's parquet
    # reader; NTZ -> BIGINT casts are rejected outright, and the cast
    # to LTZ is shift-free because the session tz is pinned UTC).
    # MICROsecond precision is semantic, not cosmetic: unix_timestamp
    # truncates to whole seconds, which pulls a same-second-but-LATER
    # event into the trailing frame as an ORDER-BY tie — diverging
    # from the oracle's full-precision ORDER BY ts the moment a user
    # has two events inside one second (latent at sf0.01, real at
    # sf0.1+; caught by the sf1-replica gate, round 9).
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
         .rangeBetween(-3_600_000_000, 0))
    return ev.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.sum(F.col("value").cast("decimal(30,2)")).over(w)
         .cast("double").alias("sum_last_hour"),
    )


@register(
    "window_fill_forward",
    oracle="""
    SELECT event_id, user_id,
           LAST_VALUE(pv IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_value
    FROM (SELECT event_id, user_id, ts,
                 CASE WHEN event_type = 'purchase' THEN value END AS pv
          FROM events) t
    """,
    tags=("window", "frame"),
)
def window_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill via LAST_VALUE ... IGNORE NULLS: carry each user's
    most recent purchase value onto every subsequent event — the
    standard sparse-to-dense feature propagation. Unique (ts, event_id)
    ordering keeps the fill deterministic; the filled value is copied,
    never accumulated, so doubles cross engines untouched.

    Scale: same one-shuffle-one-sort layout as any per-key window; state
    per row is a single scalar, no frame buffer.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id")
         .orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "event_id", "user_id",
        F.last(pv, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


@register(
    "agg_grouping_id",
    oracle="""
    SELECT COALESCE(r_name, 'ALL') AS region_name,
           COALESCE(n_name, 'ALL') AS nation_name,
           CAST(GROUPING(r_name) AS INT) AS g_region,
           CAST(GROUPING(n_name) AS INT) AS g_nation,
           COUNT(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("agg", "grouping-sets"),
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() flags on a rollup — distinguishes a real NULL group
    key from a subtotal row, which COALESCE alone cannot (the reason
    grouping flags exist)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.grouping("r_name").cast("int").alias("g_region"),
             F.grouping("n_name").cast("int").alias("g_nation"),
             F.count(F.lit(1)).alias("n_customers"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "g_region", "g_nation", "n_customers",
        )
    )


@register(
    "reshape_unpivot",
    oracle=f"""
    SELECT metric,
           {dsum_sql('mval')} AS sum_val,
           COUNT(*) AS n
    FROM (
      SELECT 'l_quantity' AS metric, l_quantity AS mval FROM lineitem
      UNION ALL SELECT 'l_discount', l_discount FROM lineitem
      UNION ALL SELECT 'l_tax', l_tax FROM lineitem
    ) t
    GROUP BY metric
    """,
    tags=("reshape",),
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt: wide per-row metrics to long (metric, value)
    pairs, then aggregate per metric — the inverse of agg_pivot.

    Scale: unpivot is a zero-shuffle stack expression (each input row
    emits k rows in-place); the only exchange is the final tiny
    per-metric aggregate, so melting 100 TB costs map-side CPU only.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.unpivot(
            ids=[], values=["l_quantity", "l_discount", "l_tax"],
            variableColumnName="metric", valueColumnName="mval")
        .groupBy("metric")
        .agg(F.expr(dsum_sql("mval")).alias("sum_val"),
             F.count(F.lit(1)).alias("n"))
    )


@register(
    "array_explode_outer",
    oracle="""
    SELECT doc_id,
           UNNEST(CASE WHEN len(l) = 0 THEN [NULL] ELSE l END) AS long_token
    FROM (
      SELECT doc_id,
             list_filter(string_split(text, ' '), t -> length(t) > 9) AS l
      FROM documents
    ) t
    """,
    tags=("scalar", "array"),
)
def array_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows whose filtered token array is empty survive
    with a NULL element instead of vanishing — the left-outer flavor of
    UNNEST that keeps every document visible downstream."""
    d = load_table(spark, sf_dir, "documents")
    long_toks = F.filter(F.split(F.col("text"), " "),
                         lambda t: F.length(t) > 9)
    return d.select(
        "doc_id", F.explode_outer(long_toks).alias("long_token"))


@register(
    "set_except_all",
    oracle="""
    SELECT user_id, CAST(ts AS DATE) AS day FROM events
    WHERE event_type = 'view'
    EXCEPT ALL
    SELECT user_id, CAST(ts AS DATE) AS day FROM events
    WHERE event_type = 'purchase'
    """,
    tags=("setop",),
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference): per-(user, day) view rows minus
    one occurrence per purchase row — multiplicity-preserving, unlike
    set_except's distinct semantics. Spark plans it as a counted
    aggregate + generate, one shuffle on the composite key."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").cast("date").alias("day"))
    b = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").cast("date").alias("day"))
    return a.exceptAll(b)


@register(
    "join_cross_small",
    oracle="""
    SELECT r_name, os AS orderstatus
    FROM region
    CROSS JOIN (SELECT DISTINCT o_orderstatus AS os FROM orders) t
    """,
    tags=("join",),
)
def join_cross_small(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS JOIN of two tiny sets (region x distinct order statuses) —
    the scaffold shape for dimension grids / dense calendars. Safe only
    because both sides are provably small; the engine broadcasts the
    distinct side so the product never shuffles."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    o = (load_table(spark, sf_dir, "orders")
         .select(F.col("o_orderstatus").alias("os")).distinct())
    return r.crossJoin(F.broadcast(o)).select(
        "r_name", F.col("os").alias("orderstatus"))


@register(
    "json_variant",
    oracle="""
    SELECT event_id,
           CAST(props->>'$.k' AS BIGINT) AS prop_k,
           CAST(props->>'$.missing' AS BIGINT) AS prop_absent
    FROM events
    WHERE event_type = 'click'
    """,
    tags=("scalar", "json"),
)
def json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type:
    parse_json once into a binary-encoded document, then variant_get
    path extraction — the engine's modern JSON path (single parse,
    typed sub-access, no per-path re-parse like get_json_object).
    Absent paths surface as NULL, matching JSON-path semantics.

    Scale: VARIANT's encoded form is columnar-friendly (shreddable) and
    each variant_get is a JVM expression inside codegen — this is the
    100 TB posture for ragged event payloads.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "click")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("prop_k"),
        F.variant_get(v, "$.missing", "bigint").alias("prop_absent"),
    )


@register(
    "source_xml_scan",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation WHERE n_regionkey <= 2
    """,
    tags=("source",),
)
def source_xml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source (native in Spark 4): the nation table exported once
    as XML rows and read back with an explicit schema and rowTag —
    completing the format-plural source surface (parquet / JSON / CSV /
    ORC / XML)."""
    import os
    import tempfile
    out = os.path.join(tempfile.gettempdir(),
                       f"spark_graft_xml_{os.path.basename(sf_dir.rstrip('/'))}")
    src = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    (src.write.mode("overwrite").option("rootTag", "nations")
        .option("rowTag", "nation").format("xml").save(out))
    schema = "n_nationkey long, n_name string, n_regionkey long"
    return (spark.read.schema(schema).option("rowTag", "nation")
            .format("xml").load(out)
            .filter(F.col("n_regionkey") <= 2))


@register(
    "scalar_levenshtein",
    oracle="""
    SELECT p_partkey, p_type,
           CAST(levenshtein(p_type, 'PROMO') AS BIGINT) AS dist_promo,
           CAST(levenshtein(p_brand, p_type) AS BIGINT) AS dist_brand_type
    FROM part
    WHERE p_size <= 5
    """,
    tags=("scalar", "text"),
)
def scalar_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance scalar (fuzzy matching primitive for entity
    resolution / near-dup candidate scoring) — JVM builtin, exact
    integer output, no UDF."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    return p.select(
        "p_partkey", "p_type",
        F.levenshtein(F.col("p_type"), F.lit("PROMO")).cast("bigint")
         .alias("dist_promo"),
        F.levenshtein(F.col("p_brand"), F.col("p_type")).cast("bigint")
         .alias("dist_brand_type"),
    )


def _pyds_oracle() -> str:
    from ..sources.pydatasource import oracle_sql
    return oracle_sql(rows=5000)


@register("source_python_datasource", oracle=_pyds_oracle(),
          tags=("source", "spark4"))
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 extension point): the
    deterministic synthetic event generator read through
    ``spark.read.format("bnpl_synthetic")``. Every row is a pure
    function of its global index, so the oracle reproduces the source
    bit-for-bit with a DuckDB generate_series query — a fully
    value-checked user-defined connector. The same class also serves
    ``readStream`` (tests/test_streaming_semantics.py::
    test_python_datasource_stream)."""
    from ..sources.pydatasource import register_datasource
    register_datasource(spark)
    return (spark.read.format("bnpl_synthetic")
            .option("rows", 5000).option("partitions", 8).load())


_LATERAL_SQL = """
SELECT n_name, c.c_name, c.c_acctbal
FROM nation, LATERAL (
  SELECT c_name, c_acctbal FROM customer
  WHERE c_nationkey = n_nationkey
  ORDER BY c_acctbal DESC, c_name LIMIT 2
) c
"""


@register("join_lateral", oracle=_LATERAL_SQL, tags=("join", "subquery"))
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (identical SQL text both engines):
    top-2 customers by balance for every nation — the per-row-subquery
    surface SQL users reach for before they learn window functions.
    Catalyst decorrelates it into the same shuffle + per-key ranking a
    row_number() formulation plans (topk_per_group is the DataFrame
    twin), so the lateral form costs one shuffle, not |nation| probes.
    The deterministic ORDER BY tie-break (acctbal, then name) keeps the
    LIMIT 2 cut identical across engines."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


_RECURSIVE_SQL = """
WITH RECURSIVE sched AS (
  SELECT o_orderkey, 1 AS installment_no,
         CAST(o_totalprice AS DOUBLE) AS remaining
  FROM orders WHERE o_orderkey % 100 = 0
  UNION ALL
  SELECT o_orderkey, installment_no + 1, remaining - 50000.0
  FROM sched WHERE remaining > 50000.0
)
SELECT o_orderkey,
       CAST(installment_no AS BIGINT) AS installment_no,
       ROUND(LEAST(remaining, 50000.0), 2) AS installment_amount
FROM sched
"""


@register("sql_recursive_cte", oracle=_RECURSIVE_SQL,
          tags=("sql", "recursive", "spark4"))
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (new in Spark 4) through the SQL entry path,
    identical text on both engines: each sampled order unrolled into
    its monthly ¥50k installment schedule until the balance clears —
    the BNPL 月まとめ払い payment plan as a set-based recursion.
    Iteration count = ceil(max total / installment), so the recursion
    is bounded by data, not row count; every step is one incremental
    self-union the engine distributes like any other batch.

    Determinism: both engines execute the same IEEE double
    subtraction sequence from the same parquet doubles, so remaining
    balances (and the final ROUND) are bit-identical. The iterative
    DataFrame twin of this pattern is operators/components.py's label
    propagation loop."""
    from ..sources import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_SQL)


@register(
    "source_schema_evolution",
    oracle="""
    SELECT COALESCE(CASE WHEN event_id % 2 = 1 THEN event_type END,
                    '(legacy)') AS channel,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST((value) AS DECIMAL(30,2))) AS STRING)
                AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
    tags=("source", "schema"),
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: the event log is materialized as two
    parquet generations — an old layout (event_id, value) and a new
    one that added a ``channel`` column — and read back as ONE dataset
    with ``mergeSchema=true``; legacy rows surface NULL channel,
    reported under '(legacy)'. The append-only schema-drift situation
    every long-lived 100 TB table hits, handled at the scan (no
    backfill rewrite of old files).

    Scale: mergeSchema unions footers at planning time; the scan
    itself stays one pass with pushdown intact, and missing columns
    materialize as nulls per row-group — no per-file branching in the
    query plan. The two generations are staged once per source (the
    read, not the staging, is the query).
    """
    import os

    ev = load_table(spark, sf_dir, "events")

    def write(base: str) -> None:
        (ev.filter(F.col("event_id") % 2 == 0)
         .select("event_id", "value")
         .write.parquet(os.path.join(base, "gen=1")))
        (ev.filter(F.col("event_id") % 2 == 1)
         .select("event_id", "value", F.col("event_type").alias("channel"))
         .write.parquet(os.path.join(base, "gen=2")))

    base = stage_once(f"evo_v1_{source_fingerprint(sf_dir)}", write)
    merged = (spark.read.option("mergeSchema", "true")
              .option("basePath", base)
              .parquet(os.path.join(base, "gen=*")))
    return (
        merged.groupBy(F.coalesce("channel", F.lit("(legacy)"))
                       .alias("channel"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.expr(dsum_sql("value")).alias("total_value"))
    )


@register(
    "source_partitioned_scan",
    oracle="""
    SELECT event_type, user_id, COUNT(*) AS n_events
    FROM events
    WHERE event_type IN ('purchase', 'view')
    GROUP BY event_type, user_id
    """,
    tags=("source", "partition"),
)
def source_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan: the event log written out hive-partitioned
    by event_type, then read back with an IN filter that must prune at
    PLANNING time — only the two matching directories are listed and
    scanned, the others never produce I/O. The layout every 100 TB
    event lake uses (partition by type/date), with the pruning pinned
    by test_plans so it cannot silently regress to a full scan.
    """
    import os
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    out = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_part_{os.path.basename(sf_dir.rstrip('/'))}")
    (ev.select("event_id", "user_id", "value", "event_type")
     .write.mode("overwrite").partitionBy("event_type").parquet(out))
    return (
        spark.read.parquet(out)
        .filter(F.col("event_type").isin("purchase", "view"))
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "scalar_bitwise",
    oracle="""
    SELECT event_id,
           event_id & 255 AS low_byte,
           event_id | 4096 AS with_flag,
           xor(event_id, 1365) AS toggled,
           event_id << 2 AS shifted_up,
           event_id >> 3 AS shifted_down,
           CAST(bit_count(event_id) AS BIGINT) AS popcount
    FROM events
    WHERE event_id % 97 = 0
    """,
    tags=("scalar",),
)
def scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar pack: AND/OR/XOR masks, shifts, and population
    count over 64-bit keys — the bit-twiddling surface flag fields
    and bloom/bitmap indexes are built from. Pure integer ops,
    codegen-friendly, bit-identical across engines by definition.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_id") % 97 == 0)
        .select(
            "event_id",
            F.expr("event_id & 255").alias("low_byte"),
            F.expr("event_id | 4096").alias("with_flag"),
            F.expr("event_id ^ 1365").alias("toggled"),
            F.expr("shiftleft(event_id, 2)").alias("shifted_up"),
            F.expr("shiftright(event_id, 3)").alias("shifted_down"),
            F.expr("CAST(bit_count(event_id) AS BIGINT)").alias("popcount"),
        )
    )


@register(
    "array_higher_order",
    oracle="""
    WITH src AS (
      SELECT doc_id,
             generate_series(1, 1 + CAST(doc_id % 6 AS INT)) AS arr
      FROM documents
    )
    SELECT doc_id,
           CAST(list_aggregate(arr, 'sum') AS BIGINT) AS folded,
           CAST(len(list_filter(arr, x -> x > 2)) AS INT) AS n_big,
           len(list_filter(arr, x -> x = 5)) > 0 AS has_five,
           len(list_filter(arr, x -> x > 0)) = len(arr) AS all_pos,
           CAST(list_aggregate(
             list_transform(generate_series(1, len(arr)),
                            i -> arr[i] * arr[i]), 'sum')
             AS BIGINT) AS dot_self
    FROM src
    """,
    tags=("array", "higher-order"),
)
def array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function pack: fold (aggregate), predicate
    filter, exists, forall, and an index-zipped elementwise product —
    the lambda surface that keeps per-row collection logic inside
    whole-stage codegen instead of a Python UDF. Arrays are built
    deterministically from doc_id so both engines compute over
    identical inputs.

    Scale: all expressions are row-local (zero shuffle beyond the
    scan); this is the idiom the similarity-search dot products and
    the shingle pipelines build on.
    """
    d = load_table(spark, sf_dir, "documents")
    src = d.select(
        "doc_id",
        F.expr("sequence(1L, 1L + doc_id % 6)").alias("arr"))
    return src.select(
        "doc_id",
        F.expr("aggregate(arr, CAST(0 AS BIGINT), (a, x) -> a + x)")
        .alias("folded"),
        F.expr("size(filter(arr, x -> x > 2))").alias("n_big"),
        F.expr("exists(arr, x -> x = 5)").alias("has_five"),
        F.expr("forall(arr, x -> x > 0)").alias("all_pos"),
        F.expr("aggregate(transform(sequence(1, size(arr)), "
               "i -> element_at(arr, i) * element_at(arr, i)), "
               "CAST(0 AS BIGINT), (a, x) -> a + x)").alias("dot_self"),
    )


@register(
    "q_backlog_aging",
    oracle="""
    WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders)
    SELECT date_diff('day', o_orderdate, anchor.mx) // 30 AS age_bucket,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) AS STRING)
                AS DOUBLE) AS backlog_value
    FROM orders CROSS JOIN anchor
    WHERE o_orderstatus = 'O'
    GROUP BY 1
    """,
    tags=("agg", "subquery", "report"),
)
def q_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backlog aging report: open orders bucketed by how many 30-day
    periods they have been open, anchored at the newest order date —
    the receivables-aging shape every operations dashboard carries.

    Scale: the anchor is a single-row aggregate broadcast into the
    scan (no driver collect); the status filter pushes to parquet;
    one bucketed aggregate with map-side combine.
    """
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(anchor))
        .groupBy(F.expr("datediff(mx, o_orderdate) DIV 30")
                 .alias("age_bucket"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.expr("CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2)))"
                    " AS STRING) AS DOUBLE)").alias("backlog_value"))
    )


@register(
    "set_symmetric_diff",
    oracle="""
    WITH viewers AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
    ), buyers AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, 'viewed_never_bought' AS segment
    FROM (SELECT user_id FROM viewers EXCEPT SELECT user_id FROM buyers)
    UNION ALL
    SELECT user_id, 'bought_never_viewed'
    FROM (SELECT user_id FROM buyers EXCEPT SELECT user_id FROM viewers)
    """,
    tags=("set",),
)
def set_symmetric_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric difference as audience segmentation: users who viewed
    but never purchased, and users who purchased without a recorded
    view (the attribution-gap segment) — EXCEPT composed in both
    directions with a segment label.

    Scale: each side is a distinct-projection of the same scan;
    EXCEPT plans as a hash anti-join on already-deduped keys.
    """
    ev = load_table(spark, sf_dir, "events")
    viewers = (ev.filter(F.col("event_type") == "view")
               .select("user_id").distinct())
    buyers = (ev.filter(F.col("event_type") == "purchase")
              .select("user_id").distinct())
    return (
        viewers.exceptAll(buyers)
        .select("user_id", F.lit("viewed_never_bought").alias("segment"))
        .unionAll(
            buyers.exceptAll(viewers)
            .select("user_id", F.lit("bought_never_viewed").alias("segment")))
    )


@register(
    "window_value_share",
    oracle="""
    SELECT event_id, user_id,
           CAST(CAST(SUM(CAST(value AS DECIMAL(30,4)))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS STRING) AS DOUBLE)
             / CAST(CAST(SUM(CAST(value AS DECIMAL(30,4)))
                      OVER (PARTITION BY user_id)
                    AS STRING) AS DOUBLE) AS cum_share
    FROM events
    """,
    tags=("window",),
)
def window_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running share of total: each event's cumulative value as a
    fraction of its user's lifetime total — the Pareto-curve
    coordinate (x% of events carry y% of value). Both the running
    numerator and the total denominator accumulate in decimal inside
    their window frames, so the ratio is bit-deterministic at any
    partitioning.

    Scale: two window functions over ONE user-clustered exchange
    (running frame + whole-partition frame share the sort).
    """
    ev = load_table(spark, sf_dir, "events")
    running = ("CAST(CAST(SUM(CAST(value AS DECIMAL(30,4)))"
               " OVER (PARTITION BY user_id ORDER BY ts, event_id"
               " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
               " AS STRING) AS DOUBLE)")
    total = ("CAST(CAST(SUM(CAST(value AS DECIMAL(30,4)))"
             " OVER (PARTITION BY user_id)"
             " AS STRING) AS DOUBLE)")
    return ev.select(
        "event_id", "user_id",
        (F.expr(running) / F.expr(total)).alias("cum_share"))
