"""Extended operator pack: predicate variety, pivot, grouping sets,
scalar subqueries (via the SQL API — the engine's second entry path),
more scalar families (bitwise, string2, math2, date2), positional
explode, non-parquet sources (JSON-lines / CSV / streaming file
replay), nondeterministic ops (rows-only checks), and two more
LLM-pack members (batched ANN, corpus stats).
"""

from __future__ import annotations

import os
import tempfile
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import (cosine_expr, dot_expr, duckdb_cosine,
                                 norm_expr)
from ..schemas import ANALYTICS_SCHEMAS
from ..sources import load_table, spread, register_views
from .catalog import register
from .sqlcompat import davg_sql, dsum_sql

DIM = 64


# --------------------------------------------------------------------------
# predicates
# --------------------------------------------------------------------------


@register(
    "filter_predicates",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_returnflag IN ('A', 'R')
      AND l_shipdate IS NOT NULL
      AND NOT (l_discount = 0.0)
      AND l_linestatus <> 'X'
    """,
    tags=("filter",),
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate pack: BETWEEN / IN / IS NOT NULL / NOT / <> — all
    pushed to the parquet scan as native filters (no residual Filter
    node above the scan for the deterministic ones)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity").between(10, 20)
                  & F.col("l_returnflag").isin("A", "R")
                  & F.col("l_shipdate").isNotNull()
                  & ~(F.col("l_discount") == 0.0)
                  & (F.col("l_linestatus") != "X"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


# --------------------------------------------------------------------------
# pivot / grouping sets / scalar subquery
# --------------------------------------------------------------------------

_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@register(
    "agg_pivot",
    oracle=f"""
    SELECT user_id,
           {", ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN CAST(value AS DECIMAL(30,6)) END) AS DOUBLE) AS {t}"
        for t in _EVENT_TYPES)}
    FROM events
    GROUP BY user_id
    """,
    tags=("agg", "pivot"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT events into one column per event type (explicit value list
    so no extra distinct pass; cells absent -> NULL). At scale this is
    a single hash aggregate — the pivot is column expansion, not a
    join."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.expr("CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)"))
    )


_GROUPING_SETS_SQL = f"""
SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
       COALESCE(o_orderpriority, 'ALL') AS orderpriority,
       COUNT(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS sum_totalprice
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


@register("agg_grouping_sets", oracle=_GROUPING_SETS_SQL,
          tags=("agg", "grouping-sets", "sql-api"))
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — issued through ``spark.sql`` with the
    *identical* ANSI text the DuckDB oracle runs: the engine's SQL entry
    path (SURVEY §3.3's analyzer/optimizer lifecycle) is itself under
    test here."""
    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS_SQL)


_SCALAR_SUBQUERY_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_totalprice >= 0.9 * (SELECT MAX(o_totalprice) FROM orders)
"""


@register("scalar_subquery", oracle=_SCALAR_SUBQUERY_SQL,
          tags=("filter", "subquery", "sql-api"))
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery in a predicate (same ANSI text on
    both engines). Catalyst plans the subquery as a broadcast scalar —
    one extra tiny job, no per-row re-evaluation."""
    register_views(spark, sf_dir)
    return spark.sql(_SCALAR_SUBQUERY_SQL)


# --------------------------------------------------------------------------
# more scalar families
# --------------------------------------------------------------------------


@register(
    "scalar_string2",
    oracle="""
    SELECT p_partkey,
           replace(p_name, ' ', '_') AS name_snake,
           reverse(p_brand) AS brand_rev,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
           rpad(p_brand, 12, '.') AS brand_pad,
           repeat('*', p_size % 5) AS stars,
           trim(CONCAT('  ', p_type, '  ')) AS type_trim,
           CAST(strpos(p_name, 'a') AS BIGINT) AS first_a
    FROM part WHERE p_partkey <= 100
    """,
    tags=("scalar",),
)
def scalar_string2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string pack: replace / reverse / lpad / rpad / repeat /
    trim / position."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 100)
    return p.select(
        "p_partkey",
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.reverse("p_brand").alias("brand_rev"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.rpad("p_brand", 12, ".").alias("brand_pad"),
        F.repeat(F.lit("*"), F.col("p_size") % 5).alias("stars"),
        F.trim(F.concat(F.lit("  "), F.col("p_type"), F.lit("  "))).alias("type_trim"),
        F.instr("p_name", "a").cast("bigint").alias("first_a"),
    )


@register(
    "scalar_math2",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           SQRT(l_extendedprice) AS price_sqrt,
           CAST(CEIL(l_extendedprice / 100) AS BIGINT) AS price_ceil,
           CAST(SIGN(l_discount - l_tax) AS INT) AS rate_sign,
           ROUND(l_extendedprice / (1.0 + l_tax), 4) AS price_pretax,
           CAST(l_quantity AS BIGINT) & 15 AS qty_and,
           CAST(l_quantity AS BIGINT) << 2 AS qty_shl,
           xor(CAST(l_quantity AS BIGINT), CAST(l_linenumber AS BIGINT)) AS qty_xor
    FROM lineitem WHERE l_orderkey <= 200
    """,
    tags=("scalar",),
)
def scalar_math2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math + bitwise pack: sqrt (IEEE-exact, engine-identical), ceil,
    sign, division, AND / shift-left / XOR on integers."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    qty = F.col("l_quantity").cast("bigint")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        F.ceil(F.col("l_extendedprice") / 100).cast("bigint").alias("price_ceil"),
        F.signum(F.col("l_discount") - F.col("l_tax")).cast("int").alias("rate_sign"),
        F.round(F.col("l_extendedprice") / (F.lit(1.0) + F.col("l_tax")), 4)
         .alias("price_pretax"),
        qty.bitwiseAND(F.lit(15)).alias("qty_and"),
        F.shiftleft(qty, 2).alias("qty_shl"),
        qty.bitwiseXOR(F.col("l_linenumber").cast("bigint")).alias("qty_xor"),
    )


@register(
    "scalar_date2",
    oracle="""
    SELECT o_orderkey,
           CAST(date_diff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS INT)
             AS days_since_y24,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH, '%Y-%m-%d') AS next_month,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(weekofyear(o_orderdate) AS INT) AS woy
    FROM orders WHERE o_orderkey <= 300
    """,
    tags=("scalar",),
)
def scalar_date2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second date pack: datediff, add_months (month-end clamped in
    both engines), last_day, day-of-week (aligned to Spark's
    Sunday=1), quarter, ISO week."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 300)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.datediff(d, F.lit("2024-01-01").cast("date")).cast("int")
         .alias("days_since_y24"),
        F.date_format(F.add_months(d, 1), "yyyy-MM-dd").alias("next_month"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.dayofweek("o_orderdate").cast("int").alias("dow"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        F.weekofyear("o_orderdate").cast("int").alias("woy"),
    )


@register(
    "array_posexplode",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents WHERE doc_id < 20)
    SELECT doc_id, pos, token FROM (
      SELECT doc_id,
             UNNEST(generate_series(1, len(toks))) - 1 AS pos,
             UNNEST(toks) AS token
      FROM t) z
    """,
    tags=("array",),
)
def array_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: token stream with positions (the order-preserving
    explode a sequence-labeling pipeline needs)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return (
        d.select("doc_id", F.posexplode(F.split("text", " "))
                 .alias("pos", "token"))
    )


# --------------------------------------------------------------------------
# non-parquet sources
# --------------------------------------------------------------------------


def _scratch(tag: str) -> str:
    return os.path.join(tempfile.gettempdir(), f"spark_graft_{tag}")


def source_fingerprint(sf_dir: str) -> str:
    """Cheap content fingerprint of a testdata dir: md5 over the
    absolute path plus every parquet file's (name, size, mtime_ns).
    Regenerated data -> new fingerprint -> stale caches miss."""
    import hashlib

    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    try:
        for e in sorted(os.scandir(sf_dir), key=lambda e: e.name):
            if e.name.endswith(".parquet"):
                st = e.stat()
                h.update(f"{e.name}:{st.st_size}:{st.st_mtime_ns}".encode())
    except FileNotFoundError:
        pass
    return h.hexdigest()[:16]


#: Keys :func:`stage_once` actually MATERIALIZED (cold path, not a
#: reuse) in this process, in order. The bench reads (and lengths) this
#: to detect timed first runs that paid one-off content-keyed staging
#: WRITES inside their measured region — the r12 sf1 section read 3x
#: its quiet number partly because a fresh /tmp made every staged
#: streaming/lake input a write inside the timed first pass (guide
#: §1.4: time the computation, not one-off input staging).
STAGED_KEYS: list[str] = []


def stage_once(key: str, write_fn) -> str:
    """Publish a content-keyed scratch dir exactly once and reuse it on
    every later call with the same key — the single implementation of
    the staging contract every staged input shares: repeated runs
    (bench n=3, repeated tests) must time the query, never the staging.

    ``write_fn(tmp_dir)`` materializes the content into a fresh dir;
    it is atomically renamed into place, and a concurrent loser keeps
    the winner's dir and discards its own, so a reader never observes
    a half-written file set.

    The key MUST cover everything the staged bytes are a function of:
    the source-data fingerprint (``source_fingerprint``) AND, when the
    content also encodes query logic (derived deltas, serialization
    choices), a logic-version token the caller bumps on change —
    otherwise an edited query silently reuses a stale layout and
    contradicts its own updated oracle.
    """
    import shutil

    path = _scratch(key)
    if not os.path.isdir(path):
        STAGED_KEYS.append(key)
        tmp = f"{path}.tmp-{os.getpid()}"
        write_fn(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            # Only a lost concurrency race is swallowable — then the
            # winner's dir exists. Any other rename failure (ENOSPC,
            # EXDEV, permissions) must surface HERE, not as a confusing
            # downstream read error on a path that was never created.
            if not os.path.isdir(path):
                raise
    return path


def staged_parquet(df, tag: str, sf_dir: str, n_files: int) -> str:
    """Write ``df`` as an ``n_files`` parquet reshard under a
    content-keyed scratch dir and REUSE it on subsequent calls with the
    same key (see :func:`stage_once` for the concurrency contract).

    The key is (tag, n_files, fingerprint(sf_dir)) where the
    fingerprint covers the absolute source path and every parquet
    file's size+mtime — two different dirs that share a basename
    (e.g. /root/testdata/sf1 vs a /tmp/sfscale/sf1 replica) get
    distinct caches, and regenerated source data invalidates the old
    one. ``df`` itself is a deterministic function of ``sf_dir``, so
    the fingerprint identifies the staged content.
    """
    return stage_once(
        f"stage_{tag}_{n_files}_{source_fingerprint(sf_dir)}",
        lambda tmp: df.repartition(n_files)
        .write.mode("overwrite").parquet(tmp))


# --------------------------------------------------------------------------
# streaming drains: every catalog view that replays a staged feed as
# micro-batches reads and drains it through these helpers
# --------------------------------------------------------------------------


def parquet_stream(spark: SparkSession, in_dir: str, schema) -> DataFrame:
    """A parquet file stream over ``in_dir`` that admits one file per
    trigger, so a dir of n files drains as n micro-batches in
    modification-time order."""
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(in_dir))


def staged_stream(spark: SparkSession, df: DataFrame, tag: str, sf_dir: str,
                  n_files: int) -> DataFrame:
    """``df`` as a stream: staged by :func:`staged_parquet` into
    ``n_files`` files and read back with ``df``'s own schema, one file
    per trigger."""
    return parquet_stream(spark, staged_parquet(df, tag, sf_dir, n_files),
                          df.schema)


def drain_partials(stream: DataFrame, work: str, fold) -> dict:
    """Drain ``stream`` to its end through a stateless ``foreachBatch``
    fold and return ``{name: that output's partials}``.

    ``fold(batch)`` returns ``{name: DataFrame}``; each output is
    overwritten to ``work/<name>/batch=<id>`` (the batch persisted
    while it writes when there is more than one output), so a retried
    micro-batch replaces its partials and never duplicates them. The
    query runs ``availableNow`` on the checkpoint ``work/ck``. Catalog
    views pass the content-keyed ``_scratch(f"{tag}_{fingerprint}")``:
    a repeat call resumes the drained checkpoint, folds zero new rows
    and rereads the same partials, and new source data gets a new dir.
    """
    def run(batch: DataFrame, batch_id: int) -> None:
        outs = fold(batch)
        many = len(outs) > 1
        if many:
            batch.persist()
        try:
            for name, part in outs.items():
                part.write.mode("overwrite").parquet(
                    f"{work}/{name}/batch={batch_id}")
        finally:
            if many:
                batch.unpersist()

    (stream.writeStream.foreachBatch(run)
     .option("checkpointLocation", f"{work}/ck")
     .trigger(availableNow=True).start().awaitTermination())
    reader = stream.sparkSession.read
    return {name: reader.option("basePath", f"{work}/{name}")
            .parquet(f"{work}/{name}/batch=*")
            for name in sorted(os.listdir(work)) if name != "ck"}


def drain_memory(stream: DataFrame, output_mode: str) -> DataFrame:
    """Drain ``stream`` to its end into a fresh in-session memory table
    and return that table. No checkpoint location is passed: Spark
    checkpoints into a new temporary dir and deletes it when the
    ``availableNow`` query ends cleanly, so nothing is left behind, and
    a stateful query always starts fresh, the only case in which
    ``session.scoped_conf`` may size its state store."""
    name = f"drain_{_uuid.uuid4().hex[:8]}"
    (stream.writeStream.format("memory").queryName(name)
     .outputMode(output_mode)
     .trigger(availableNow=True).start().awaitTermination())
    return stream.sparkSession.table(name)


@register(
    "source_json_scan",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events WHERE event_type = 'signup'
    """,
    tags=("source",),
)
def source_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source with an explicit StructType (no inference
    pass): the parquet table is exported once to JSONL, then read back
    through ``spark.read.json(schema=...)`` — proving the declared
    schema, not the parquet footer, drives the scan."""
    out = _scratch(f"json_{os.path.basename(sf_dir.rstrip('/'))}")
    src = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "signup").select(
        "event_id", "user_id", "event_type", "value")
    src.write.mode("overwrite").json(out)
    schema = "event_id long, user_id long, event_type string, value double"
    return spark.read.schema(schema).json(out)


@register(
    "source_csv_scan",
    oracle="""
    SELECT p_partkey, p_brand, p_size, p_retailprice
    FROM part WHERE p_size >= 25
    """,
    tags=("source",),
)
def source_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with explicit schema + header."""
    out = _scratch(f"csv_{os.path.basename(sf_dir.rstrip('/'))}")
    src = load_table(spark, sf_dir, "part").filter(
        F.col("p_size") >= 25).select(
        "p_partkey", "p_brand", "p_size", "p_retailprice")
    src.write.mode("overwrite").option("header", True).csv(out)
    schema = "p_partkey long, p_brand string, p_size int, p_retailprice double"
    return (spark.read.schema(schema).option("header", True).csv(out))


@register(
    "source_stream_replay",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n_events, {dsum_sql('value')} AS sum_value
    FROM events GROUP BY event_type
    """,
    tags=("source", "stream"),
)
def source_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming file source (event replay): the events table is read
    through ``spark.readStream`` with the declared schema, aggregated
    incrementally (complete mode), drained with availableNow, and the
    result equals the batch aggregate — SURVEY §2.2's
    'streaming file source' row with its batch-equivalent oracle."""
    # parquet streaming source needs nanos handling too
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (spark.readStream
           .schema("event_id long, ts long, user_id long, "
                   "event_type string, value double, props string")
           .option("pathGlobFilter", "events.parquet")
           .parquet(sf_dir))
    agg = raw.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(dsum_sql("value")).alias("sum_value"))
    return drain_memory(agg, "complete")


# --------------------------------------------------------------------------
# nondeterministic ops -> rows-only checks
# --------------------------------------------------------------------------


@register("nondet_uuid", oracle=None, tags=("scalar", "nondet"))
def nondet_uuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uuid() + current_timestamp (ref R14/R15's generated keys) —
    nondeterministic by design, rows-only check."""
    o = load_table(spark, sf_dir, "orders").limit(10)
    return o.select(
        "o_orderkey",
        F.expr("uuid()").alias("row_uuid"),
        F.current_timestamp().alias("seen_at"),
    )


@register("agg_approx_percentile", oracle=None, tags=("agg", "approx"))
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile sketch (KLL/GK-style) — the 100 TB quantile
    path; engine-specific sketch, rows-only check."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 1000).alias("p50"),
        F.percentile_approx("value", 0.95, 1000).alias("p95"),
    )


# --------------------------------------------------------------------------
# LLM pack extensions
# --------------------------------------------------------------------------


@register(
    "llm_simsearch_batch",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE vec_id < 10)
    SELECT qid, vec_id AS neighbor_id, ROUND(c, 4) AS cos_sim, rn AS rank
    FROM (
      SELECT q.qid, e.vec_id,
             {duckdb_cosine('e.embedding', 'q.qe', DIM)} AS c,
             ROW_NUMBER() OVER (PARTITION BY q.qid
                                ORDER BY ROUND({duckdb_cosine('e.embedding', 'q.qe', DIM)}, 4)
                                         DESC, e.vec_id) AS rn
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid) t
    WHERE rn <= 3
    """,
    tags=("llm", "similarity"),
)
def llm_simsearch_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN: top-3 neighbors for each of 10 query vectors in one
    plan — broadcast the query block, one scan of the corpus, ranking
    window per query. This is the nearest-neighbor-join shape of a
    training-data curation pass (dedup against a seed set, retrieval
    eval), linear in corpus size."""
    # corpus-side norm computed once per row (not once per (row, query)
    # pair); query-side norms ride in the broadcast — same arithmetic
    # as cosine_expr with 10x less norm work
    e = spread(load_table(spark, sf_dir, "embeddings")).withColumn(
        "nrm", F.expr(norm_expr("embedding", DIM)))
    q = (e.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
                 F.col("nrm").alias("qn")))
    cos = F.expr(f"({dot_expr('embedding', 'qe', DIM)} / (nrm * qn))")
    w = Window.partitionBy("qid").orderBy(F.desc(F.round("c", 4)), F.asc("vec_id"))
    return (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("c", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("qid", F.col("vec_id").alias("neighbor_id"),
                F.round("c", 4).alias("cos_sim"), "rank")
    )


@register(
    "llm_corpus_stats",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT lang) AS n_langs,
           {davg_sql('n_chars')} AS avg_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents GROUP BY source
    """,
    tags=("llm", "text"),
)
def llm_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus profile — the first query of any data audit."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.expr(davg_sql("n_chars")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
