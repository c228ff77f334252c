"""Lakehouse table-maintenance tier: snapshot time travel with
retention/VACUUM, small-file compaction, clustering rewrite with
manifest-stat file pruning, merge-on-read deletes, schema-evolution
reads, and incremental (CDC-style) snapshot consumption — over the
minimal manifest format in :mod:`..operators.laketable`.

Why this tier exists at 100 TB: streaming sinks fragment (a
``maxFilesPerTrigger`` pipeline lands thousands of small files a day),
deletes can't rewrite petabytes (tombstones + anti-join instead),
point-in-time reads must pin to a snapshot while maintenance rewrites
run, and retention must eventually reclaim bytes without breaking the
snapshots that survive. Each query builds its table ONCE under a
content-keyed staged dir (:func:`..plans.queries_ext.stage_once` —
the full commit sequence runs inside the staging write), then reads
it; the DuckDB oracle recomputes the same answer from the base tables,
so every maintenance operation is proven data-invariant.

The reference has no table layer at all (MySQL upsert sink,
``consumer/consumer.go:180-220``); this tier is part of the mandated
100 TB surface beyond it (SURVEY.md §2.2).
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.laketable import LakeTable
from ..sources import load_table
from .catalog import register
from .queries_ext import source_fingerprint, stage_once
from .sqlcompat import dsum, dsum_sql


def _staged_table(spark: SparkSession, sf_dir: str, tag: str,
                  build, stat_cols: tuple[str, ...] = ()) -> LakeTable:
    """Build a lake table once per (tag, source fingerprint) by running
    ``build(table)`` inside the staged write; reuse it afterwards. The
    tag doubles as the logic-version token — bump it when the build
    sequence changes, or reruns serve a stale layout. The key also
    carries :attr:`LakeTable.FORMAT`, so a manifest-layout change
    restages every table."""
    def write_fn(tmp: str) -> None:
        build(LakeTable(spark, tmp, stat_cols=stat_cols))

    root = stage_once(f"lake_{tag}_f{LakeTable.FORMAT}_"
                      f"{source_fingerprint(sf_dir)}", write_fn)
    return LakeTable(spark, root, stat_cols=stat_cols)


@register(
    "lake_snapshot_append_reads",
    oracle=f"""
    SELECT CAST(a.v AS BIGINT) AS as_of,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {dsum_sql('o_totalprice')} AS total_price
    FROM orders JOIN (VALUES (0), (1), (2)) a(v)
      ON o_orderkey % 3 <= a.v
    GROUP BY a.v
    """,
    tags=("lake", "snapshot", "timetravel"),
)
def lake_snapshot_append_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append commits + snapshot-pinned reads: three commits each add a
    disjoint third of orders; reading AS OF v must see exactly the
    first v+1 thirds — the isolation contract that lets maintenance
    and ingestion run while readers keep a stable view. Each snapshot
    read costs ONE manifest (a file list), never a log replay.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")

    def build(t: LakeTable) -> None:
        t.create(o.filter(F.col("o_orderkey") % 3 == 0), n_files=4)
        t.append(o.filter(F.col("o_orderkey") % 3 == 1), n_files=4)
        t.append(o.filter(F.col("o_orderkey") % 3 == 2), n_files=4)

    t = _staged_table(spark, sf_dir, "appends_v1", build)
    frames = [
        t.read(v).agg(F.count(F.lit(1)).alias("n_orders"),
                      dsum("o_totalprice", "total_price"))
        .select(F.lit(v).cast("bigint").alias("as_of"),
                "n_orders", "total_price")
        for v in (0, 1, 2)
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


@register(
    "lake_compaction_preserves",
    oracle=f"""
    SELECT CAST(a.v AS BIGINT) AS as_of, l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {dsum_sql('l_quantity')} AS sum_qty
    FROM lineitem JOIN (VALUES (0), (1)) a(v) ON true
    GROUP BY a.v, l_returnflag
    """,
    tags=("lake", "compaction", "maintenance"),
)
def lake_compaction_preserves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction is data-invariant: v0 lands 32 fragment
    files (a streaming sink's natural output), v1 rewrites them into 4;
    the same aggregate over BOTH snapshots must be identical — and
    equal to the base-table oracle. The file-count and plan-shape
    claims (32 -> 4 files, fewer scan partitions) are pinned in
    ``tests/test_lake.py``; this query proves the rows.

    Scale: compaction reads live rows once and writes once — O(bytes)
    with no shuffle beyond the repartition; readers of v0 are
    untouched while it runs (new files + new manifest, old snapshot
    intact), which is what makes maintenance safe to run continuously
    against a 100 TB table.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity")

    def build(t: LakeTable) -> None:
        t.create(li, n_files=32)
        t.compact(n_files=4)

    t = _staged_table(spark, sf_dir, "compact_v1", build)
    frames = [
        t.read(v).groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             dsum("l_quantity", "sum_qty"))
        .select(F.lit(v).cast("bigint").alias("as_of"),
                "l_returnflag", "n_rows", "sum_qty")
        for v in (0, 1)
    ]
    return frames[0].unionByName(frames[1])


@register(
    "lake_vacuum_retention",
    oracle=f"""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {dsum_sql('o_totalprice')} AS total_price
    FROM orders GROUP BY 1
    """,
    tags=("lake", "vacuum", "retention", "maintenance"),
)
def lake_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention/VACUUM: after create + append + compact, expiring all
    but the last snapshot physically deletes every pre-compaction file
    (the append generation AND the create generation — nothing else
    references them), yet the surviving snapshot still answers exactly
    the full-table aggregate. Expiry-breaks-old-reads and
    files-actually-deleted are pinned in ``tests/test_lake.py``; this
    query proves the surviving snapshot's data is intact.

    Scale: expire() touches manifests and unlinks files — metadata
    work only, no data scan; bytes reclaimed are the fragmented
    generations a continuously-compacted 100 TB table would otherwise
    accrete forever.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")

    def build(t: LakeTable) -> None:
        t.create(o.filter(F.col("o_orderkey") % 2 == 0), n_files=8)
        t.append(o.filter(F.col("o_orderkey") % 2 == 1), n_files=8)
        t.compact(n_files=4)
        t.expire(keep_last=1)

    t = _staged_table(spark, sf_dir, "vacuum_v1", build)
    return (t.read().groupBy(F.col("o_orderstatus").alias("status"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 dsum("o_totalprice", "total_price")))


@register(
    "lake_cluster_prune_scan",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {dsum_sql('o_totalprice')} AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1
    """,
    tags=("lake", "clustering", "pruning", "maintenance"),
)
def lake_cluster_prune_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering rewrite + manifest-stat pruning: the table is
    range-partitioned by ``o_orderdate`` into 8 sorted files, so the
    per-file min/max stats in the manifest are disjoint date ranges;
    a one-year predicate then plans a scan over only the files whose
    range intersects it (driver-side manifest math, zero data bytes)
    and the residual filter inside those files gives exactly the
    base-table answer. The files-scanned < files-total claim is
    pinned in ``tests/test_lake.py``.

    Scale: this is THE mechanism that turns a 100 TB chronological
    table into a ~TB scan for a one-year query when the data didn't
    arrive in date order — the Z-order-lite half of every lakehouse
    maintenance suite (one dimension range-clustered; true Z-order
    interleaves two, same rewrite machinery).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority", "o_totalprice")

    def build(t: LakeTable) -> None:
        t.create(o, n_files=8)                       # arrival order
        t.cluster(by=["o_orderdate"], n_files=8)     # maintenance pass

    t = _staged_table(spark, sf_dir, "cluster_v1", build,
                      stat_cols=("o_orderdate",))
    # half-open [1997, 1998): the prune window's hi is inclusive at
    # stat granularity, the residual filter applies the exact bound
    lo, hi = _dt.datetime(1997, 1, 1), _dt.datetime(1998, 1, 1)
    return (t.read_pruned({"o_orderdate": (lo, hi)})
            .filter((F.col("o_orderdate") >= F.lit(lo))
                    & (F.col("o_orderdate") < F.lit(hi)))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 dsum("o_totalprice", "total_price")))


@register(
    "lake_merge_on_read_deletes",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {dsum_sql('c_acctbal')} AS total_bal
    FROM customer
    WHERE c_custkey % 10 <> 3
    GROUP BY 1
    """,
    tags=("lake", "delete", "merge-on-read", "maintenance"),
)
def lake_merge_on_read_deletes(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Merge-on-read delete: a delete commit writes ONLY the key
    tombstones (one small file); readers anti-join them against the
    data files. No data file is rewritten — at 100 TB a copy-on-write
    delete of scattered keys would rewrite nearly every file, while
    the tombstone is O(deleted keys) to write and one broadcast-able
    anti-join to apply. The pre-delete snapshot still reads the full
    data (pinned in ``tests/test_lake.py``).
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal")

    def build(t: LakeTable) -> None:
        t.create(c, n_files=4)
        t.delete_where(c.filter(F.col("c_custkey") % 10 == 3),
                       key_cols=["c_custkey"])

    t = _staged_table(spark, sf_dir, "mordel_v1", build)
    return (t.read().groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 dsum("c_acctbal", "total_bal")))


@register(
    "lake_schema_evolution_read",
    oracle=f"""
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           {dsum_sql("CASE WHEN p_partkey % 2 = 1"
                     " THEN p_retailprice ELSE 0 END")} AS priced_total
    FROM part GROUP BY 1
    """,
    tags=("lake", "schema-evolution"),
)
def lake_schema_evolution_read(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Schema evolution across snapshots: v0's files lack
    ``p_retailprice``; the v1 append introduces it into the manifest's
    schema, and a latest read under that schema surfaces NULL for the
    new column in the old files — so adding a column to a 100 TB table
    is a metadata operation, not a rewrite. Aggregating
    ``coalesce(new_col, 0)`` over the merged read must equal the oracle
    that prices only the v1 rows.
    """
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice")

    def build(t: LakeTable) -> None:
        t.create(p.filter(F.col("p_partkey") % 2 == 0)
                 .drop("p_retailprice"), n_files=4)
        t.append(p.filter(F.col("p_partkey") % 2 == 1), n_files=4)

    t = _staged_table(spark, sf_dir, "schevo_v1", build)
    return (t.read().groupBy("p_brand")
            .agg(F.count(F.lit(1)).alias("n_parts"),
                 dsum("coalesce(p_retailprice, 0)", "priced_total")))


@register(
    "lake_incremental_read",
    oracle=f"""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {dsum_sql('o_totalprice')} AS total_price
    FROM orders
    WHERE o_orderkey % 4 >= 2
    GROUP BY 1
    """,
    tags=("lake", "incremental", "cdc"),
)
def lake_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot consumption: a downstream job that already
    processed snapshot v0 reads ONLY the files added since (the v1 and
    v2 append generations) — file-level CDC from the manifest diff,
    costing O(delta), never a base rescan. This is how a 100 TB
    table feeds its consumers: each sees each appended file exactly
    once, and the union of increments reconstructs the table.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")

    def build(t: LakeTable) -> None:
        t.create(o.filter(F.col("o_orderkey") % 4 < 2), n_files=4)
        t.append(o.filter(F.col("o_orderkey") % 4 == 2), n_files=4)
        t.append(o.filter(F.col("o_orderkey") % 4 == 3), n_files=4)

    t = _staged_table(spark, sf_dir, "incr_v1", build)
    return (t.incremental(since=0)
            .groupBy(F.col("o_orderstatus").alias("status"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 dsum("o_totalprice", "total_price")))


def _interleave_sql(x: str, y: str, bits: int = 10) -> str:
    """Bit-interleave two ``bits``-wide non-negative ints into a
    Z-value (Morton code) as a SQL expression string: x's bit i lands
    at position 2i, y's at 2i+1. The terms occupy disjoint bit
    positions, so ``+`` is exactly ``|``."""
    terms = []
    for i in range(bits):
        terms.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i})")
        terms.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1})")
    return " + ".join(terms)


@register(
    "lake_zorder_prune",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {dsum_sql('o_totalprice')} AS total_price
    FROM orders
    WHERE o_custkey >= (SELECT MAX(o_custkey) * 2 // 10 FROM orders)
      AND o_custkey <= (SELECT MAX(o_custkey) * 3 // 10 FROM orders)
      AND o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
    GROUP BY 1
    """,
    tags=("lake", "zorder", "clustering", "pruning", "maintenance"),
)
def lake_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Z-order clustering — the two-dimensional completion of
    ``lake_cluster_prune_scan``'s one-dimensional range clustering.
    Each row's customer key and order date are first bucketed
    MONOTONICALLY into 1024 cells (quantile-style ``v*1024 DIV
    (max+1)``, never modulo — a wrap would let one file's raw-column
    min/max span the whole domain and kill stat pruning), then
    bit-interleaved into a Morton code; the maintenance pass
    range-partitions and sorts by that code. Locality on the Z-curve
    keeps BOTH natural columns' per-file [min, max] narrow
    simultaneously, so a 2-D box predicate (customer band x one year)
    prunes on plain per-file stats of the RAW columns — no BIGMIN
    z-range math needed at read time, which is exactly how production
    lakehouse Z-ordering works. A box query then plans over the few
    files whose rectangles intersect it (``prune_files``:
    conjunctive manifest math, zero data bytes) and the residual
    filter restores exact bounds. The files-read ordering
    box < date-only < total is pinned in ``tests/test_lake.py``.

    The customer band is DATA-DERIVED ([20%, 30%] of max key, exact
    integer floor division on both engines), so the box stays
    non-vacuous at every scale factor.

    Scale: at 100 TB this turns "one year x one customer segment" from
    a full scan into reading ~(selectivity_x x selectivity_y) of the
    files — multiplicative pruning that 1-D clustering cannot give;
    the clustering pass itself is one range-exchange + local sort,
    same cost shape as compaction.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus",
        "o_totalprice")
    b = o.agg(F.max("o_custkey").alias("mx"),
              F.min(F.to_date("o_orderdate")).alias("d0"),
              F.max(F.to_date("o_orderdate")).alias("d1")).collect()[0]
    mx, d0 = int(b["mx"]), b["d0"]
    span = (b["d1"] - d0).days + 1
    zx = f"(o_custkey * 1024) DIV {mx + 1}"
    zy = (f"(datediff(o_orderdate, DATE '{d0.isoformat()}') * 1024)"
          f" DIV {span}")
    oz = o.withColumn(
        "zval", F.expr(_interleave_sql(f"({zx})", f"({zy})")))

    def build(t: LakeTable) -> None:
        t.create(oz, n_files=16)                 # arrival order
        t.cluster(by=["zval"], n_files=16)       # Z-order maintenance

    t = _staged_table(spark, sf_dir, "zorder_v1", build,
                      stat_cols=("o_custkey", "o_orderdate"))
    lo_k, hi_k = (mx * 2) // 10, (mx * 3) // 10
    lo_d = _dt.datetime(1995, 7, 1)
    hi_d = _dt.datetime(1996, 7, 1)
    return (t.read_pruned({"o_custkey": (lo_k, hi_k),
                           "o_orderdate": (lo_d, hi_d)})
            .filter((F.col("o_custkey") >= lo_k)
                    & (F.col("o_custkey") <= hi_k)
                    & (F.col("o_orderdate") >= F.lit(lo_d))
                    & (F.col("o_orderdate") < F.lit(hi_d)))
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 dsum("o_totalprice", "total_price")))
