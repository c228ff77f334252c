"""Lakehouse maintenance pins — the claims the oracled queries can't
express: file counts actually drop under compaction, VACUUM physically
deletes bytes and breaks expired reads, manifest stats actually prune
files, tombstone deletes rewrite nothing, and incremental reads
reconstruct the table. Built on tmp_path (not the staged dirs) so the
mutation sequences are exercised fresh every run."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from event_streaming_bnpl_demo_spark.operators.laketable import LakeTable
from event_streaming_bnpl_demo_spark.sources import load_table

from .conftest import SF_SMOKE


def _orders(spark):
    return load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice")


def _counts(df):
    return sorted(map(tuple, df.groupBy("o_orderstatus")
                      .agg(F.count(F.lit(1)).alias("n")).collect()))


def test_compaction_reduces_files_and_scan_partitions(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    o = _orders(spark)
    t.create(o, n_files=32)
    t.compact(n_files=4)
    assert t.file_count(0) == 32
    assert t.file_count(1) == 4
    # same rows, and the compacted scan plans over 8x fewer files
    assert _counts(t.read(0)) == _counts(t.read(1))
    assert len(t.read(0).inputFiles()) == 32
    assert len(t.read(1).inputFiles()) == 4


def test_vacuum_deletes_bytes_and_breaks_expired_reads(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    o = _orders(spark)
    t.create(o.filter(F.col("o_orderkey") % 2 == 0), n_files=8)
    t.append(o.filter(F.col("o_orderkey") % 2 == 1), n_files=8)
    t.compact(n_files=4)
    want = _counts(t.read(2))
    n_before = len(os.listdir(tmp_path / "t" / "data"))
    audit = t.expire(keep_last=1)
    n_after = len(os.listdir(tmp_path / "t" / "data"))
    # all 16 pre-compaction files physically deleted, survivors intact
    assert audit == {"expired_snapshots": 2, "files_removed": 16,
                     "live_files": 4}
    assert n_before - n_after == 16 and n_after == 4
    assert _counts(t.read()) == want
    with pytest.raises(ValueError, match="expired"):
        t.read(0)
    with pytest.raises(ValueError, match="expired"):
        t.read(1)


def test_cluster_rewrite_prunes_files(spark, tmp_path):
    import datetime as dt

    t = LakeTable(spark, str(tmp_path / "t"), stat_cols=("o_orderdate",))
    t.create(_orders(spark), n_files=8)          # arrival order
    lo, hi = dt.datetime(1997, 1, 1), dt.datetime(1998, 1, 1)
    # arrival-ordered files: every file overlaps a one-year window
    paths0, total0 = t.prune_files({"o_orderdate": (lo, hi)}, version=0)
    assert len(paths0) == total0 == 8
    t.cluster(by=["o_orderdate"], n_files=8)
    paths1, total1 = t.prune_files({"o_orderdate": (lo, hi)})
    assert total1 == 8
    assert len(paths1) < total1, "clustered stats must prune files"
    # pruned read + residual filter == full read + filter, exactly
    pred = (F.col("o_orderdate") >= F.lit(lo)) & \
           (F.col("o_orderdate") < F.lit(hi))
    full = sorted(map(tuple, t.read().filter(pred).collect()))
    pruned = sorted(map(tuple,
                        t.read_pruned({"o_orderdate": (lo, hi)})
                        .filter(pred).collect()))
    assert pruned == full and len(full) > 0


def test_merge_on_read_delete_rewrites_nothing(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    o = _orders(spark)
    t.create(o, n_files=4)
    files_v0 = {f["path"] for f in t.manifest(0)["files"]}
    t.delete_where(o.filter(F.col("o_orderkey") % 10 == 3),
                   key_cols=["o_orderkey"])
    m1 = t.manifest(1)
    # data files untouched; one tombstone added
    assert {f["path"] for f in m1["files"]} == files_v0
    assert len(m1["delete_files"]) == 1
    n_all = t.read(0).count()
    n_del = o.filter(F.col("o_orderkey") % 10 == 3).count()
    assert t.read(1).count() == n_all - n_del
    # pre-delete snapshot still reads everything
    assert t.read(0).count() == n_all


def test_incremental_reads_reconstruct_table(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    o = _orders(spark)
    t.create(o.filter(F.col("o_orderkey") % 4 < 2), n_files=4)
    t.append(o.filter(F.col("o_orderkey") % 4 == 2), n_files=4)
    t.append(o.filter(F.col("o_orderkey") % 4 == 3), n_files=4)
    base = t.read(0)
    inc1 = t.incremental(since=0, version=1)
    inc2 = t.incremental(since=1, version=2)
    rebuilt = sorted(map(tuple,
                         base.unionByName(inc1).unionByName(inc2).collect()))
    assert rebuilt == sorted(map(tuple, t.read(2).collect()))
    assert inc1.count() == o.filter(F.col("o_orderkey") % 4 == 2).count()
    # empty delta: same-version incremental yields zero rows
    assert t.incremental(since=2, version=2).count() == 0


def test_schema_evolution_nulls_for_old_files(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"))
    p = load_table(spark, SF_SMOKE, "part").select(
        "p_partkey", "p_brand", "p_retailprice")
    t.create(p.filter(F.col("p_partkey") % 2 == 0)
             .drop("p_retailprice"), n_files=2)
    t.append(p.filter(F.col("p_partkey") % 2 == 1), n_files=2)
    merged = t.read()
    assert "p_retailprice" in merged.columns
    nulls = merged.filter(F.col("p_retailprice").isNull())
    assert nulls.count() == p.filter(F.col("p_partkey") % 2 == 0).count()


def test_zorder_box_prunes_multiplicatively(spark, tmp_path):
    """The Z-order claims: (1) the 2-D box prune reads STRICTLY fewer
    files than pruning on either single dimension, (2) every dimension
    alone already prunes below the total (locality held for both
    columns simultaneously), and (3) the pruned+filtered rows equal
    the full-table filter exactly."""
    import datetime as dt

    from event_streaming_bnpl_demo_spark.plans.queries_lake import (
        _interleave_sql)

    o = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus")
    b = o.agg(F.max("o_custkey").alias("mx"),
              F.min(F.to_date("o_orderdate")).alias("d0"),
              F.max(F.to_date("o_orderdate")).alias("d1")).collect()[0]
    mx, d0 = int(b["mx"]), b["d0"]
    span = (b["d1"] - d0).days + 1
    zx = f"(o_custkey * 1024) DIV {mx + 1}"
    zy = (f"(datediff(o_orderdate, DATE '{d0.isoformat()}') * 1024)"
          f" DIV {span}")
    oz = o.withColumn("zval",
                      F.expr(_interleave_sql(f"({zx})", f"({zy})")))

    t = LakeTable(spark, str(tmp_path / "z"),
                  stat_cols=("o_custkey", "o_orderdate"))
    t.create(oz, n_files=16)
    t.cluster(by=["zval"], n_files=16)

    lo_k, hi_k = (mx * 2) // 10, (mx * 3) // 10
    lo_d, hi_d = dt.datetime(1995, 7, 1), dt.datetime(1996, 7, 1)
    k_files, total = t.prune_files({"o_custkey": (lo_k, hi_k)})
    d_files, _ = t.prune_files({"o_orderdate": (lo_d, hi_d)})
    box_files, _ = t.prune_files({"o_custkey": (lo_k, hi_k),
                                  "o_orderdate": (lo_d, hi_d)})
    assert len(k_files) < total and len(d_files) < total, \
        "each dimension alone must prune (locality on both columns)"
    assert len(box_files) < min(len(k_files), len(d_files)), \
        "the 2-D box must prune multiplicatively, not min-of-1-D"

    pruned = (t.read_pruned({"o_custkey": (lo_k, hi_k),
                             "o_orderdate": (lo_d, hi_d)})
              .filter((F.col("o_custkey") >= lo_k)
                      & (F.col("o_custkey") <= hi_k)
                      & (F.col("o_orderdate") >= F.lit(lo_d))
                      & (F.col("o_orderdate") < F.lit(hi_d))))
    full = o.filter((F.col("o_custkey") >= lo_k)
                    & (F.col("o_custkey") <= hi_k)
                    & (F.col("o_orderdate") >= F.lit(lo_d))
                    & (F.col("o_orderdate") < F.lit(hi_d)))
    assert sorted(r["o_orderkey"] for r in pruned.collect()) == \
        sorted(r["o_orderkey"] for r in full.collect())


def test_bloom_index_point_lookup(spark, tmp_path):
    """The bloom index must (a) never produce false negatives — the
    point read equals the full filter for every probed key, including
    absent ones — and (b) actually skip files for a needle key on a
    date-clustered table where zone maps cannot."""
    o = _orders(spark)
    t = LakeTable(spark, str(tmp_path / "t"), stat_cols=("o_orderdate",))
    t.create(o, n_files=6)
    t.cluster(["o_orderdate"], n_files=6)   # orderkey spans every file
    t.build_bloom("o_orderkey")

    probe = 421
    cand, total = t.bloom_candidates("o_orderkey", probe)
    assert total == 6
    assert len(cand) < total, "bloom must skip files for a needle key"
    got = sorted(r["o_orderkey"] for r in
                 t.read_point("o_orderkey", probe).collect())
    want = sorted(r["o_orderkey"] for r in
                  o.filter(F.col("o_orderkey") == probe).collect())
    assert got == want and len(got) == 1
    # absent key: no false negatives means provably-empty is correct
    assert t.read_point("o_orderkey", 10**9).count() == 0
    # the bloom commit is a new snapshot; the parent still reads clean
    assert t.read(version=t.latest() - 1).count() == o.count()


def test_bloom_index_refuses_mismatched_key_types(spark, tmp_path):
    """The no-false-negative guarantee holds only when the build-side
    Spark CAST(col AS STRING) equals the probe-side Python str(value):
    true for integers and strings, false for doubles ('1.0E-7' vs
    '1e-07'), booleans, timestamps. Both ends must refuse the unsafe
    types instead of silently dropping rows at read_point."""
    o = _orders(spark)
    t = LakeTable(spark, str(tmp_path / "t"))
    t.create(o, n_files=3)
    with pytest.raises(ValueError, match="unsupported key type"):
        t.build_bloom("o_totalprice")          # double column
    t.build_bloom("o_orderkey")                # bigint: allowed
    t.build_bloom("o_orderstatus")             # string: allowed
    with pytest.raises(TypeError, match="probe value"):
        t.bloom_candidates("o_orderkey", 421.0)
    with pytest.raises(TypeError, match="probe value"):
        t.bloom_candidates("o_orderkey", True)
    # string keys round-trip exactly like ints
    cand, total = t.bloom_candidates("o_orderstatus", "F")
    assert 0 < len(cand) <= total
    got = t.read_point("o_orderstatus", "F").count()
    assert got == o.filter(F.col("o_orderstatus") == "F").count()
