"""Semantic laws for the ext21 pack — checks that do NOT mirror the
oracle formula (the driver gate does that) but pin what the operators
GUARANTEE:

- The catalog-registered bucketed join must plan SortMergeJoin with no
  Exchange on either input when broadcast is off — the zero-shuffle
  promise the bucketed layout exists for, pinned on the exact plan the
  driver runs.
- Range boundaries must actually BALANCE: routing every row through
  the published boundaries lands ceil(i*n/k)-conformant bucket sizes
  (the property a range partitioner buys with them).
- M4 is error-free for min-max rendering: per bucket, the envelope
  (min, max) and the endpoints (first, last) of the FULL series are
  all present in the downsampled point set.
- The IPv4/CIDR scalars agree with an independent Python hashlib/int
  reimplementation row-for-row.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
from collections import Counter

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_catalog_join_is_shuffle_free(spark):
    """The driver-facing query itself (not just the staging helper)
    must plan the exchange-free SortMergeJoin when broadcast is off."""
    from event_streaming_bnpl_demo_spark.plans.queries_ext21 import \
        join_bucketed_colocated

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan_text(join_bucketed_colocated(spark, SF))
        assert "SortMergeJoin" in plan
        join_section = plan.split("HashAggregate")[0]
        assert "Exchange" not in join_section, join_section
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_m4_and_decompose_materialize_the_daily_rollup(spark):
    """Both seasonal/downsample queries feed the daily rollup to two
    consumers; the rollup must be localCheckpointed so the ORDERS scan
    runs once at build — the returned plan must not re-scan the fact
    table (the stat_bootstrap_ci pin convention)."""
    from event_streaming_bnpl_demo_spark.plans.queries_ext21 import \
        ts_downsample_m4
    from event_streaming_bnpl_demo_spark.plans.queries_ext23 import \
        ts_seasonal_decompose

    assert _plan_text(ts_downsample_m4(spark, SF)).count(
        "orders.parquet") == 0
    assert _plan_text(ts_seasonal_decompose(spark, SF)).count(
        "orders.parquet") == 0


def test_range_boundaries_balance_the_partition(spark):
    """Routing rows by the published boundaries (bucket i = first i
    with cents <= b_i, else k-1) must reproduce the exact rank split:
    bucket i holds rows with rank in (ceil(i*n/k), ceil((i+1)*n/k)] —
    sizes are fixed by n and k alone, BEFORE ties are even considered,
    because the boundary pick is rank-based with a total tie-break."""
    from event_streaming_bnpl_demo_spark.plans.queries_ext21 import (
        _K_PARTS, etl_range_boundaries)

    row = etl_range_boundaries(spark, SF).collect()[0]
    n = row["n_rows"]
    bounds = [row[f"b{i}"] for i in range(1, _K_PARTS)]
    assert bounds == sorted(bounds)

    cents = [r["c"] for r in spark.read.parquet(f"{SF}/orders.parquet")
             .select(F.expr(
                 "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)")
                 .alias("c")).collect()]
    assert len(cents) == n
    marks = [-(-i * n // _K_PARTS) for i in range(1, _K_PARTS)]  # ceil
    ordered = sorted(cents)
    # the boundary VALUE is the element at rank ceil(i*n/k)
    assert bounds == [ordered[m - 1] for m in marks]
    # and cumulative mass through each boundary covers that rank (ties
    # can only push the <= count ABOVE the mark, never below)
    for b, m in zip(bounds, marks):
        assert sum(1 for c in cents if c <= b) >= m


def test_m4_keeps_the_full_series_envelope(spark):
    """Per bucket, the true min/max/first/last of the complete daily
    series must appear among the downsampled points — the lossless
    min-max-rendering guarantee that distinguishes M4 from sampling."""
    from event_streaming_bnpl_demo_spark.plans.queries_ext21 import (
        _M4_BUCKETS, ts_downsample_m4)

    pts = ts_downsample_m4(spark, SF).collect()
    daily = (spark.read.parquet(f"{SF}/orders.parquet")
             .groupBy(F.to_date("o_orderdate").alias("d"))
             .agg(F.sum(F.expr(
                 "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"))
                 .alias("x"))
             .collect())
    d0 = min(r["d"] for r in daily)
    span = (max(r["d"] for r in daily) - d0).days + 1
    full: dict[int, list] = {}
    for r in daily:
        full.setdefault((r["d"] - d0).days * _M4_BUCKETS // span, []).append(r)
    kept = {(r["bucket"], r["d"], r["cents"]) for r in pts}
    for b, rows in full.items():
        xs = [r["x"] for r in rows]
        ds = [r["d"] for r in rows]
        by_d = {r["d"]: r["x"] for r in rows}
        for d in (min(ds), max(ds)):                      # first, last
            assert (b, d, by_d[d]) in kept
        for x in (min(xs), max(xs)):                      # envelope
            assert any(k[0] == b and k[2] == x for k in kept)
    # and nothing outside the point set pretends to be a daily value
    all_pts = {((r["d"] - d0).days * _M4_BUCKETS // span, r["d"], r["x"])
               for r in daily}
    assert kept <= all_pts


def test_ip_cidr_matches_python_reimplementation(spark):
    from event_streaming_bnpl_demo_spark.plans.queries_ext21 import (
        _IP_BLOCK, _IP_PREFIX_BITS, scalar_ip_cidr)

    keys = [r["c_custkey"] for r in
            spark.read.parquet(f"{SF}/customer.parquet")
            .select("c_custkey").collect()]
    ips = []
    for k in keys:
        h = hashlib.md5(str(k).encode()).hexdigest()
        o = [int(h[i:i + 2], 16) for i in (0, 2, 4, 6)]
        ips.append((o[0] << 24) | (o[1] << 16) | (o[2] << 8) | o[3])
    nets = Counter(ip // _IP_BLOCK * _IP_BLOCK for ip in ips)
    dist: dict[int, set] = {}
    for ip in ips:
        dist.setdefault(ip // _IP_BLOCK * _IP_BLOCK, set()).add(ip)
    expect = sorted(
        ((f"{n >> 24}.{(n >> 16) & 255}.0.0/{_IP_PREFIX_BITS}",
          c, len(dist[n])) for n, c in nets.items()),
        key=lambda t: (-t[1], t[0]))[:20]
    got = [(r["subnet"], r["n_ips"], r["n_distinct"])
           for r in scalar_ip_cidr(spark, SF).collect()]
    assert got == expect


def test_dataset_card_dup_rate_reacts_to_duplicates(spark):
    """Card invariants on the real corpus: a populated snapshot, a
    dup-rate inside [0, 1) (it is a PROPER fraction of docs, not of
    pairs), and at least one token per document."""
    from event_streaming_bnpl_demo_spark.plans.queries_ext21 import \
        llm_dataset_card

    card = llm_dataset_card(spark, SF).collect()[0]
    assert card["n_docs"] > 0
    assert 0.0 <= card["dup_rate"] < 1.0
    assert card["total_tokens"] >= card["n_docs"]  # >=1 token per doc
