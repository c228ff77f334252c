"""Physical-plan regression tests: the scale properties the engine
relies on at 100 TB — predicate pushdown into the parquet scan, column
pruning, broadcast selection for small dimensions, map-side partial
aggregation, and top-k as TakeOrdered rather than a global sort — are
asserted against the explain output so a refactor cannot silently lose
them. (Correctness tests would still pass with a 100x-slower plan;
these fail instead.)"""

from __future__ import annotations

import contextlib
import io

from event_streaming_bnpl_demo_spark.plans import all_queries

from .conftest import SF_SMOKE

QUERIES = all_queries()


def plan_of(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q6_pushdown_and_pruning(spark):
    """Q6 is pure scan-agg: every predicate must reach the reader and
    only the 4 referenced columns may be read."""
    plan = plan_of(spark, "q6_forecast_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "LessThan(l_quantity" in plan
    # pruned scan: key/price columns the query never touches stay unread
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in read and "l_tax" not in read
    assert "l_shipdate" in read and "l_extendedprice" in read


def test_q10_broadcast_and_takeordered(spark):
    """Small dims broadcast; top-20 is per-partition heaps + driver
    merge (TakeOrderedAndProject), never a global sort."""
    plan = plan_of(spark, "q10_returned_items")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(l_returnflag,R)" in plan  # filter before the join


def test_q3_filters_reach_scans(spark):
    plan = plan_of(spark, "q3_shipping_priority")
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "GreaterThan(l_shipdate" in plan
    assert "TakeOrderedAndProject" in plan


def test_q1_partial_aggregation(spark):
    """Grouped agg must combine map-side (partial_sum) before the
    exchange — the difference between shuffling 6 rows per partition
    and shuffling the whole fact table."""
    plan = plan_of(spark, "q1_pricing_summary")
    assert "partial_sum" in plan
    exchanges = plan.count("Exchange")
    assert exchanges <= 2  # one shuffle for the agg (plus AQE read)


def test_q5_star_join_broadcasts_dims(spark):
    """region/nation (and at this SF customer/orders too) broadcast;
    the plan must not shuffle the fact table for a dimension join."""
    plan = plan_of(spark, "q5_region_revenue")
    assert "BroadcastHashJoin" in plan


def test_udf_tiers_plan_as_declared(spark):
    """The pandas_udf query must execute as ArrowEvalPython (vectorized
    Arrow batches); the row-at-a-time exhibit as BatchEvalPython
    (pickled rows). If the fast tier ever silently degrades to row
    pickling, this fails."""
    fast = plan_of(spark, "udf_pandas_tokens")
    assert "ArrowEvalPython" in fast and "BatchEvalPython" not in fast
    slow = plan_of(spark, "udf_python_scalar")
    assert "BatchEvalPython" in slow


def test_partitioned_layout_prunes(spark, tmp_path):
    """Events written partitioned by day + a one-day predicate must scan
    ONE partition directory (partition pruning) — the deploy-time layout
    DESIGN.md prescribes for the event log at 100 TB."""
    import contextlib
    import io
    import os

    from pyspark.sql import functions as F

    from event_streaming_bnpl_demo_spark.sources import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    out = str(tmp_path / "events_by_day")
    (ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
       .write.partitionBy("day").parquet(out))
    n_days = len([d for d in os.listdir(out) if d.startswith("day=")])
    assert n_days > 1

    df = (spark.read.parquet(out)
          .filter(F.col("day") == "2024-01-02")
          .select("event_id", "event_type"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the day predicate becomes a PartitionFilter, not a data filter
    assert "PartitionFilters" in plan and "day=2024-01-02" not in plan
    line = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "2024-01-02" in line
    # and the pruned read returns exactly that day's rows
    want = ev.filter(F.date_format("ts", "yyyy-MM-dd") == "2024-01-02").count()
    assert df.count() == want > 0


def test_topk_per_group_no_global_sort(spark):
    """Per-group top-k via window must sort within partitions
    (partitionBy pushes a hash exchange, not a range/global sort)."""
    plan = plan_of(spark, "topk_per_group")
    assert "rangepartitioning" not in plan.lower().replace(" ", "") or \
        "TakeOrderedAndProject" in plan


def test_maybe_broadcast_is_stats_gated(spark):
    """The stats-based broadcast hint must appear while the backing
    table is small and vanish once its measured on-disk size exceeds
    the threshold — the property that keeps q3/q5's local speedup from
    becoming a 100 TB broadcast of a fact table."""
    from pyspark.sql import functions as F

    from event_streaming_bnpl_demo_spark.sources import (load_table,
                                                         maybe_broadcast)

    li = load_table(spark, SF_SMOKE, "lineitem")
    o = load_table(spark, SF_SMOKE, "orders")

    hinted = maybe_broadcast(o, SF_SMOKE, "orders")
    plan = li.join(hinted, li.l_orderkey == hinted.o_orderkey)._jdf \
        .queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    unhinted = maybe_broadcast(o, SF_SMOKE, "orders", threshold=1)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan2 = li.join(unhinted, li.l_orderkey == unhinted.o_orderkey)._jdf \
            .queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan2
    finally:
        from event_streaming_bnpl_demo_spark.session import tune
        tune(spark)


def _session_stub(shuffle_partitions: str, parallelism: int = 3):
    """Just the two reads the graph tier's width rule makes of a
    session: the shuffle-partitions conf and the default parallelism."""
    from types import SimpleNamespace

    return SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: shuffle_partitions),
        sparkContext=SimpleNamespace(defaultParallelism=parallelism))


def test_graph_size_decision_unstattable_path_is_scale_safe(tmp_path):
    """A table path that cannot be statted (an object store) gets the
    scale-safe branch: no broadcast and the session's own width. One
    unstattable bounding table is enough to withhold the broadcast."""
    from event_streaming_bnpl_demo_spark.sources import (
        edge_layout_partitions, fits_broadcast)

    missing = str(tmp_path / "not-local")
    assert not fits_broadcast(missing, "customer", "supplier")
    assert edge_layout_partitions(_session_stub("32"), missing,
                                  "lineitem") == 32
    assert fits_broadcast(SF_SMOKE, "customer", "supplier")
    assert not fits_broadcast(SF_SMOKE, "customer", "no_such_table")


def test_graph_size_decision_sums_the_bounding_tables(monkeypatch):
    """The broadcast budget holds for the bounding tables together, not
    for each alone."""
    from event_streaming_bnpl_demo_spark.sources import tables

    customer = tables.table_disk_bytes(SF_SMOKE, "customer")
    monkeypatch.setattr(tables, "BROADCAST_DISK_BYTES", customer + 1)
    assert tables.fits_broadcast(SF_SMOKE, "customer")
    assert not tables.fits_broadcast(SF_SMOKE, "customer", "supplier")


def test_graph_layout_width_never_widens_a_narrow_session(monkeypatch):
    """The width is 1 partition per 4 MB of the driving table, floored
    at 8 and capped by spark.sql.shuffle.partitions; a session narrower
    than the floor keeps its own width."""
    from event_streaming_bnpl_demo_spark.sources import tables

    assert tables.edge_layout_partitions(_session_stub("4"), SF_SMOKE,
                                         "lineitem") == 4
    assert tables.edge_layout_partitions(_session_stub("32"), SF_SMOKE,
                                         "lineitem") == 8
    mib = 1024 * 1024
    for size, width in ((64 * mib, 16), (1024 * mib, 32)):
        monkeypatch.setattr(tables, "table_disk_bytes",
                            lambda sf_dir, name, size=size: size)
        assert tables.edge_layout_partitions(_session_stub("32"), SF_SMOKE,
                                             "lineitem") == width


def test_graph_layout_width_non_numeric_conf_uses_parallelism(tmp_path):
    """A non-numeric shuffle-partitions conf ("auto" on some platforms)
    falls back to the scheduler's default parallelism as the ceiling."""
    from event_streaming_bnpl_demo_spark.sources import edge_layout_partitions

    auto = _session_stub("auto", parallelism=3)
    assert edge_layout_partitions(auto, SF_SMOKE, "lineitem") == 3
    assert edge_layout_partitions(auto, str(tmp_path / "not-local"),
                                  "lineitem") == 3


def test_join_strategy_hints(spark):
    """All three equi-join strategies are selectable per-side: the
    default threshold broadcasts small dims, a shuffle_hash hint picks
    ShuffledHashJoin (no sort of either side — right when both sides
    are large but one fits per-partition in memory), and merge forces
    the sort-merge plan (right when both are huge; spillable)."""
    from pyspark.sql import functions as F

    from event_streaming_bnpl_demo_spark.sources import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    o = load_table(spark, SF_SMOKE, "orders")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shj = li.join(o.hint("shuffle_hash"),
                      li.l_orderkey == o.o_orderkey)._jdf \
            .queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in shj
        smj = li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)._jdf \
            .queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in smj
    finally:
        from event_streaming_bnpl_demo_spark.session import tune
        tune(spark)


def test_q21_single_fact_shuffle(spark):
    """q21's explicit orderkey clustering must serve both the
    (orderkey, suppkey) aggregate and the per-order window: exactly
    one fact-sized exchange (plus the tiny s_name agg), never the
    two-exchange plan the default planner produces."""
    import re

    plan = (QUERIES["q21_waiting_suppliers"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    fact_exchanges = [e for e in re.findall(r"Exchange hashpartitioning\(([^)]*)\)",
                                            plan) if "s_name" not in e]
    assert len(fact_exchanges) == 1, fact_exchanges
    assert "l_orderkey" in fact_exchanges[0]


def test_q8_semi_join_broadcasts_reduced_customer(spark):
    """q8's region-reduced customer key set must broadcast into the
    orders semi-join at test scale (stats-gated hint) — no sort-merge
    exchanges on custkey."""
    import re

    plan = (QUERIES["q8_market_share"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert not any("custkey" in e for e in ex), ex


def test_round2_tpch_pack_plan_shapes(spark):
    """The seven round-2 TPC-H topologies must keep their designed
    physical shapes: every base table scanned exactly ONCE (the
    correlated subqueries decorrelate into windows, never into
    aggregate+self-join re-scans), semi/anti probes stay semi/anti,
    and no join degrades to a nested-loop/cartesian plan."""
    import re

    expected = {   # name -> (scan multiset, must-contain markers)
        "q2_min_cost_supply": (
            ["lineitem", "nation", "part", "region", "supplier"],
            ["Window", "BroadcastHashJoin"]),
        "q4_priority_late_ship": (
            ["lineitem", "orders"], ["LeftSemi"]),
        "q9_product_type_profit": (
            ["lineitem", "nation", "orders", "part", "supplier"],
            ["BroadcastHashJoin"]),
        "q11_important_parts": (
            ["lineitem", "nation", "supplier"], ["Window"]),
        "q12_ship_lateness": (
            ["lineitem", "orders"], ["GreaterThanOrEqual(l_shipdate"]),
        "q16_supplier_diversity": (
            ["lineitem", "part", "supplier"], ["LeftAnti"]),
        "q20_heavy_promo_suppliers": (
            ["lineitem", "nation", "part", "supplier"], ["LeftSemi"]),
    }
    for name, (tables, markers) in expected.items():
        plan = (QUERIES[name].fn(spark, SF_SMOKE)._jdf
                .queryExecution().executedPlan().toString())
        scans = sorted(re.findall(r"Scan parquet.*?([a-z]+)\.parquet", plan))
        assert scans == tables, f"{name}: scans {scans} != {tables}"
        for m in markers:
            assert m in plan, f"{name}: missing {m}"
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_window_decorrelation_stays_single_scan(spark):
    """The window-decorrelated shapes (DESIGN.md finding 5) must not
    regress to aggregate+self-join plans that re-scan their fact
    input: executedPlan node counts pin the scan budget per query."""
    budgets = {            # max "Scan parquet" nodes allowed
        "q15_top_supplier": 2,       # lineitem + supplier
        "q17_small_qty_revenue": 2,  # lineitem + part
        "q18_large_volume": 3,       # lineitem + orders + customer
        "q21_waiting_suppliers": 3,  # lineitem + orders + supplier
        "llm_tfidf_top_terms": 2,    # documents (tokenize) + count
    }
    for name, budget in budgets.items():
        plan = (QUERIES[name].fn(spark, SF_SMOKE)._jdf
                .queryExecution().executedPlan().toString())
        scans = plan.count("Scan parquet")
        assert scans <= budget, f"{name}: {scans} scans > {budget}"


def test_events_pack_single_fact_exchange(spark):
    """The event-analytics pack's design property: funnel, retention,
    and attribution each read the events fact ONCE and cluster it by
    user ONCE — all per-user sequencing is chained windows over that
    single exchange (no self-joins), and every later exchange operates
    on already-aggregated (group-level) rows."""
    import re

    for name in ("events_funnel", "events_retention_cohorts",
                 "events_attribution"):
        plan = (QUERIES[name].fn(spark, SF_SMOKE)._jdf
                .queryExecution().executedPlan().toString())
        assert plan.count("Scan parquet") == 1, name
        ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        user_ex = [e for e in ex if "user_id" in e]
        assert len(user_ex) == 1, f"{name}: fact exchanges {ex}"
        # everything else is post-aggregation (cohort/campaign rollups)
        assert len(ex) <= 2, f"{name}: exchange count {ex}"
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name   # no self-joins at all


def test_llm2_pack_plan_shapes(spark):
    """Corpus-curation pack pins: chunking is pure in-row expansion
    (posexplode) — ZERO exchanges; n-gram stats and boilerplate-prefix
    detection are each exactly one count shuffle; the composed
    curation pipeline stays a single-scan DAG (scrub -> gate -> dedup
    window -> split -> rollup) with no re-scans."""
    import re

    plan = (QUERIES["llm_chunk_overlap"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan, "chunking must not shuffle"

    for name in ("llm_ngram_stats", "llm_prefix_boilerplate"):
        plan = (QUERIES[name].fn(spark, SF_SMOKE)._jdf
                .queryExecution().executedPlan().toString())
        assert plan.count("Scan parquet") == 1, name
        ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        assert len(ex) == 1, f"{name}: {ex}"

    plan = (QUERIES["llm_curation_pipeline"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert plan.count("Scan parquet") == 1, "pipeline must not re-scan"
    ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    # fingerprint-dedup window + (two-phase distinct-count rollup)
    assert len(ex) <= 3, ex
    assert "CartesianProduct" not in plan


def test_ts_pack_plan_shapes(spark):
    """Time-series pack pins: every query reduces the raw log in ONE
    rollup shuffle (plus at most one post-rollup re-key), and
    sessionization — the only per-event window — clusters the fact by
    user exactly once with the per-session aggregate riding that same
    exchange. No self-joins anywhere in the pack."""
    import re

    # (name, max parquet scans, max hash exchanges)
    budgets = {
        "ts_bucket_rollup": (1, 1),
        "ts_ohlc": (1, 2),          # shared (day,type) window sort + agg re-key
        "ts_gap_fill": (2, 1),      # rollup + pruned scaffold-meta pass
        "ts_sessionize": (1, 1),    # THE design property: one user exchange
        "ts_top_movers": (1, 2),    # rollup + post-rollup lag re-key
        "ts_rolling_24h": (1, 2),   # rollup + post-rollup window re-key
    }
    for name, (max_scans, max_ex) in budgets.items():
        plan = (QUERIES[name].fn(spark, SF_SMOKE)._jdf
                .queryExecution().executedPlan().toString())
        scans = plan.count("Scan parquet")
        assert scans <= max_scans, f"{name}: {scans} scans"
        ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        assert len(ex) <= max_ex, f"{name}: exchanges {ex}"
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name
    # top-k rides TakeOrdered, not a global sort
    plan = (QUERIES["ts_top_movers"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan


def test_round3_tail_plan_shapes(spark):
    """Stats/dq/scd pins: the single-exchange window-and-rollup
    queries stay single-exchange; the referential audit stays pure
    broadcast anti-joins (ZERO hash exchanges — violations are
    counted, never shuffled)."""
    import re

    for name in ("agg_percentiles_disc", "agg_outlier_zscore",
                 "dq_null_profile", "ts_scd2_states"):
        plan = (QUERIES[name].fn(spark, SF_SMOKE)._jdf
                .queryExecution().executedPlan().toString())
        assert plan.count("Scan parquet") == 1, name
        ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        assert len(ex) == 1, f"{name}: {ex}"
        assert "SortMergeJoin" not in plan, name

    plan = (QUERIES["dq_referential_orphans"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert "Exchange hashpartitioning" not in plan, \
        "orphan checks must stay broadcast anti-joins"
    assert "CartesianProduct" not in plan

    # the hive-partitioned read must prune at planning time
    import re as _re
    plan = (QUERIES["source_partitioned_scan"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), \
        "IN filter must become a partition filter, not a row filter"


def test_llm3_pack_plan_shapes(spark):
    """Training-data assembly pins: caps/budget/shuffle/histogram are
    each ONE scan + ONE clustered exchange (window or aggregate riding
    it); the md5 ordering key never introduces an extra shuffle."""
    import re

    for name in ("llm_source_caps", "llm_token_budget_sample",
                 "llm_global_shuffle", "llm_length_histogram"):
        plan = (QUERIES[name].fn(spark, SF_SMOKE)._jdf
                .queryExecution().executedPlan().toString())
        assert plan.count("Scan parquet") == 1, name
        ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        assert len(ex) == 1, f"{name}: {ex}"
        assert "CartesianProduct" not in plan, name
        assert "SortMergeJoin" not in plan, name


def test_dq_pack_plan_shapes(spark):
    """Data-quality pack pins (the queries a 100 TB lake runs
    continuously): freshness is ONE scan with no hash exchange (pure
    partial->final fold), key-uniqueness is one scan + one count-per-key
    exchange per audited table, and the order reconciliation is the
    irreducible two-fact shape — 2 scans, the per-orderkey rollup
    exchange plus the co-keyed join/status-fold re-keys, never a
    sort-merge explosion or product."""
    import re

    plan = (QUERIES["dq_freshness"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert plan.count("Scan parquet") == 1
    assert "Exchange hashpartitioning" not in plan, \
        "freshness must stay a single partial-aggregated pass"

    plan = (QUERIES["dq_key_uniqueness"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert plan.count("Scan parquet") == 3  # events, orders, documents
    ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(ex) <= 3, f"one count-per-key exchange per table: {ex}"
    assert "CartesianProduct" not in plan

    plan = (QUERIES["dq_order_reconciliation"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert plan.count("Scan parquet") == 2  # orders + lineitem, once each
    ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(ex) <= 3, f"rollup + join re-key + status fold only: {ex}"
    assert "CartesianProduct" not in plan


def test_stream_asof_state_store_shape(spark, tmp_path):
    """The streaming as-of flagship's state topology is pinned: the
    micro-batch plan must be exactly one hashpartitioning(bucket)
    exchange feeding the Arrow-batched FlatMapGroupsInPandasWithState
    operator in UPDATE mode — a second exchange or a repartition of the
    emitted rows would double the per-batch shuffle at scale."""
    from pyspark.sql import functions as F

    from event_streaming_bnpl_demo_spark.plans.queries_ext import \
        parquet_stream
    from event_streaming_bnpl_demo_spark.plans.queries_stream import \
        build_asof_stream
    from event_streaming_bnpl_demo_spark.sources import load_table

    in_dir = str(tmp_path / "in")
    ev = (load_table(spark, SF_SMOKE, "events")
          .filter(F.col("event_type").isin("view", "purchase"))
          .select("user_id", "event_id", "event_type",
                  F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")))
    ev.limit(1000).coalesce(1).write.mode("overwrite").parquet(in_dir)

    matched = build_asof_stream(parquet_stream(spark, in_dir, ev.schema))
    q = (matched.writeStream.format("memory")
         .queryName("pin_sasof").outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    # the executed micro-batch physical plan of the last trigger
    plan = q._jsq.explainInternal(False)
    assert "FlatMapGroupsInPandasWithState" in plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "bucket" in plan.split("Exchange hashpartitioning", 1)[1][:80]
    q.stop()


def test_ext4_pack_plan_shapes(spark):
    """Round-4 pack pins: interval coverage rides ONE
    hashpartitioning(user_id) exchange end-to-end (both windows and
    both aggregates reuse the clustering), the null-safe join stays a
    broadcast hash join (null-safety must not force a shuffled or
    nested-loop plan), and priority sampling is TakeOrdered, never a
    global sort."""
    import re

    plan = (QUERIES["ts_interval_coverage"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert plan.count("Scan parquet") == 1
    ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(ex) == 1, f"coverage must reuse the user_id exchange: {ex}"
    assert "user_id" in ex[0]

    plan = (QUERIES["join_null_safe"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = (QUERIES["llm_priority_sample"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_round4b_pack_plan_shapes(spark):
    """Round-4b capability pins: path analysis rides ONE user_id
    exchange (window + conditional pivot share it; the path census is
    5^3-bounded), co-occurrence blocks on the distinct (user,type)
    relation before any pairing, the CDC merge never degenerates to a
    nested-loop product, and the count-min probe joins the tiny sketch
    broadcast-side."""
    import re

    plan = (QUERIES["events_path_topk"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert plan.count("Scan parquet") == 1
    ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(ex) <= 2, f"window + path census only: {ex}"
    assert any("user_id" in e for e in ex), ex
    assert "TakeOrderedAndProject" in plan

    plan = (QUERIES["events_cooccurrence"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = (QUERIES["cdc_merge_upsert"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = (QUERIES["sketch_count_min_topk"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_cdc_merge_single_cokeyed_exchange(spark):
    """The CDC MERGE's full-outer join must stay ONE co-keyed exchange
    pair (base on c_custkey, change feed on k) plus the terminal
    segment fold — an extra repartition of either side would double
    the only fact shuffle the merge needs at 100 TB."""
    import re

    plan = (QUERIES["cdc_merge_upsert"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    keyed = [e for e in ex if "c_custkey" in e or e.startswith("k#")]
    assert len(keyed) == 2, f"exactly base+changes co-keyed exchanges: {ex}"
    assert len(ex) <= 3, f"co-keyed pair + segment fold only: {ex}"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # the emission direction diffs two snapshots with the same single
    # co-keyed exchange pair — and nothing else
    plan = (QUERIES["cdc_emit_changes"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(ex) == 2, f"old+new snapshot exchanges only: {ex}"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mv_pack_plan_shapes(spark):
    """Round-5 materialized-view pins: every maintenance query
    aggregates partials BEFORE the merge join, so the merge moves
    |groups| rows, never |delta| facts — the exchanges must all be on
    the view's group key (plus the merge join's own re-key), the dim
    joins must broadcast, and nothing may degenerate to a product."""
    import re

    for name, group_key in (("mv_join_agg_maintain", "c_mktsegment"),
                            ("mv_avg_rewrite", "c_mktsegment")):
        plan = (QUERIES[name].fn(spark, SF_SMOKE)._jdf
                .queryExecution().executedPlan().toString())
        assert plan.count("BroadcastHashJoin") == 2, \
            f"{name}: base and delta partials each broadcast the dim"
        ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        assert ex and all(group_key in e or "segment" in e for e in ex), \
            f"{name}: partials+merge re-key on the group key only: {ex}"
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    plan = (QUERIES["mv_cdc_maintain"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert ex and all("status" in e or "o_orderstatus" in e for e in ex), \
        f"signed partials fold on status before the merge: {ex}"
    assert "CartesianProduct" not in plan

    # top-k monoid merge: every selection is TakeOrdered, no global sort
    plan = (QUERIES["mv_topk_maintain"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan, \
        "top-k partials must never globally sort"

    # incremental distinct: the anti-join co-partitions on the key pair
    plan = (QUERIES["mv_incremental_distinct"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # quantile sketch: histogram partials + merge + cumulative window
    # all cluster on the group key; no join, no product, no global sort
    plan = (QUERIES["mv_quantile_sketch"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert ex and all("priority" in e for e in ex), \
        f"sketch exchanges must all key on the group: {ex}"
    assert "Exchange rangepartitioning" not in plan
    # totals come from a window over the same clustering — no join at all
    assert "Join" not in plan, "sketch read path must be join-free"


def test_stream_scd2_enrich_broadcasts_dim(spark, tmp_path):
    """The SCD2 stream enrichment's micro-batch plan must join the
    interval dimension broadcast-side (stream side never shuffles) —
    the same static join is pinned here without running the stream:
    equality on user_id + validity-range filter must plan as a
    BroadcastHashJoin, not a shuffled join or a product."""
    from pyspark.sql import functions as F

    from event_streaming_bnpl_demo_spark.plans.queries_mv import (
        build_scd2_states, scd2_enrich_join)
    from event_streaming_bnpl_demo_spark.sources import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    states = build_scd2_states(ev)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value")
    joined = scd2_enrich_join(purchases, states)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_round5_join_ops_plan_shapes(spark):
    """Triangle counting and the blocked fuzzy join are the round-5
    pairwise shapes: every pairing must ride an equi-join (order key /
    node keys / blocking key) — a product or nested loop here is the
    all-pairs explosion these operators exist to avoid. The tiny
    1-row summary crossJoins in the triangle count's final projection
    are broadcast singles, not data products."""
    plan = (QUERIES["graph_triangle_count"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    # edge-gen + wedge-close joins are hash equi-joins
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan)

    plan = (QUERIES["join_fuzzy_blocked"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan)


def test_ext5_pack_plan_shapes(spark):
    """Round-5 ext5 pins: BPE pair counting collapses map-side (partial
    aggregate before its single pair exchange) and tops out as
    TakeOrdered; the unigram-commonness frequency table joins
    broadcast-side; quantized simsearch runs with ZERO hash exchanges
    (maxabs + query vector broadcast, ranking is TakeOrdered); the
    temperature mixture's quota table joins broadcast-side and the
    final rollup reuses the rank window's source clustering (≤2
    source-keyed exchanges total)."""
    import re

    plan = (QUERIES["llm_bpe_pair_counts"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert plan.count("Scan parquet") == 1
    ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(ex) == 1 and "pair" in ex[0], ex
    assert "TakeOrderedAndProject" in plan
    assert "partial" in plan.lower()  # map-side combine before the exchange

    # r12 shape: join-free — ONE tokenize pass collapses to (doc, tok)
    # counts, the corpus frequency is a window SUM marginalized over
    # the collapsed rows (no freq build + join-back, whose probe
    # subtree re-ran the explode), and ranking stays TakeOrdered
    plan = (QUERIES["llm_unigram_commonness"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert plan.count("Scan parquet") == 1, "tokenize pass re-planned"
    assert "Join" not in plan, "frequency join-back reappeared"
    assert "Window" in plan
    assert "TakeOrderedAndProject" in plan

    plan = (QUERIES["llm_simsearch_quantized"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert "Exchange hashpartitioning" not in plan, "scan must stay parallel"
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan  # 1-row sides ride broadcasts

    plan = (QUERIES["llm_temperature_mix"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    ex = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(ex) <= 2 and all("source" in e for e in ex), ex
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_snapshot_time_travel_partition_pruning(spark):
    """Every AS OF branch's parquet scan must carry a planning-time
    ``version <= v`` PartitionFilter — losing it means an AS OF read
    scans every delta ever written instead of its own snapshot."""
    import re

    plan = (QUERIES["snapshot_time_travel"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    pf = re.findall(r"PartitionFilters: \[[^\]]*version[^\]]*<= (\d)\)", plan)
    assert sorted(pf) == ["0", "1", "2"], f"pruned as-of scans missing: {pf}"
    assert "CartesianProduct" not in plan


def test_ext5b_pack_plan_shapes(spark):
    """Second ext5 wave pins: the MAD anomaly scan reads the raw log
    exactly ONCE (the daily rollup is checkpointed and reused by the
    median/deviation/MAD branches — without it each branch re-scans
    the 100 TB log), both median tables join broadcast-side; TTR is
    one scan into the doc_id-clustered two-phase distinct with
    TakeOrdered; the Benford rollup joins its 9-row expectation table
    broadcast-side with no product over data."""
    plan = (QUERIES["ts_anomaly_mad"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert plan.count("Scan parquet") == 0  # daily is checkpointed...
    assert "ExistingRDD" in plan or "LocalTableScan" in plan or \
        "Scan ExistingRDD" in plan  # ...branches read the checkpoint
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    plan = (QUERIES["llm_type_token_ratio"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert plan.count("Scan parquet") == 1
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan

    plan = (QUERIES["dq_benford_digits"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    plan = (QUERIES["llm_split_cluster_safe"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Scale posture pin: when the filtered dimension is too big to
    broadcast, Catalyst's runtime bloom-filter semi-join must inject a
    might_contain predicate into the fact scan side — the mechanism
    that keeps a selective dim filter pruning a 100 TB fact shuffle
    even outside the broadcast regime. The pin drops the broadcast
    threshold to force the shuffle path and asserts the injection
    happens (it is on by default in the session conf)."""
    from pyspark.sql import functions as F

    from event_streaming_bnpl_demo_spark.sources import load_table

    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    )}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter."
                       "applicationSideScanSizeThreshold", "0")
        o = (load_table(spark, SF_SMOKE, "orders")
             .filter("o_orderpriority = '1-URGENT'"))
        lt = load_table(spark, SF_SMOKE, "lineitem")
        j = (lt.join(o, lt.l_orderkey == o.o_orderkey)
             .groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower() or "BloomFilter" in plan, \
            "runtime bloom filter was not injected into the fact side"
    finally:
        for k, v in saved.items():
            # a conf never explicitly set reads back as None — unset
            # it rather than skip, or the forced threshold leaks into
            # every later test in the shared session
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_kmeans_iteration_plan_shape(spark):
    """The k-means trainer's per-iteration shape: the K-way expansion
    must ride a broadcast of the tiny centroid relation (a shuffled or
    cartesian product over the vector scan is the O(V·K) blowup the
    broadcast exists to avoid), and the assignment window partitions
    by vec_id."""
    plan = (QUERIES["llm_ivf_train_kmeans"].fn(spark, SF_SMOKE)._jdf
            .queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_sssp_rounds_are_equijoins(spark):
    """Every SSSP relaxation round must pair the frontier with edges
    via an equi-join on node id — a product here is the path-explosion
    the MIN-fold formulation exists to avoid. The full query now
    returns an eager checkpoint (opaque plan), so the round shape is
    pinned on the module-level helper the query iterates; the dst-
    partitioned cached edge list must also leave the round's
    groupBy(dst) exchange-free when the dist side broadcasts."""
    from pyspark.sql import functions as F

    from event_streaming_bnpl_demo_spark.plans.queries_graph import (
        _sssp_nearest, _sssp_relax_round)

    edges = (spark.range(100)
             .select((F.col("id") % 10).alias("src"),
                     ((F.col("id") + 3) % 10).alias("dst"),
                     F.lit(5).cast("bigint").alias("len"))
             .repartition(8, "dst").cache())
    edges.count()
    try:
        dist = spark.range(10).select(
            F.col("id").alias("node"),
            F.when(F.col("id") == 0, F.lit(0).cast("bigint"))
            .alias("dist"))
        out = _sssp_nearest(_sssp_relax_round(dist, edges, small=True))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BroadcastHashJoin" in plan  # both round joins broadcast
        assert "TakeOrderedAndProject" in plan  # nearest-20, no global sort
        # exchange-free round: the only exchange below the aggregate is
        # the one the cached repartition(dst) already performed — the
        # executed plan must not add a fresh hashpartitioning exchange
        # between the edge cache scan and the groupBy(dst) aggregate
        agg_part = plan.split("InMemoryTableScan")[0]
        assert "Exchange hashpartitioning" not in agg_part, (
            "relaxation groupBy(dst) re-shuffled the cached edges:\n"
            + plan)
    finally:
        edges.unpersist()


def test_fanout_cascade_shares_one_scan(spark):
    """The fan-out cascade's shared-scan claim, pinned: each of the
    three per-batch partials must read the persisted micro-batch
    (InMemoryTableScan), never a second source scan — at 100 TB/day
    that is the difference between 1x and 3x ingest bandwidth."""
    from event_streaming_bnpl_demo_spark.plans.queries_mv import \
        fanout_partials
    from event_streaming_bnpl_demo_spark.sources import load_table

    batch = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    batch.persist()
    try:
        parts = fanout_partials(batch)
        assert set(parts) == {"by_type", "by_user", "hourly"}
        for sink, part in parts.items():
            plan = part._jdf.queryExecution().executedPlan().toString()
            # the top-of-tree read must be the cached relation (the
            # InMemoryTableScan node string embeds the cached child's
            # FileScan description, so assert the scan NODE, not the
            # absence of the substring)
            top = plan.split("InMemoryTableScan", 1)[0]
            assert "InMemoryTableScan" in plan, f"{sink} re-scans the source"
            assert "FileScan" not in top, f"{sink} reads files above cache"
            # partial aggregation is map-side combined before exchange
            assert "HashAggregate" in plan
    finally:
        batch.unpersist()


def test_khop_per_hop_antijoin_single_checkpoint(spark):
    """k-hop reachability's frontier algebra, pinned on the hop helper
    (the full query returns an eager checkpoint, opaque plan): the hop
    must anti-join the visited set (min-hop semantics — a node expands
    exactly once, no path-count explosion), the frontier-edge pairing
    must be a broadcast equi-join, and the distinct-on-dst must fuse
    over the dst-partitioned cached edges with NO fresh exchange —
    the round-9 exchange-free-hop shape."""
    from pyspark.sql import functions as F

    from event_streaming_bnpl_demo_spark.plans.queries_graph import \
        _khop_hop

    edges = (spark.range(200)
             .select((F.col("id") % 20).alias("src"),
                     ((F.col("id") + 7) % 20).alias("dst"))
             .repartition(8, "dst").cache())
    edges.count()
    try:
        frontier = spark.range(5).select(F.col("id").alias("node"))
        visited = spark.range(8).select(F.col("id").alias("node"))
        plan = (_khop_hop(frontier, visited, edges, small=True)._jdf
                .queryExecution().executedPlan().toString())
        assert "LeftAnti" in plan, "missing visited anti-join"
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BroadcastHashJoin" in plan
        # the only exchange below the distinct aggregate must be the
        # cached repartition(dst) — no fresh hashpartitioning above
        # the edge cache scan
        agg_part = plan.split("InMemoryTableScan")[0]
        assert "Exchange hashpartitioning" not in agg_part, (
            "hop distinct re-shuffled the cached edges:\n" + plan)
    finally:
        edges.unpersist()


def test_ext7_optimizer_pack_plan_shapes(spark):
    """Round-7 optimizer-pattern tier: each manual rewrite's physical
    plan must actually show the rewritten shape (the oracle already
    proves result-equivalence to the naive plan; these pins prove the
    PLAN is the one the rewrite promises)."""
    # bloom reduction: the k=2 bit-test probe is a literal-map filter
    # fused at the lineitem scan — one lineitem scan, one semi join,
    # and NO probe-side join for the bloom itself
    plan = plan_of(spark, "join_bloom_reduced")
    tree = plan.split("\n\n")[0]
    assert plan.count("lineitem.parquet") == 1
    assert tree.count("LeftSemi") == 1, "bloom probe became a join"
    assert "element_at" in plan and "shiftleft" in plan, \
        "bit-test probe expression lost"
    # the probe must sit in the Filter directly over the scan, i.e.
    # below the exact semi join (scan id 1 is the lineitem side)
    filt = [b for b in plan.split("\n\n") if b.startswith("(2) Filter")]
    assert filt and "xxhash64" in filt[0], "probe not fused at the scan"

    # eager aggregation: the per-order partial sits BELOW the join
    plan = plan_of(spark, "join_preagg_pushdown")
    tree = plan.split("\n\n")[0]
    join_line = min(i for i, ln in enumerate(tree.splitlines())
                    if "Join" in ln)
    agg_lines = [i for i, ln in enumerate(tree.splitlines())
                 if "HashAggregate" in ln]
    assert any(i > join_line for i in agg_lines), \
        "per-order partial aggregate no longer below the join"
    assert "partial_sum" in plan

    # decorrelation: LEFT OUTER (not inner) with the aggregate below
    plan = plan_of(spark, "join_corr_agg_rewrite")
    assert "LeftOuter" in plan, \
        "decorrelation lost the zero-order customers (COUNT-bug class)"

    # aggregate-through-union: no Union of raw rows anywhere; the
    # branches meet in a full-outer merge of month partials
    plan = plan_of(spark, "agg_union_partial")
    tree = plan.split("\n\n")[0]
    assert "Union" not in tree, "raw-row union resurfaced"
    assert "FullOuter" in tree
    assert plan.count("partial_sum") >= 2


def test_ext7_stats_pack_plan_shapes(spark):
    """Round-7 stats/corpus tier: single-scan window marginalization
    and checkpoint reuse, pinned."""
    # contingency lift: ONE orders scan; marginals are windows
    plan = plan_of(spark, "agg_contingency_lift")
    tree = plan.split("\n\n")[0]
    assert plan.count("orders.parquet") == 1, \
        "marginals re-derived by re-scanning the fact table"
    assert tree.count("Window (") >= 2

    # median gate: ONE documents scan, three windows, zero joins
    plan = plan_of(spark, "llm_quality_gate_median")
    tree = plan.split("\n\n")[0]
    assert plan.count("documents.parquet") == 1
    assert "Join" not in tree, "threshold join-back re-plans the window"

    # markov argmax: ONE events scan — totals come from a window over
    # the tiny transition table, not a join that re-plans the lead()
    plan = plan_of(spark, "events_markov_topnext")
    tree = plan.split("\n\n")[0]
    assert plan.count("events.parquet") == 1, \
        "transition totals re-derived the per-user window subtree"

    # jaccard: hub-filtered edge set rides its localCheckpoint; the
    # wedge expansion and both degree attachments must not re-derive
    # the orders x lineitem join
    plan = plan_of(spark, "graph_jaccard_links")
    tree = plan.split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree
    assert "lineitem.parquet" not in plan, \
        "edge set re-derived from base tables"
    assert "ExistingRDD" in plan, "edge localCheckpoint lost"
    # r10 shape pins: members ride as INT until the packed-key build
    # (attr c1 prints WITHOUT the bigint L suffix, then casts), and
    # the pair exchange is the explicit 4x-width repartition on the
    # single packed int64 key — the two measured levers (sf1 8.1 ->
    # 6.8 s); losing either is a silent 15-20% regression at scale
    import re as _re
    assert _re.search(r"cast\(c1#\d+ as bigint\) \* 4294967296", plan), \
        "int member narrowing lost (pair packs from bigint members)"
    # expected width mirrors the query's own formula (4x the measured
    # scan width, clamped) so the pin survives smoke-dataset growth
    from event_streaming_bnpl_demo_spark.plans.queries_ext7 import (
        _scan_scaled_partitions)
    _width = min(512, _scan_scaled_partitions(SF_SMOKE, "lineitem") * 4)
    assert _re.search(
        rf"hashpartitioning\(k#\d+L, {_width}\), REPARTITION_BY_NUM",
        plan), \
        "packed-key pair exchange lost its 4x scan-scaled width " \
        f"(expected {_width} = 4 x scan width at the smoke SF)"

    # bigram lift: vocab rides its checkpoint (two lift attachments +
    # grand total), leaving exactly one lazy documents scan; top-20 is
    # TakeOrdered
    plan = plan_of(spark, "llm_bigram_lift")
    tree = plan.split("\n\n")[0]
    assert plan.count("documents.parquet") == 1, \
        "vocab subtree re-scans the corpus per consumer"
    assert "TakeOrderedAndProject" in tree


def test_ext7b_plan_shapes(spark):
    """ext7b pins: banded range join is an equi-join (never a nested
    loop), dynamic partition pruning actually fires on the staged
    month-partitioned fact, rolling covariance shares one window
    frame, and rank<=k compiles to WindowGroupLimit."""
    plan = plan_of(spark, "join_range_banded")
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree, \
        "banded range join fell back to a nested loop"

    plan = plan_of(spark, "join_dpp_partitioned")
    assert "dynamicpruning" in plan, \
        "dynamic partition pruning did not reach the fact scan"

    plan = plan_of(spark, "ts_rolling_cov")
    tree = plan.split("\n\n")[0]
    assert plan.count("lineitem.parquet") == 1
    assert tree.count("Window (") == 1, \
        "the four rolling sums no longer share one window frame"

    plan = plan_of(spark, "window_topk_ties")
    assert "WindowGroupLimit" in plan, \
        "rank<=k lost the per-group pre-filter (full window sort)"


def test_ext7c_plan_shapes(spark):
    """ext7c pins: the literal-map dictionary decode must contain NO
    join operator at all, and the drift gate must scan documents once
    with window-sum marginalization."""
    plan = plan_of(spark, "join_map_literal_decode")
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree, \
        "dictionary decode regressed to a join operator"
    assert plan.count("customer.parquet") == 1

    plan = plan_of(spark, "dq_distribution_drift")
    tree = plan.split("\n\n")[0]
    assert plan.count("documents.parquet") == 1, \
        "shard/corpus profiles re-scan the corpus"
    assert "Join" not in tree, "profile merge regressed to a join"

    # dynamic-gap sessions: the native session-window operator, one
    # exchange on the session keys
    plan = plan_of(spark, "stream_session_dynamic_gap")
    assert "session_window" in plan


def test_ext8_plan_shapes(spark):
    """ext8 pins: the skew profile reads lineitem ONCE through the
    exploded-map unpivot (the single-scan claim), the EWMA fan-out
    contains no Sort and no Window operator (the sequential recursion
    really was replaced by explode+groupBy), and the cadence query
    runs ONE window over one orders scan with broadcast dims."""
    plan = plan_of(spark, "dq_skew_profile")
    tree = plan.split("\n\n")[0]
    assert plan.count("lineitem.parquet") == 1, \
        "key unpivot regressed to one scan per key column"
    assert "Generate" in tree
    assert "Join" not in tree

    plan = plan_of(spark, "ts_ewma_daily")
    tree = plan.split("\n\n")[0]
    assert "Sort" not in tree, "EWMA fan-out gained a series sort"
    assert "Window (" not in tree, \
        "EWMA regressed to a sequential window formulation"
    assert "Generate" in tree

    plan = plan_of(spark, "q_order_cadence")
    tree = plan.split("\n\n")[0]
    assert plan.count("orders.parquet") == 1
    assert tree.count("Window (") == 1
    assert "BroadcastHashJoin" in tree


def test_ext9_plan_shapes(spark):
    """ext9 pins: the YoY monthly grain and the stickiness
    daily-actives relation are each materialized ONCE (final plans
    join checkpointed RDDs — zero residual fact scans), the prefix
    filter derives every consumer from its single checkpointed shingle
    relation, and the business-day closed form stays a pure projection
    (no Window, no Generate) over one scan of each side."""
    plan = plan_of(spark, "ts_yoy_growth")
    assert plan.count("orders.parquet") == 0, \
        "YoY self-join re-planned the fact aggregation"
    assert "ExistingRDD" in plan

    plan = plan_of(spark, "events_stickiness")
    assert plan.count("events.parquet") == 0, \
        "stickiness re-scanned the event log past the checkpoint"
    assert "ExistingRDD" in plan

    plan = plan_of(spark, "llm_dedup_prefix_filter")
    assert plan.count("documents.parquet") == 0, \
        "a prefix-filter consumer re-planned the shingle relation"
    assert "ExistingRDD" in plan

    plan = plan_of(spark, "scalar_business_days")
    tree = plan.split("\n\n")[0]
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("orders.parquet") == 1
    assert "Window (" not in tree, "closed form regressed to a window"
    assert "Generate" not in tree, "closed form regressed to an explode"


def test_ext10_plan_shapes(spark):
    """ext10 pins: the streaks query runs on ONE hash exchange
    (customer partitioning serves distinct, window, and both groupBys);
    the bitmap-distinct plan reads only the three referenced columns
    and merges partials without re-scanning; the seasonal query's
    7-row profile joins back by BROADCAST; url-parse is shuffle-free
    whole-stage projection over a pruned scan."""
    plan = plan_of(spark, "window_streaks")
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1, \
        "streaks must reuse the customer partitioning end-to-end"
    assert plan.count("orders.parquet") == 1

    plan = plan_of(spark, "agg_bitmap_distinct")
    assert plan.count("orders.parquet") == 1
    assert "o_custkey,o_orderdate,o_orderpriority" in plan.replace(
        "ReadSchema: struct<o_custkey:bigint,o_orderdate:timestamp_ntz,"
        "o_orderpriority:string>", "o_custkey,o_orderdate,o_orderpriority"), \
        "bitmap distinct must prune to the three referenced columns"

    plan = plan_of(spark, "ts_dow_seasonal")
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree or "BroadcastExchange" in tree, \
        "the 7-row seasonal profile must broadcast"
    assert plan.count("orders.parquet") == 0, \
        "daily rollup must be materialized once (shared-subtree rule)"
    assert "ExistingRDD" in plan

    plan = plan_of(spark, "scalar_url_parse")
    tree = plan.split("\n\n")[0]
    assert "Exchange" not in tree, "url parse must stay a narrow map"
    assert "text" not in plan.split("ReadSchema")[1].split("\n")[0], \
        "the wide text column must be pruned from the scan"


def test_ext12_plan_shapes(spark):
    """ext12 pins: keyset pagination pushes the composite cursor
    predicate into the parquet scan and fetches the page as
    TakeOrdered (zero exchanges — the whole point vs OFFSET); the
    grid-blocked spatial join is an EQUI-join (never a cartesian); the
    kNN probe side broadcasts; cross-correlation and sequence-gaps
    read their base table exactly once via a materialized subtree
    (the plan_audit shared-subtree rule); the surrogate-key dimension
    re-joins the fact table by broadcast."""
    plan = plan_of(spark, "sort_keyset_pagination")
    tree = plan.split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree
    assert "Exchange" not in tree, "keyset page must not shuffle"
    assert "Or(GreaterThan(o_orderdate" in plan, \
        "the composite cursor predicate must reach the scan"

    plan = plan_of(spark, "geo_grid_blocked_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, \
        "cell blocking must make the spatial join an equi-join"
    assert plan.count("customer.parquet") == 1
    assert plan.count("supplier.parquet") == 1

    plan = plan_of(spark, "geo_grid_knn")
    assert "CartesianProduct" not in plan, \
        "the bounded probe set must broadcast"
    assert "BroadcastExchange" in plan
    assert "LessThan(c_custkey,200)" in plan, \
        "the probe bound must reach the scan"

    plan = plan_of(spark, "ts_cross_correlation")
    assert plan.count("events.parquet") == 0, \
        "the daily series must be materialized once (one events pass)"
    assert "ExistingRDD" in plan

    plan = plan_of(spark, "dq_sequence_gaps")
    assert plan.count("orders.parquet") == 0, \
        "the key column must be materialized once (one orders pass)"
    assert "ExistingRDD" in plan
    assert "TakeOrderedAndProject" in plan

    plan = plan_of(spark, "etl_surrogate_keys")
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, \
        "the dimension must broadcast back onto the facts"
    assert plan.count("lineitem.parquet") == 1


def test_ext13_ext14_plan_shapes(spark):
    """ext13/14 pins: Holt's fold is one pruned scan with no UDF and
    no extra exchange beyond the two aggregations; the bootstrap's
    40x expansion happens against a BROADCAST replicate spine over a
    materialized per-user table (no re-scan of events, no shuffle of
    expanded rows before partial aggregation); Hellinger reads its
    materialized count table, not the documents; k-core's final
    degree count runs over the checkpointed peeled edges."""
    plan = plan_of(spark, "ts_holt_linear")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, \
        "the Holt fold must stay inside codegen (no Python UDF)"
    assert plan.count("orders.parquet") == 1
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "o_orderdate" in read and "o_totalprice" in read
    assert "o_custkey" not in read, "scan must prune to the two columns"

    plan = plan_of(spark, "stat_bootstrap_ci")
    assert plan.count("orders.parquet") == 0, \
        "per-user pre/post pairs must be materialized once"
    assert plan.count("customer.parquet") == 0, \
        "the 40x replicate must not re-scan the base tables"
    assert "ExistingRDD" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, \
        "the 40-row replicate spine must broadcast"

    plan = plan_of(spark, "llm_hellinger_sources")
    assert plan.count("documents.parquet") == 0, \
        "token counts must be materialized once"
    assert "ExistingRDD" in plan

    plan = plan_of(spark, "graph_kcore")
    assert plan.count("lineitem.parquet") == 0, \
        "peeled edges must come from the checkpointed relation"
    assert "ExistingRDD" in plan


def test_ext19_plan_shapes(spark):
    """ext19 pins: growth accounting reads the event log exactly ONCE
    (classification, churn, horizon, and month domain all come from the
    checkpointed user-month state); the KM table's cumulative product
    windows over the checkpointed per-duration aggregate with only the
    two column-pruned orders scans (horizon + gap derivation); the
    perplexity LM derives left-context counts and vocabulary from the
    checkpointed bigram table, so the corpus is scanned exactly twice
    (LM build + scoring stream); everything stays inside codegen —
    no Python UDF anywhere in the pack."""
    plan = plan_of(spark, "events_growth_accounting")
    assert plan.count("events.parquet") == 0, \
        "all four consumers must read the checkpointed user-month " \
        "state, never the log (the single log scan ran at checkpoint)"
    assert "ExistingRDD" in plan, \
        "the user-month state must be checkpointed"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    plan = plan_of(spark, "agg_survival_km")
    assert plan.count("orders.parquet") == 0, \
        "total and survival windows must read the checkpointed " \
        "per-duration KM table, never re-derive the gaps"
    assert "ExistingRDD" in plan, \
        "the per-duration KM table must be checkpointed"

    plan = plan_of(spark, "llm_perplexity_filter")
    assert plan.count("documents.parquet") == 1, \
        "only the scoring stream reads the corpus in the final plan " \
        "(the LM build ran at checkpoint); c1/vocab derive from c2"
    assert "ExistingRDD" in plan, "the bigram LM must be checkpointed"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    plan = plan_of(spark, "llm_zipf_slope")
    assert plan.count("documents.parquet") == 1
    assert "WindowGroupLimit" in plan, \
        "the top-100 rank cut must prune per-partition before the sort"


def test_broadcast_sanity_flags_unbounded_hinted_sides(spark):
    """The plan_audit broadcast audit (the round-9 join_range_banded
    bug class, mechanized) must flag an explicit broadcast hint over a
    raw exploded side, and must accept the two bounded shapes: an
    aggregate above the explode (collapses before shipping) and an
    aggregate below it (constant per-row expansion of an aggregate's
    output — the fixed range_banded shape). Exercised on real plans,
    not canned strings, so the tree-text parsing tracks Spark."""
    import os
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.plan_audit import broadcast_sanity

    def logical(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    big = spark.range(1000).select(F.col("id").alias("k"))
    raw = spark.range(50).select(
        F.col("id").alias("k"),
        F.explode(F.array(F.lit(1), F.lit(2))).alias("x"))
    bad = big.join(F.broadcast(raw), "k")
    assert any("exploded side" in p
               for p in broadcast_sanity("q", logical(bad)))

    # aggregate BELOW the explode: bounded constant expansion — clean
    agg_then_explode = (spark.range(200)
                        .groupBy((F.col("id") % 10).alias("k"))
                        .agg(F.count(F.lit(1)).alias("n"))
                        .select("k", "n", F.explode(
                            F.array(F.lit(0), F.lit(1))).alias("x")))
    good = big.join(F.broadcast(agg_then_explode), "k")
    assert broadcast_sanity("q", logical(good)) == []

    # aggregate ABOVE the explode (distinct collapses it) — clean
    explode_then_agg = raw.select("k").distinct()
    good2 = big.join(F.broadcast(explode_then_agg), "k")
    assert broadcast_sanity("q", logical(good2)) == []

    # a REAL broadcast-hinted fact-table scan must flag: the r9 audit
    # matched 'lineitem.parquet' in the Relation node, which never
    # prints a path — facts are now recognized by signature columns
    from event_streaming_bnpl_demo_spark.sources.tables import load_table
    li = load_table(spark, SF_SMOKE, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_quantity")
    bad_fact = big.join(F.broadcast(li), "k")
    assert any("fact-table" in p
               for p in broadcast_sanity("q", logical(bad_fact)))

    # ...but a fact side bounded by an aggregate on the scan's path is
    # clean (the side's size is |groups|, not |rows|)
    li_agg = li.groupBy("k").agg(F.sum("l_quantity").alias("s"))
    assert broadcast_sanity("q", logical(big.join(
        F.broadcast(li_agg), "k"))) == []

    # an Aggregate on a SIBLING branch inside the hinted side must not
    # clear the raw explode it doesn't bound (the r9 'has_agg anywhere
    # in the subtree text' hole)
    dim_agg = (spark.range(64)
               .groupBy((F.col("id") % 8).alias("k"))
               .agg(F.count(F.lit(1)).alias("c")))
    sibling = raw.join(dim_agg, "k")  # explode branch still unbounded
    assert any("exploded side" in p
               for p in broadcast_sanity("q", logical(
                   big.join(F.broadcast(sibling), "k"))))

    # Catalyst AUTO broadcast (no hint) is never audited
    assert broadcast_sanity("q", logical(big.join(raw, "k"))) == []

    # allowlisted names are exempt by design
    from tools.plan_audit import BCAST_ALLOWLIST
    assert broadcast_sanity(next(iter(BCAST_ALLOWLIST)),
                            logical(bad)) == []


def test_split_starvation_audit_flags_one_split_multipliers(spark):
    """The r10 geo_grid finding, mechanized (tools/plan_audit
    split_starvation): a multiplying physical operator — cross join,
    nested-loop probe, hash-join probe against an exploded build —
    whose streamed side inherits a one-split scan's parallelism must
    flag; a measured-width repartition on the streamed path (the geo
    fix) clears it. Exercised on real plans against the real smoke
    tables so the tree parsing tracks Spark's toString format."""
    import os
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.plan_audit import make_splits_of, split_starvation

    from event_streaming_bnpl_demo_spark.sources.tables import load_table

    # ground split estimates at the smoke SF itself: every table is one
    # split there, which is exactly the starved regime the audit models
    splits_of = make_splits_of(spark, SF_SMOKE)
    assert splits_of("supplier") == 1

    supp = load_table(spark, SF_SMOKE, "supplier").selectExpr(
        "s_suppkey", "s_suppkey * 2 AS slat")
    probes = load_table(spark, SF_SMOKE, "customer").filter(
        F.col("c_custkey") < 200).selectExpr(
        "c_custkey", "c_custkey * 2 AS clat")

    # the pre-fix geo_grid_knn shape: cross join streamed over a
    # one-split scan — the whole |points| x |probes| stage on one core
    bad_bnlj = supp.crossJoin(F.broadcast(probes))
    assert any("nested-loop probe" in p for p in split_starvation(
        "q", bad_bnlj, spark, splits_of, 32))

    # the pre-fix geo_grid_blocked_join shape: hash-join probe against
    # a replicated (exploded) build, probe side un-exchanged
    s_cells = (supp
               .withColumn("dx", F.explode(F.array(
                   F.lit(-1), F.lit(0), F.lit(1))))
               .withColumn("cx", (F.col("slat") / 10).cast("long")
                           + F.col("dx")))
    c_cells = probes.withColumn("cx", (F.col("clat") / 10).cast("long"))
    bad_bhj = c_cells.join(s_cells, ["cx"])
    assert any("replicated (exploded) build" in p for p in
               split_starvation("q", bad_bhj, spark, splits_of, 32))

    # the fix: one measured-width repartition on the streamed side
    fixed = supp.repartition(32).crossJoin(F.broadcast(probes))
    assert split_starvation("q", fixed, spark, splits_of, 32) == []
    fixed_bhj = c_cells.repartition(32).join(s_cells, ["cx"])
    assert split_starvation("q", fixed_bhj, spark, splits_of, 32) == []

    # a plain broadcast hash join with an UN-replicated build does not
    # flag: output ~= input, work scales with the scan's byte mass
    dim = probes.select("c_custkey")
    plain = supp.join(F.broadcast(dim),
                      supp.s_suppkey == dim.c_custkey)
    assert split_starvation("q", plain, spark, splits_of, 32) == []

    # the SHIPPED geo queries are the regression fixture: their fixed
    # shapes must stay clean under the audit that flags their pre-fix
    # twins above
    for name in ("geo_grid_knn", "geo_grid_blocked_join"):
        df = QUERIES[name].fn(spark, SF_SMOKE)
        assert split_starvation(name, df, spark, splits_of, 32) == [], \
            f"{name} regressed to the one-split-starvation shape"

    # the walk must FOLLOW the streamed chain through an intermediate
    # broadcast join (the probe's width passes through it unchanged)
    # and still find the driving scan at the bottom...
    nested_bad = (supp.join(F.broadcast(probes.select("c_custkey")),
                            supp.s_suppkey == F.col("c_custkey"), "left")
                  .crossJoin(F.broadcast(probes.select(
                      F.col("clat").alias("q")))))
    assert any("nested-loop probe" in p for p in split_starvation(
        "q", nested_bad, spark, splits_of, 32))
    # ...and a scalar-subquery build (global aggregate, one row) is
    # multiplier <= 1 and must never flag — the q22 pattern
    scalar = probes.agg(F.avg("clat").alias("m"))
    q22_like = supp.join(F.broadcast(scalar), supp.slat > F.col("m"))
    assert split_starvation("q", q22_like, spark, splits_of, 32) == []


def test_streaming_drains_live_only_in_the_drain_helpers():
    """Every catalog view drains its stream through
    ``queries_ext.drain_partials`` or ``drain_memory``: no other
    function in ``plans/`` starts a ``writeStream``, awaits one, or
    sets a checkpoint location or an ``availableNow`` trigger. The one
    exception is ``source_socket_demo``, whose socket source runs on a
    processingTime trigger until it is stopped."""
    import ast
    import pathlib

    from event_streaming_bnpl_demo_spark import plans

    allowed = {("queries_ext.py", "drain_partials"),
               ("queries_ext.py", "drain_memory"),
               ("queries_ext2.py", "source_socket_demo")}
    found = set()
    for path in sorted(pathlib.Path(plans.__file__).parent.glob("*.py")):
        for top in ast.parse(path.read_text()).body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if ((isinstance(node, ast.Attribute)
                     and node.attr in ("writeStream", "awaitTermination"))
                        or (isinstance(node, ast.Constant)
                            and node.value == "checkpointLocation")
                        or (isinstance(node, ast.keyword)
                            and node.arg == "availableNow")):
                    found.add((path.name, owner))
    assert found - allowed == set()
    assert {("queries_ext.py", "drain_partials"),
            ("queries_ext.py", "drain_memory")} <= found


def test_source_schema_evolution_stages_once(spark, tmp_path, monkeypatch):
    """The two parquet generations are staged once per source and read
    back on every later call, not rewritten under a fresh dir."""
    import os
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    q = QUERIES["source_schema_evolution"]
    first = sorted(map(tuple, q.fn(spark, SF_SMOKE).collect()))
    assert sorted(map(tuple, q.fn(spark, SF_SMOKE).collect())) == first
    assert len([d for d in os.listdir(tmp_path) if "_evo_" in d]) == 1
