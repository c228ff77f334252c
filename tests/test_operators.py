"""Operator-module tests: the sort-merge as-of join agrees with the
oracle-checked candidate-join formulation; the multimodal mapInPandas
pipeline round-trips Arrow batches with the declared schema."""

from __future__ import annotations

from pyspark.sql import functions as F

from event_streaming_bnpl_demo_spark.operators.asof import asof_join
from event_streaming_bnpl_demo_spark.plans import all_queries
from event_streaming_bnpl_demo_spark.plans.queries_core import \
    join_asof_candidate
from event_streaming_bnpl_demo_spark.sources import load_table

from .conftest import SF_SMOKE


def test_asof_join_matches_candidate_formulation(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("p_ts"))
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts"))

    merged = asof_join(purchases, views, on="user_id",
                       left_ts="p_ts", right_ts="v_ts",
                       right_cols=["view_id"])
    got = {(r["purchase_id"], r["view_id"]) for r in merged.collect()}

    # the quadratic candidate formulation is the semantic spec; the
    # registered catalog plan is the linear sort-merge — all three must
    # agree on the matched pairs
    candidate = join_asof_candidate(spark, SF_SMOKE)
    want = {(r["purchase_id"], r["view_id"]) for r in candidate.collect()}
    registered = all_queries()["join_asof"].fn(spark, SF_SMOKE)
    reg_pairs = {(r["purchase_id"], r["view_id"]) for r in registered.collect()}
    # candidate/registered omit purchases with no prior view; the raw
    # merge formulation keeps them with NULL — align before comparing
    got_matched = {p for p in got if p[1] is not None}
    assert got_matched == want
    assert reg_pairs == want
    # every purchase appears exactly once in the merge output
    assert merged.count() == purchases.count()


def test_asof_tolerance_and_strict(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    p = ev.limit(50).select("event_id", "user_id", F.col("ts").alias("p_ts"))
    v = ev.select("user_id", F.col("ts").alias("v_ts"),
                  F.col("event_id").alias("vid"))
    strict = asof_join(p, v, on="user_id", left_ts="p_ts", right_ts="v_ts",
                       right_cols=["vid"], allow_exact_matches=False)
    # an event never matches itself under strict inequality
    assert strict.filter(F.col("event_id") == F.col("vid")).count() == 0
    tol = asof_join(p, v, on="user_id", left_ts="p_ts", right_ts="v_ts",
                    right_cols=["vid"],
                    tolerance=F.expr("INTERVAL 10 MINUTES"))
    no_tol = asof_join(p, v, on="user_id", left_ts="p_ts", right_ts="v_ts",
                       right_cols=["vid"])
    assert (tol.filter(F.col("vid").isNotNull()).count()
            <= no_tol.filter(F.col("vid").isNotNull()).count())


def test_wav_codec_roundtrip_and_resample():
    """The audio tier is a real codec: encode -> decode must be the
    identity on samples and rate, a truncated container must fail to
    parse, and decimation must halve the sample count at half the
    rate while preserving every kept sample."""
    import numpy as np
    import pytest

    from event_streaming_bnpl_demo_spark.operators.multimodal import (
        _decode_wav, _encode_wav)

    rng = np.random.RandomState(7)
    samples = rng.randint(-32768, 32767, size=1000).astype(np.int16)
    payload = _encode_wav(samples, sr=16000)
    sr, nch, out = _decode_wav(payload)
    assert (sr, nch) == (16000, 1)
    assert np.array_equal(out, samples)
    with pytest.raises(Exception):
        _decode_wav(payload[:20])   # truncated RIFF header
    sr2, _, dec = _decode_wav(_encode_wav(samples[::2], sr=sr // 2))
    assert sr2 == 8000 and np.array_equal(dec, samples[::2])


def test_ppm_codec_roundtrip_and_resize():
    """The image tier is a real codec: encode -> decode must be the
    identity on pixels and dimensions, corrupt containers must fail to
    parse, and nearest-neighbor downsample must keep exactly the
    even-index pixel grid."""
    import numpy as np
    import pytest

    from event_streaming_bnpl_demo_spark.operators.multimodal import (
        _decode_ppm, _encode_ppm)

    rng = np.random.RandomState(11)
    arr = rng.randint(0, 256, size=(12, 20, 3)).astype(np.uint8)
    payload = _encode_ppm(arr)
    w, h, out = _decode_ppm(payload)
    assert (w, h) == (20, 12)
    assert np.array_equal(out, arr)
    with pytest.raises(ValueError):
        _decode_ppm(b"JFIF not a ppm")          # wrong magic
    with pytest.raises(ValueError):
        _decode_ppm(payload[:-5])               # truncated pixel data
    # decode(encode(gather)) == direct slice, and header stays valid
    w2, h2, small = _decode_ppm(_encode_ppm(arr[::2, ::2]))
    assert (w2, h2) == (10, 6)
    assert np.array_equal(small, arr[::2, ::2])


def test_image_feature_closed_forms(spark):
    """Synth corpus invariants the oracle relies on: checkerboard mean
    exactly 150, ramp mean exactly W-1, resized checkerboard mean
    exactly 200 — verified from DECODED bytes through the full
    mapInPandas path."""
    from event_streaming_bnpl_demo_spark.operators.multimodal import (
        image_features, resize_image, synth_image_media)

    docs = load_table(spark, SF_SMOKE, "documents").limit(40)
    media = synth_image_media(docs)
    feats = {r["asset_id"]: r for r in image_features(media).collect()}
    rs = {r["asset_id"]: r
          for r in image_features(resize_image(media, factor=2)).collect()}
    assert len(feats) == 40
    for aid, r in feats.items():
        w_exp = 8 + (aid % 29) * 2
        h_exp = 6 + (aid % 13) * 2
        assert (r["width"], r["height"]) == (w_exp, h_exp)
        assert r["mean_r"] == 150.0
        assert r["mean_g"] == float((aid * 7) % 256)
        assert r["mean_b"] == float(w_exp - 1)
        s = rs[aid]
        assert (s["width"], s["height"]) == (w_exp // 2, h_exp // 2)
        assert s["mean_r"] == 200.0
        assert s["mean_b"] == float(w_exp - 2)


def test_y4m_codec_roundtrip_and_demux():
    """The video tier is a real codec: encode -> demux must be the
    identity on planes/geometry/fps, corrupt containers (bad magic,
    bad FRAME marker, truncated plane, non-mono colorspace) must fail
    to parse, and the PGM frame hand-off must round-trip."""
    import numpy as np
    import pytest

    from event_streaming_bnpl_demo_spark.operators.multimodal import (
        _decode_pgm, _decode_y4m, _encode_pgm, _encode_y4m)

    rng = np.random.RandomState(13)
    frames = rng.randint(0, 256, size=(5, 12, 20)).astype(np.uint8)
    payload = _encode_y4m(frames, fps=25)
    w, h, fps, out = _decode_y4m(payload)
    assert (w, h, fps) == (20, 12, 25)
    assert np.array_equal(out, frames)
    with pytest.raises(ValueError):
        _decode_y4m(b"RIFF not a y4m")                    # wrong magic
    with pytest.raises(ValueError):
        _decode_y4m(payload[:-7])                         # truncated plane
    with pytest.raises(ValueError):
        # valid header, then garbage where FRAME marker must sit
        head = payload[:payload.find(b"\n") + 1]
        _decode_y4m(head + b"XXXXX\n" + bytes(240))
    with pytest.raises(NotImplementedError):
        _decode_y4m(b"YUV4MPEG2 W4 H2 F25:1 C420jpeg\n"
                    b"FRAME\n" + bytes(12))               # chroma streams
    # PGM sibling: encode/decode identity + corrupt rejection
    plane = frames[0]
    w2, h2, back = _decode_pgm(_encode_pgm(plane))
    assert (w2, h2) == (20, 12) and np.array_equal(back, plane)
    with pytest.raises(ValueError):
        _decode_pgm(_encode_pgm(plane)[:-3])


def test_video_feature_closed_forms(spark):
    """Synth corpus invariants the oracle relies on: ramp mean exactly
    base + step*(n-1)/2 + (W-1)/2, motion exactly step, sampled-frame
    PGMs decode to means averaging base + step*(k-1) + (W-1)/2 — all
    verified from DEMUXED bytes through the full mapInPandas path."""
    from event_streaming_bnpl_demo_spark.operators.multimodal import (
        frame_luma_stats, sample_frames, synth_video_media, video_features)

    docs = load_table(spark, SF_SMOKE, "documents").limit(40)
    media = synth_video_media(docs)
    feats = {r["asset_id"]: r for r in video_features(media).collect()}
    assert len(feats) == 40
    for aid, r in feats.items():
        w_exp = 8 + (aid % 17) * 2
        n_exp = 2 + aid % 7
        step = 4 + (aid % 5) * 4
        base = (aid * 13) % 64
        assert (r["width"], r["height"]) == (w_exp, 6 + (aid % 11) * 2)
        assert (r["n_frames"], r["fps"]) == (n_exp, 25)
        assert r["duration_ms"] == n_exp * 40
        assert r["mean_y"] == base + step * (n_exp - 1) / 2 + (w_exp - 1) / 2
        assert r["motion"] == float(step)
        assert r["max_y"] == base + step * (n_exp - 1) + w_exp - 1
    # every-2nd-frame sampling emits decodable PGMs with exact means
    stats = frame_luma_stats(sample_frames(media, every_n=2,
                                           max_frames=8)).collect()
    by_asset: dict[int, list] = {}
    for r in stats:
        by_asset.setdefault(r["asset_id"], []).append(r)
    for aid, rows in by_asset.items():
        w_exp = 8 + (aid % 17) * 2
        step = 4 + (aid % 5) * 4
        base = (aid * 13) % 64
        assert len(rows) == (2 + aid % 7 + 1) // 2
        for r in rows:
            assert r["frame_w"] == w_exp
            assert r["frame_idx"] % 2 == 0
            assert r["frame_mean"] == (base + step * r["frame_idx"]
                                       + (w_exp - 1) / 2)


def test_change_notifier_fires_per_batch(spark, tmp_path):
    """R11 parity: a listener-driven update hook fires after micro-
    batches that moved rows (the reference's WebSocket push analog)."""
    import json
    import os
    import time

    from event_streaming_bnpl_demo_spark.streaming.notify import (
        notify_on_update)

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    with open(os.path.join(in_dir, "a.jsonl"), "w") as f:
        for i in range(5):
            f.write(json.dumps({"event_type": "PurchaseCompletedEvent",
                                "order_id": f"o{i}", "user_id": f"u{i}",
                                "amount": i,
                                "ingest_ts": "2026-01-01T00:00:00Z"}) + "\n")
    updates: list[dict] = []
    notifier = notify_on_update(spark, updates.append)
    try:
        from event_streaming_bnpl_demo_spark.sources import read_event_stream
        q = (read_event_stream(spark, in_dir).writeStream
             .format("memory").queryName("notify_t")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        deadline = time.time() + 20
        while not updates and time.time() < deadline:
            time.sleep(0.2)   # listener bus is async
    finally:
        spark.streams.removeListener(notifier)
    assert updates and updates[0]["num_input_rows"] == 5


def test_connected_components_chain_and_isolated(spark):
    """Min-label propagation needs diameter-many rounds on a chain —
    4-1-7-3 collapses to min id 1 only via transitive steps — while
    the isolated node 9 stays its own component and a 2-clique keeps
    its own minimum. Broadcast and shuffled label joins agree."""
    from event_streaming_bnpl_demo_spark.operators.components import (
        connected_components)

    nodes = spark.createDataFrame([(i,) for i in (1, 3, 4, 7, 9, 5, 6)],
                                  ["id"])
    edges = spark.createDataFrame(
        [(4, 1), (1, 7), (7, 3),   # chain, mixed orientation
         (5, 6)],                  # separate 2-clique
        ["src", "dst"])
    for broadcast in (True, False):
        got = {r["id"]: r["component"]
               for r in connected_components(nodes, edges, npart=2,
                                             broadcast=broadcast).collect()}
        assert got == {1: 1, 3: 1, 4: 1, 7: 1, 9: 9, 5: 5, 6: 5}


def test_connected_components_round_limit(spark):
    """A chain longer than max_rounds raises instead of returning a
    non-converged labeling."""
    import pytest

    from event_streaming_bnpl_demo_spark.operators.components import (
        connected_components)

    n = 6
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_rounds=2, npart=2,
                             broadcast=False)


def test_jaccard_df_cap_bounds_hot_shingle_pairs(spark):
    """Hot-shingle guard: a boilerplate shingle shared by every doc
    makes the uncapped inverted-index join emit all O(n²) pairs; with
    df_cap the hot shingle is dropped, only genuinely-similar pairs
    (sharing rare shingles) survive, and candidate work is bounded."""
    from event_streaming_bnpl_demo_spark.plans.queries_llm import jaccard_pairs

    n = 40
    rows = []
    for d in range(n):
        rows.append((d, "the same boilerplate"))        # hot: df = n
        rows.append((d, f"unique shingle {d}"))
        rows.append((d, f"other unique {d}"))
    # one genuine near-dup pair sharing three rare shingles
    for d in (100, 101):
        for s in ("rare a", "rare b", "rare c"):
            rows.append((d, s))
        rows.append((d, f"tail {d}"))
    sh = spark.createDataFrame(rows, ["doc_id", "s"])

    # uncapped: every boilerplate-only pair has jaccard 1/5 = 0.2
    uncapped = jaccard_pairs(sh, threshold=0.2, df_cap=None)
    assert uncapped.count() >= n * (n - 1) // 2  # the hot-shingle blowup

    capped = jaccard_pairs(sh, threshold=0.2, df_cap=10)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in capped.collect()}
    assert set(got) == {(100, 101)}     # only the rare-shingle pair
    assert abs(got[(100, 101)] - 0.6) < 1e-9  # 3 shared / 5 union


def test_pagerank_fixedpoint_matches_reference(spark):
    """The Spark PageRank loop must equal an independent pure-Python
    fixed-point reference EXACTLY (integer arithmetic, so no
    tolerance), on a small asymmetric graph: a triangle a-b-c plus a
    pendant d attached to c, symmetrized — with the |nodes|-sized sides
    broadcast and shuffled alike."""
    from event_streaming_bnpl_demo_spark.operators.pagerank import (
        DAMP_DEN, DAMP_NUM, SCALE, pagerank_fixedpoint)

    und = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    edges = und + [(d, s) for s, d in und]
    df = spark.createDataFrame(edges, ["src", "dst"])

    got, shuffled = ({r["node"]: r["rank"]
                      for r in pagerank_fixedpoint(df, n_iter=5, npart=2,
                                                   broadcast=b).collect()}
                     for b in (True, False))

    # independent reference: same integer recurrence, plain dicts
    out = {}
    for s, d in edges:
        out.setdefault(s, []).append(d)
    deg = {n: len(v) for n, v in out.items()}
    rank = {n: SCALE for n in out}
    base = SCALE * 15 // 100
    for _ in range(5):
        incoming = {n: 0 for n in out}
        for s, ds in out.items():
            c = rank[s] // deg[s]
            for d in ds:
                incoming[d] += c
        rank = {n: base + DAMP_NUM * incoming[n] // DAMP_DEN for n in out}
    assert got == rank == shuffled
    # the pendant's only neighbor is the hub, so the hub outranks it
    assert got["c"] > got["d"]


def test_asof_forward_strict_and_tolerance(spark):
    """Constructed-case semantics of direction='forward' (the
    descending-sort running-frame formulation): exact-match inclusion,
    strict exclusion, and lookahead tolerance, including a same-
    timestamp collision."""
    left = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 30)], "u int, s int").select(
        "u", F.col("s").alias("lid"),
        F.to_timestamp(F.expr("make_timestamp(2024,1,1,0,0,s)")).alias("lts"))
    right = spark.createDataFrame(
        [(1, 10), (1, 15), (1, 40), (2, 25)], "u int, s int").select(
        "u", F.col("s").alias("rid"),
        F.to_timestamp(F.expr("make_timestamp(2024,1,1,0,0,s)")).alias("rts"))

    def pairs(**kw):
        out = asof_join(left, right, on="u", left_ts="lts", right_ts="rts",
                        right_cols=["rid"], direction="forward", **kw)
        return {(r["lid"], r["rid"]) for r in out.collect()}

    # exact matches allowed: 10 matches itself; 20 -> next at 40;
    # user 2's only view (25) is BEFORE 30 -> no forward match
    assert pairs() == {(10, 10), (20, 40), (30, None)}
    # strict: 10 skips itself -> 15
    assert pairs(allow_exact_matches=False) == {
        (10, 15), (20, 40), (30, None)}
    # 10s lookahead: 40 is 20s past 20 -> nulled
    assert pairs(tolerance=F.expr("INTERVAL 10 SECONDS")) == {
        (10, 10), (20, None), (30, None)}


def test_mv_maintenance_split_invariant(spark):
    """The materialized-view delta algebra must be split-invariant:
    merging base/delta partials gives the SAME view for ANY partition
    of the fact table — the property that makes incremental refresh
    exact rather than approximate. Checked for three different splits
    against the one-shot aggregate, and for the signed (Z-set) path by
    applying a retraction and comparing to a recompute without the
    retracted rows."""
    from event_streaming_bnpl_demo_spark.plans.queries_mv import \
        _seg_partial

    o = load_table(spark, SF_SMOKE, "orders")
    dim = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_mktsegment")

    def folded(mod: int) -> dict:
        base = _seg_partial(o.filter(F.col("o_orderkey") % mod != 0), dim)
        delta = _seg_partial(o.filter(F.col("o_orderkey") % mod == 0), dim)
        merged = (base.alias("m")
                  .join(delta.alias("d"), "c_mktsegment", "full_outer")
                  .select("c_mktsegment",
                          (F.coalesce(F.col("m.pn"), F.lit(0))
                           + F.coalesce(F.col("d.pn"), F.lit(0)))
                          .alias("n"),
                          (F.coalesce(F.col("m.psum"),
                                      F.lit("0").cast("decimal(30,2)"))
                           + F.coalesce(F.col("d.psum"),
                                        F.lit("0").cast("decimal(30,2)")))
                          .alias("s")))
        return {r["c_mktsegment"]: (r["n"], r["s"])
                for r in merged.collect()}

    direct = {r["c_mktsegment"]: (r["pn"], r["psum"])
              for r in _seg_partial(o, dim).collect()}
    for mod in (2, 3, 7):
        assert folded(mod) == direct, f"split %{mod} diverged"

    # signed retraction: view(all) - partial(retracted) == view(kept)
    retracted = _seg_partial(o.filter(F.col("o_orderkey") % 4 == 0), dim)
    kept = _seg_partial(o.filter(F.col("o_orderkey") % 4 != 0), dim)
    all_mv = _seg_partial(o, dim)
    applied = (all_mv.alias("m")
               .join(retracted.alias("r"), "c_mktsegment", "left")
               .select("c_mktsegment",
                       (F.col("m.pn") - F.coalesce(F.col("r.pn"), F.lit(0)))
                       .alias("n"),
                       (F.col("m.psum")
                        - F.coalesce(F.col("r.psum"),
                                     F.lit("0").cast("decimal(30,2)")))
                       .alias("s")))
    got = {r["c_mktsegment"]: (r["n"], r["s"]) for r in applied.collect()
           if r["n"] > 0}
    want = {r["c_mktsegment"]: (r["pn"], r["psum"]) for r in kept.collect()}
    assert got == want


def test_mv_quantile_sketch_error_bound(spark):
    """The histogram sketch's stated guarantee: each reported quantile
    upper edge is >= the true quantile and within one bin width above
    it — checked against the exact per-group percentiles."""
    from event_streaming_bnpl_demo_spark.plans import all_queries

    got = {r["priority"]: r
           for r in all_queries()["mv_quantile_sketch"]
           .fn(spark, SF_SMOKE).collect()}
    from pyspark.sql.window import Window

    # the sketch's rank definition is the DISCRETE element at
    # ceil(q*n) (not an interpolated percentile): compute it exactly
    o = load_table(spark, SF_SMOKE, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    ranked = (o.select(F.col("o_orderpriority").alias("priority"),
                       "o_totalprice",
                       F.row_number().over(w).alias("rk"),
                       F.count(F.lit(1)).over(
                           Window.partitionBy("o_orderpriority"))
                       .alias("n")))
    exact = (ranked
             .groupBy("priority")
             .agg(F.min(F.when(
                      F.col("rk") >= F.floor((F.col("n") + 1) / 2),
                      F.col("o_totalprice"))).alias("p50"),
                  F.min(F.when(
                      F.col("rk") >= F.floor((19 * F.col("n") + 19) / 20),
                      F.col("o_totalprice"))).alias("p95")))
    for r in exact.collect():
        g = got[r["priority"]]
        # contract: the rank element lies in (upper - width, upper]
        assert g["p50_upper"] - 1000 < r["p50"] <= g["p50_upper"], \
            (r["priority"], g["p50_upper"], r["p50"])
        assert g["p95_upper"] - 1000 < r["p95"] <= g["p95_upper"], \
            (r["priority"], g["p95_upper"], r["p95"])


def test_cdc_emit_apply_roundtrip(spark):
    """The CDC loop's defining law: applying the emitted change feed
    to the old snapshot reproduces the new snapshot exactly — deletes
    drop, updates override, inserts append, untouched rows pass
    through. Uses the catalog's own emission query so the law is
    checked against the production diff, not a test replica."""
    from event_streaming_bnpl_demo_spark.plans import all_queries

    feed = all_queries()["cdc_emit_changes"].fn(spark, SF_SMOKE)

    o = load_table(spark, SF_SMOKE, "orders")
    k = F.col("o_orderkey")
    old = o.select(k.alias("k"), F.col("o_orderstatus").alias("st"))
    max_key = o.agg(F.max(k)).head()[0] + 1
    new = (o.filter(k % 13 != 0)
           .select(k.alias("k"),
                   F.when(k % 7 == 0, "X").otherwise(F.col("o_orderstatus"))
                   .alias("st"))
           .unionAll(o.filter(k % 11 == 0)
                     .select((k + F.lit(max_key)).alias("k"),
                             F.col("o_orderstatus").alias("st"))))

    # apply: left-join the feed onto old, drop D, override U, append I
    f = feed.alias("f")
    applied = (old.alias("o")
               .join(f, F.col("o.k") == F.col("f.k"), "left")
               .filter(F.col("f.op").isNull() | (F.col("f.op") != "D"))
               .select(F.col("o.k").alias("k"),
                       F.coalesce(F.col("f.status_new"), F.col("o.st"))
                       .alias("st"))
               .unionAll(feed.filter(F.col("op") == "I")
                         .select(F.col("k"),
                                 F.col("status_new").alias("st"))))

    got = sorted((r["k"], r["st"]) for r in applied.collect())
    want = sorted((r["k"], r["st"]) for r in new.collect())
    assert got == want


def test_guarded_int_key_fails_loudly_outside_domain(spark):
    """The jaccard int-narrowing guard's whole contract is LOUD
    failure: a key outside [0, 2^31) must raise at execution (the
    assert_true lives inside the projected expression, so pruning
    cannot drop it) — never silently truncate into a colliding packed
    pair key. In-domain keys pass through narrowed and exact,
    including both boundary values."""
    import pytest
    from pyspark.sql import functions as F

    from event_streaming_bnpl_demo_spark.plans.queries_ext7 import \
        _guarded_int_key

    ok = spark.createDataFrame(
        [(0,), (1,), (2 ** 31 - 1,)], "o_custkey long")
    got = sorted(r["c"] for r in ok.select(
        _guarded_int_key("o_custkey", "t").alias("c")).collect())
    assert got == [0, 1, 2 ** 31 - 1]
    assert ok.select(_guarded_int_key("o_custkey", "t").alias("c")) \
             .schema["c"].dataType.simpleString() == "int"

    for bad_key in (-1, 2 ** 31):
        bad = spark.createDataFrame([(bad_key,)], "o_custkey long")
        with pytest.raises(Exception, match="outside \\[0, 2\\^31\\)"):
            bad.select(_guarded_int_key("o_custkey", "t").alias("c")) \
               .collect()
