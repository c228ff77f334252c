"""Property-based convergence tests (hypothesis): the BNPL projections
are recomputes over the event log, so they must be invariant under the
two stream pathologies the reference mishandles — duplicate delivery
(consumer/consumer.go:187: fresh UUID per insert makes dupes
undetectable) and reordering (consumer/consumer.go:214-220: UPDATE
before INSERT hits no row). For ANY event sequence, any permutation +
duplication of it must project to the same bills state."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from event_streaming_bnpl_demo_spark.schemas import BNPL_ENVELOPE
from event_streaming_bnpl_demo_spark.streaming import transforms

BILLS = ["b1", "b2", "b3"]


def _create(bill, i):
    return {"event_type": "MemberBillCreatedEvent", "bill_id": bill,
            "promise_id": f"pr-{bill}", "user_id": "u1", "amount": 100 + i,
            "issued_date": "2026-01-01",
            "ingest_ts": f"2026-01-01T00:00:{i:02d}Z"}


def _pay(bill, i):
    return {"event_type": "PaymentCompletedEvent", "bill_id": bill,
            "user_id": "u1", "amount": 100 + i, "paid_date": "2026-01-02",
            "ingest_ts": f"2026-01-02T00:00:{i:02d}Z"}


events_strategy = st.lists(
    st.tuples(st.sampled_from(BILLS), st.booleans()),
    min_size=1, max_size=6,
).map(lambda pairs: [
    (_pay(b, i) if is_pay else _create(b, i))
    for i, (b, is_pay) in enumerate(pairs)
])


def _envelope(spark, events):
    import datetime as dt

    rows_in = []
    for e in events:
        r = {f.name: e.get(f.name) for f in BNPL_ENVELOPE.fields}
        r["ingest_ts"] = dt.datetime.fromisoformat(
            e["ingest_ts"].replace("Z", "+00:00"))
        rows_in.append(r)
    return spark.createDataFrame(rows_in, schema=BNPL_ENVELOPE)


def _project(spark, events):
    rows = transforms.project_bills(_envelope(spark, events)).collect()
    return sorted((r["id"], r["status"], str(r["paid_date"]),
                   r["amount"], r["promise_id"]) for r in rows)


@settings(max_examples=12,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(events=events_strategy, seed=st.randoms(use_true_random=False))
def test_bills_projection_order_and_duplicate_invariant(spark, events, seed):
    baseline = _project(spark, events)
    shuffled = list(events) + [seed.choice(events)]  # duplicate one
    seed.shuffle(shuffled)
    assert _project(spark, shuffled) == baseline


_AMOUNTS = st.sampled_from([None, 100, 200])
#: two timestamps, so events often tie on ``ingest_ts``
_TS = st.sampled_from(["2026-01-01T00:00:00Z", "2026-01-01T00:00:01Z"])

_PROMISE_EVENT = st.fixed_dictionaries({
    "event_type": st.just("PaymentPromiseCreatedEvent"),
    "promise_id": st.sampled_from(["p1", "p2"]),
    "order_id": st.sampled_from(["o1", "o2"]),
    "user_id": st.sampled_from(["u1", "u2"]),
    "amount": _AMOUNTS,
    "due_date": st.sampled_from(["2026-01-31", "2026-02-28"]),
    "payment_mode": st.just("月まとめ払い"),
    "ingest_ts": _TS,
})

_BILL_EVENT = st.fixed_dictionaries({
    "event_type": st.sampled_from(["MemberBillCreatedEvent",
                                   "PaymentCompletedEvent"]),
    "bill_id": st.sampled_from(["b1", "b2"]),
    "promise_id": st.sampled_from(["p1", "p2"]),
    "user_id": st.sampled_from(["u1", "u2"]),
    "amount": _AMOUNTS,
    "issued_date": st.sampled_from(["2026-01-01", "2026-01-02"]),
    "paid_date": st.sampled_from(["2026-01-03", "2026-01-04"]),
    "ingest_ts": _TS,
})


@st.composite
def _split_log(draw):
    """A log of promise and bill events with one exact redelivery, cut
    at any point into an earlier and a later slice."""
    events = draw(st.lists(st.one_of(_PROMISE_EVENT, _BILL_EVENT),
                           min_size=1, max_size=8))
    events.insert(draw(st.integers(0, len(events))),
                  draw(st.sampled_from(events)))
    cut = draw(st.integers(0, len(events)))
    return events[:cut], events[cut:]


@settings(max_examples=10,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(split=_split_log())
def test_fold_of_stored_state_equals_combine_of_whole_log(spark, split):
    """The law the pipeline's fold rests on, for both projections:
    combining the stored state of ``a`` with the raw rows of ``b`` gives
    what one combine over the rows of ``a + b`` gives — and the state
    keeps the rows' schema, so it can be stored and combined again."""
    a, b = _envelope(spark, split[0]), _envelope(spark, split[1])
    for rows, combine in ((transforms.promise_rows,
                           transforms.combine_promises),
                          (transforms.bill_rows, transforms.combine_bills)):
        state = combine(rows(a))
        assert ([(f.name, f.dataType) for f in state.schema]
                == [(f.name, f.dataType) for f in rows(a).schema])
        folded = combine(state.unionByName(rows(b)))
        whole = combine(rows(a.unionByName(b)))
        assert (sorted(folded.collect(), key=repr)
                == sorted(whole.collect(), key=repr))


# ---------------------------------------------------------------------------
# custom join operators vs brute-force reference semantics
# ---------------------------------------------------------------------------

_JOIN_ROWS = st.lists(
    st.tuples(st.integers(1, 2),          # key
              st.integers(0, 20),         # ts (epoch seconds)
              st.integers(0, 99)),        # value
    min_size=0, max_size=8)


def _ts_df(spark, rows, ts_name, val_name):
    import datetime as dt
    data = [(k, dt.datetime(2026, 1, 1, 0, 0, t, tzinfo=dt.timezone.utc), v)
            for k, t, v in rows]
    return spark.createDataFrame(
        data, f"user_id long, {ts_name} timestamp, {val_name} long")


@settings(max_examples=10,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(left=_JOIN_ROWS, right=_JOIN_ROWS)
def test_interval_join_matches_bruteforce(spark, left, right):
    """interval_join == the O(n*m) definition: every (l, r) pair with
    equal keys and r_ts in (l_ts, l_ts + 5s], for ANY inputs."""
    from event_streaming_bnpl_demo_spark.operators.interval import (
        interval_join)

    ldf = _ts_df(spark, left, "v_ts", "lval")
    rdf = _ts_df(spark, right, "p_ts", "rval")
    got = sorted((r["user_id"], r["lval"], r["rval"])
                 for r in interval_join(ldf, rdf, "user_id",
                                        "v_ts", "p_ts", "5 SECONDS")
                 .collect())
    want = sorted((lk, lv, rv)
                  for lk, lt, lv in left
                  for rk, rt, rv in right
                  if lk == rk and lt < rt <= lt + 5)
    assert got == want


@settings(max_examples=10,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(left=_JOIN_ROWS, right=_JOIN_ROWS)
def test_asof_join_matches_bruteforce(spark, left, right):
    """asof_join == the definition: per left row, the right row with
    the greatest r_ts <= l_ts for the same key; equal-timestamp ties
    break to the field-wise max struct (value, ts) — deterministic, so
    the brute force can predict it exactly."""
    from event_streaming_bnpl_demo_spark.operators.asof import asof_join

    def key(t):
        return tuple(-1 if v is None else v for v in t)

    ldf = _ts_df(spark, left, "l_ts", "lval")
    rdf = _ts_df(spark, right, "r_ts", "rval")
    got = sorted(((r["user_id"], r["lval"], r["rval"])
                  for r in asof_join(ldf, rdf, "user_id", "l_ts", "r_ts")
                  .select("user_id", "lval", "rval").collect()), key=key)
    want = []
    for lk, lt, lv in left:
        cands = [(rt, rv) for rk, rt, rv in right if rk == lk and rt <= lt]
        if cands:
            best_ts = max(rt for rt, _ in cands)
            # tie-break = max struct (rval, rts) among best_ts rows
            rv = max(rv for rt, rv in cands if rt == best_ts)
        else:
            rv = None
        want.append((lk, lv, rv))
    assert got == sorted(want, key=key)


@settings(max_examples=8,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(edges=st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)),
                      min_size=0, max_size=15))
def test_connected_components_matches_union_find(spark, edges):
    """connected_components == a sequential union-find over the same
    random graph (nodes 0..12, arbitrary self-loops/duplicates/both
    orientations included)."""
    from event_streaming_bnpl_demo_spark.operators.components import (
        connected_components)

    nodes = list(range(13))
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min member of each set
    want = {}
    for n in nodes:
        root = find(n)
        want[n] = min(m for m in nodes if find(m) == root)

    ndf = spark.createDataFrame([(n,) for n in nodes], ["id"])
    edf = spark.createDataFrame(edges or [(0, 0)], ["src", "dst"])
    got = {r["id"]: r["component"]
           for r in connected_components(ndf, edf, npart=2,
                                         broadcast=True).collect()}
    assert got == want


def test_scd2_intervals_partition_each_user_timeline(spark):
    """Semantic invariants of the SCD-type-2 build, independent of the
    oracle: per user, exactly one open (is_current) row; intervals
    chain with no gaps or overlaps (each row's valid_to equals the
    next row's valid_from); and consecutive rows never repeat a state
    (repeats must have collapsed)."""
    from event_streaming_bnpl_demo_spark.plans import all_queries

    from .conftest import SF_SMOKE

    rows = (all_queries()["ts_scd2_states"]
            .fn(spark, SF_SMOKE).collect())
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert by_user
    for user, urows in by_user.items():
        urows.sort(key=lambda r: r["valid_from"])
        assert sum(r["is_current"] for r in urows) == 1, user
        assert urows[-1]["is_current"] and \
            urows[-1]["valid_to"] == "9999-12-31 00:00:00", user
        for a, b in zip(urows, urows[1:]):
            assert a["valid_to"] == b["valid_from"], (user, a, b)
            assert a["state"] != b["state"], (user, a, b)


def test_sessionize_session_count_matches_gap_count(spark):
    """The number of sessions per user must equal 1 + the number of
    inter-event gaps exceeding the threshold — computed here directly
    from the raw log, independently of the windowed formulation. Also:
    session event counts must sum back to the user's event count."""
    from event_streaming_bnpl_demo_spark.plans import all_queries
    from event_streaming_bnpl_demo_spark.plans.queries_ts import \
        _SESSION_GAP_S
    from event_streaming_bnpl_demo_spark.sources import load_table

    from .conftest import SF_SMOKE

    sessions = (all_queries()["ts_sessionize"]
                .fn(spark, SF_SMOKE).collect())
    raw = (load_table(spark, SF_SMOKE, "events")
           .select("user_id", "ts", "event_id").collect())
    timeline: dict = {}
    for r in raw:
        timeline.setdefault(r["user_id"], []).append((r["ts"], r["event_id"]))
    got_sessions: dict = {}
    got_events: dict = {}
    for s in sessions:
        got_sessions[s["user_id"]] = got_sessions.get(s["user_id"], 0) + 1
        got_events[s["user_id"]] = (got_events.get(s["user_id"], 0)
                                    + s["n_events"])
    for user, evs in timeline.items():
        evs.sort()
        gaps = sum(
            1 for a, b in zip(evs, evs[1:])
            if (b[0] - a[0]).total_seconds() > _SESSION_GAP_S)
        assert got_sessions[user] == 1 + gaps, user
        assert got_events[user] == len(evs), user


_MV_ROWS = st.lists(
    st.tuples(st.integers(0, 9),              # group key
              st.integers(-10_000, 10_000)),  # value in cents
    min_size=1, max_size=40,
)


@settings(max_examples=15,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_MV_ROWS, cut=st.integers(0, 40))
def test_mv_partial_merge_invariant(spark, rows, cut):
    """Property behind every view in the round-5 mv pack: for ANY row
    multiset and ANY base/delta split point, merging the two partials'
    (count, exact decimal sum) per group equals the one-shot aggregate
    — including negative values (retraction weights) and groups that
    exist on only one side of the split."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    base_rows, delta_rows = rows[:cut], rows[cut:]

    def partial(rs):
        if not rs:
            return {}
        df = spark.createDataFrame(rs, "g int, v long")
        out = (df.groupBy("g")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum((F.col("v") / 100).cast("decimal(30,2)"))
                    .alias("s")))
        return {r["g"]: (r["n"], r["s"]) for r in out.collect()}

    merged = {}
    for part in (partial(base_rows), partial(delta_rows)):
        for g, (n, sdec) in part.items():
            bn, bs = merged.get(g, (0, Decimal("0")))
            merged[g] = (bn + n, bs + sdec)
    direct = partial(rows)
    assert merged == direct


mad_frames = st.lists(
    st.tuples(st.sampled_from(["a", "b"]),          # group
              st.integers(min_value=0, max_value=500)),  # value
    min_size=1, max_size=14,
)


@settings(max_examples=12,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=mad_frames)
def test_mad_outliers_laws(spark, rows):
    """MAD detector laws over arbitrary integer series: every flagged
    row really deviates by more than max(3·MAD, 1) from the group's
    discrete median (recomputed independently in Python), no
    non-deviating row is flagged, and constant series never flag."""
    from event_streaming_bnpl_demo_spark.operators.robust import (
        mad_outliers,
    )

    data = [(g, f"d{i:02d}", v) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, day string, v long")
    got = {(r["g"], r["day"]) for r in
           mad_outliers(df, "g", "day", "v").collect()}

    def disc_median(vals):
        return sorted(vals)[(len(vals) + 1) // 2 - 1]

    want = set()
    by_g = {}
    for g, day, v in data:
        by_g.setdefault(g, []).append((day, v))
    for g, items in by_g.items():
        med = disc_median([v for _, v in items])
        mad = disc_median([abs(v - med) for _, v in items])
        for day, v in items:
            if abs(v - med) > max(3 * mad, 1):
                want.add((g, day))
    assert got == want, (sorted(got), sorted(want), data)


quota_frames = st.lists(
    st.integers(min_value=1, max_value=10_000),
    min_size=1, max_size=8,
)


@settings(max_examples=12,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(counts=quota_frames, budget=st.integers(min_value=0, max_value=5_000))
def test_temperature_quota_laws(spark, counts, budget):
    """Mixture-quota laws over arbitrary holdings: 0 <= quota <=
    holdings, the quota total never overshoots the budget, and quotas
    are monotone in holdings (a strictly larger source never keeps
    fewer docs)."""
    from event_streaming_bnpl_demo_spark.operators.robust import (
        temperature_quotas,
    )

    df = spark.createDataFrame(
        [(f"s{i}", n) for i, n in enumerate(counts)],
        "source string, n_total long")
    rows = {r["source"]: (r["n_total"], r["n_keep"])
            for r in temperature_quotas(df, budget).collect()}
    assert all(0 <= k <= n for n, k in rows.values()), rows
    assert sum(k for _, k in rows.values()) <= budget, rows
    items = sorted(rows.values())
    for (n1, k1), (n2, k2) in zip(items, items[1:]):
        assert k1 <= k2 or n1 == n2, items


# --- prefix-filter SSJoin: lemma AND implementation -----------------------

_DOCS = st.lists(
    st.lists(st.integers(min_value=0, max_value=30),
             min_size=0, max_size=12),
    min_size=2, max_size=8)


def _brute_jaccard_pairs(docs):
    """The O(n^2) definition over distinct token sets, threshold 0.5.
    Token universe and set sizes are capped so |A union B| <= 24 —
    every jaccard is i/u with u <= 24, whose correctly-rounded double
    can never sit on a 6th-decimal rounding boundary (that needs a
    2^7 factor in u), so double compare/round agree across engines."""
    sets = {i: set(d) for i, d in enumerate(docs) if d}
    out = {}
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                union = len(sets[a] | sets[b])
                if inter / union >= 0.5:
                    out[(a, b)] = inter / union
    return out


@settings(max_examples=100)
@given(docs=_DOCS)
def test_prefix_filter_lemma_pure(docs):
    """The theorem itself, on arbitrary set families: under the global
    (df asc, token asc) order with prefix length n - ceil(n/2) + 1,
    every pair with J >= 0.5 shares a prefix token AND passes the
    length filter — no qualifying pair can be lost."""
    sets = {i: set(d) for i, d in enumerate(docs) if d}
    df = {}
    for s in sets.values():
        for tok in s:
            df[tok] = df.get(tok, 0) + 1
    prefixes = {}
    for i, s in sets.items():
        ordered = sorted(s, key=lambda tok: (df[tok], tok))
        n = len(ordered)
        prefixes[i] = set(ordered[:n - (n + 1) // 2 + 1])
    for (a, b) in _brute_jaccard_pairs(docs):
        assert prefixes[a] & prefixes[b], (docs, a, b)
        na, nb = len(sets[a]), len(sets[b])
        assert 2 * nb >= na and 2 * na >= nb, (docs, a, b)


@settings(max_examples=8,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=_DOCS)
def test_prefix_filter_matches_bruteforce(spark, docs):
    """The Spark implementation == the O(n^2) definition for ANY
    generated corpus: same pairs, same jaccard to 6 decimals."""
    from hypothesis import assume

    from event_streaming_bnpl_demo_spark.plans.queries_ext9 import (
        prefix_filter_pairs)

    rows = [(i, str(tok)) for i, d in enumerate(docs) for tok in set(d)]
    assume(rows)
    sh = spark.createDataFrame(rows, "doc_id long, s string")
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in prefix_filter_pairs(sh).collect()}
    want = _brute_jaccard_pairs(docs)
    assert set(got) == set(want), (docs, got, want)
    for k, j in want.items():
        assert abs(got[k] - j) < 1e-6, (docs, k, j, got[k])


_STREAK_ROWS = st.lists(
    st.tuples(st.integers(min_value=1, max_value=4),      # customer
              st.integers(min_value=0, max_value=40)),    # epoch day
    min_size=1, max_size=40,
)


@settings(max_examples=10,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_STREAK_ROWS)
def test_window_streaks_matches_bruteforce(spark, rows):
    """The row_number-difference gaps-and-islands implementation equals
    the O(n) per-customer definition — max/total/count of consecutive
    runs over sorted distinct days — for ANY multiset of (customer,
    day) rows, including duplicate days and singleton-only customers
    (which must be filtered out)."""
    import datetime as dt

    from event_streaming_bnpl_demo_spark.plans import queries_ext10 as m

    base = dt.date(1995, 1, 1)
    df = spark.createDataFrame(
        [(c, dt.datetime.combine(base + dt.timedelta(days=d),
                                 dt.time(9))) for c, d in rows],
        "o_custkey long, o_orderdate timestamp")

    days = {}
    for c, d in rows:
        days.setdefault(c, set()).add(d)
    want = {}
    for c, ds in days.items():
        sd = sorted(ds)
        runs, cur = [], 1
        for a, b in zip(sd, sd[1:]):
            cur = cur + 1 if b - a == 1 else (runs.append(cur), 1)[1]
        runs.append(cur)
        if max(runs) >= 2:
            want[c] = (max(runs), len(sd), len(runs))

    orig = m.load_table
    m.load_table = lambda spark, sf, name: df
    try:
        got = {r["o_custkey"]: (r["max_streak"], r["n_days"],
                                r["n_streaks"])
               for r in m.window_streaks(spark, "unused").collect()}
    finally:
        m.load_table = orig
    assert got == want


@settings(max_examples=10,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(left=_JOIN_ROWS, right=_JOIN_ROWS)
def test_asof_nearest_matches_bruteforce(spark, left, right):
    """direction="nearest" == the definition: per left row, the closer
    of the backward pick (latest r_ts <= l_ts, ties to max struct) and
    the forward pick (earliest r_ts >= l_ts, ties to min struct),
    equal distances breaking to the backward row."""
    from event_streaming_bnpl_demo_spark.operators.asof import asof_join

    def key(t):
        return tuple(-1 if v is None else v for v in t)

    ldf = _ts_df(spark, left, "l_ts", "lval")
    rdf = _ts_df(spark, right, "r_ts", "rval")
    got = sorted(((r["user_id"], r["lval"], r["rval"])
                  for r in asof_join(ldf, rdf, "user_id", "l_ts", "r_ts",
                                     direction="nearest")
                  .select("user_id", "lval", "rval").collect()), key=key)
    want = []
    for lk, lt, lv in left:
        back = [(rt, rv) for rk, rt, rv in right if rk == lk and rt <= lt]
        fwd = [(rt, rv) for rk, rt, rv in right if rk == lk and rt >= lt]
        b = f = None
        if back:
            bt = max(rt for rt, _ in back)
            b = (bt, max(rv for rt, rv in back if rt == bt))
        if fwd:
            ft = min(rt for rt, _ in fwd)
            f = (ft, min(rv for rt, rv in fwd if rt == ft))
        if b is None and f is None:
            rv = None
        elif f is None or (b is not None and lt - b[0] <= f[0] - lt):
            rv = b[1]
        else:
            rv = f[1]
        want.append((lk, lv, rv))
    assert got == sorted(want, key=key)


@given(st.lists(st.text(
    alphabet=st.characters(
        codec="utf-8", categories=("Ll", "Lu", "Nd", "Po", "Zs", "Sm")),
    max_size=60), min_size=1, max_size=20))
@settings(max_examples=200)
def test_normalize_text_fusion_equivalence(texts):
    """The r10 normalize_text rewrite rests on one claim: mapping every
    char outside [a-z0-9 ] to ' ' and then collapsing ' +' runs is
    EXACTLY collapsing every maximal run of non-[a-z0-9] to one space.
    Both forms map each maximal non-alnum run (spaces included) to a
    single space, so they agree on every string — locked here as a
    property over arbitrary text (punctuation, unicode, digits, case,
    leading/trailing/multiple spaces), in pure `re` for the logic and
    below in both engines for the emitted SQL."""
    import re

    for t in texts:
        low = t.lower()
        two_pass = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", low)).strip()
        fused = re.sub("[^a-z0-9]+", " ", low).strip()
        assert two_pass == fused, repr(t)


def test_normalize_text_fusion_equivalence_in_engines(spark):
    """The same equivalence checked on the EMITTED SQL in each engine
    (Spark's java.util.regex and DuckDB's RE2 could each diverge from
    Python `re` independently): the fused expression the catalog now
    ships must equal the r9 two-pass form per engine over a corpus of
    the hard shapes plus real document rows."""
    import duckdb

    from event_streaming_bnpl_demo_spark.functions.text import \
        normalize_text
    from tests.conftest import SF_SMOKE

    hard = ["", " ", "  ", "a", "A.b--c", "x  y", ".lead", "trail.",
            "a.b c", "1,234.56", "MIXED Case 42", "dots...dots",
            "tab\tand\nnewline", "unicode é ü ß", "a-b_c+d=e"]
    # Spark: fused (the shipped helper) vs the r9 two-pass literal
    two_pass_spark = ("trim(regexp_replace(regexp_replace(lower(t), "
                      "'[^a-z0-9 ]', ' '), ' +', ' '))")
    df = spark.createDataFrame([(t,) for t in hard], "t string")
    rows = df.selectExpr(
        normalize_text("t", "spark") + " AS fused",
        two_pass_spark + " AS two_pass").collect()
    for t, r in zip(hard, rows):
        assert r["fused"] == r["two_pass"], repr(t)
    # ...and over real document text at the smoke SF
    from event_streaming_bnpl_demo_spark.sources import load_table
    docs = load_table(spark, SF_SMOKE, "documents")
    mism = docs.selectExpr(
        normalize_text("text", "spark") + " AS fused",
        two_pass_spark.replace("lower(t)", "lower(text)") + " AS two_pass"
    ).filter("fused <> two_pass").count()
    assert mism == 0
    # DuckDB: same pair on the same corpus
    con = duckdb.connect()
    two_pass_duck = ("trim(regexp_replace(regexp_replace(lower(t), "
                     "'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))")
    for t in hard:
        fused, two_pass = con.execute(
            f"SELECT {normalize_text('t', 'duckdb')}, {two_pass_duck} "
            f"FROM (SELECT ? AS t)", [t]).fetchone()
        assert fused == two_pass, repr(t)
