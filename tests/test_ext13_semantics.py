"""Semantic law tests for the ext13 pack: the Holt fixed-point fold
and the k-core peel checked against independent pure-Python references
(a third implementation — the DuckDB oracle shares only the recurrence
DEFINITION, so an error in the shared formulation would pass the gate;
these pin the math itself, hypothesis-driven).
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from .conftest import SF_SMOKE


# --- Holt fixed-point fold ---------------------------------------------------

def _holt_py(vals: list[int]) -> tuple[int, int]:
    """Reference fold: alpha=1/5, beta=3/10, truncating division
    toward zero (Spark DIV / DuckDB // semantics)."""
    def tdiv(a: int, b: int) -> int:
        q = abs(a) // b
        return q if a >= 0 else -q

    level, trend = vals[0], 0
    for x in vals[1:]:
        nl = tdiv(x + 4 * (level + trend), 5)
        trend = tdiv(3 * (nl - level) + 7 * trend, 10)
        level = nl
    return level, trend


@given(st.lists(st.integers(0, 10**12), min_size=1, max_size=30))
@settings(max_examples=60)
def test_holt_fold_matches_python_reference(spark, vals):
    arr = ", ".join(f"{v}L" for v in vals)
    row = spark.sql(f"""
      SELECT aggregate(
        slice(vals, 2, size(vals) - 1),
        named_struct('l', element_at(vals, 1), 't', CAST(0 AS BIGINT)),
        (acc, x) -> named_struct(
          'l', (x + 4 * (acc.l + acc.t)) DIV 5,
          't', (3 * (((x + 4 * (acc.l + acc.t)) DIV 5) - acc.l)
                + 7 * acc.t) DIV 10)) AS s
      FROM (SELECT array({arr}) AS vals)
    """).collect()[0]["s"]
    assert (row["l"], row["t"]) == _holt_py(vals)


def test_holt_trend_laws(spark):
    """Constant series => trend settles at 0 and level at the
    constant; a linearly growing series => positive trend."""
    const = [1000] * 20
    assert _holt_py(const) == (1000, 0)
    rising = [1000 + 100 * i for i in range(30)]
    level, trend = _holt_py(rising)
    assert trend > 0 and level > 1000


# --- k-core peel -------------------------------------------------------------

def _kcore_py(edges: set[tuple[int, int]], k: int) -> dict[int, int]:
    """Reference peel to fixpoint; returns surviving node ->
    core-subgraph degree. Edges are undirected distinct pairs."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj.pop(n):
                    adj[m].discard(n)
                changed = True
    return {n: len(ns) for n, ns in adj.items() if ns}


@given(st.sets(st.tuples(st.integers(0, 14), st.integers(0, 14))
               .map(lambda p: (min(p), max(p)))
               .filter(lambda p: p[0] != p[1]),
               max_size=40))
@settings(max_examples=40)
def test_kcore_peel_fixpoint_properties(edges):
    core = _kcore_py(edges, 3)
    # every surviving node has degree >= k within the core
    assert all(d >= 3 for d in core.values())
    # maximality: no removed node has >= k neighbors inside the core
    removed = ({n for e in edges for n in e}) - set(core)
    for n in removed:
        inside = sum(1 for a, b in edges
                     if (a == n and b in core) or (b == n and a in core))
        assert inside < 3 or not core, (n, inside)


def test_kcore_spark_matches_python_reference(spark, monkeypatch):
    """The catalog query's 8-round peel equals the Python fixpoint on
    the actual smoke graph (rounds-to-converge <= 8 there), with the
    survivor set broadcast and shuffled."""
    from pyspark.sql import functions as F

    from event_streaming_bnpl_demo_spark.plans import queries_ext13
    from event_streaming_bnpl_demo_spark.plans.queries_ext13 import (
        graph_kcore)
    from event_streaming_bnpl_demo_spark.sources import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    sel = (li.filter(F.col("l_quantity") >= 45)
           .select("l_orderkey", "l_suppkey"))
    a, b = sel.alias("a"), sel.alias("b")
    pairs = {(r["s1"], r["s2"]) for r in
             (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                     & (F.col("a.l_suppkey") < F.col("b.l_suppkey")))
              .select(F.col("a.l_suppkey").alias("s1"),
                      F.col("b.l_suppkey").alias("s2"))
              .distinct().collect())}
    want = _kcore_py(pairs, 3)
    for broadcast in (True, False):
        monkeypatch.setattr(queries_ext13, "fits_broadcast",
                            lambda *a, b=broadcast: b)
        got = {r["node"]: r["core_degree"]
               for r in graph_kcore(spark, SF_SMOKE).collect()}
        assert got == want, broadcast


def _kruskal_reference(spark):
    """The heavy-quantity supplier co-purchase graph's edges, and its
    minimum spanning forest by an independent Python Kruskal under the
    strict (weight, src, dst) edge order ``graph_mst_boruvka`` uses;
    also the forest's expected size, |nodes| - |components|."""
    import hashlib

    from pyspark.sql import functions as F

    from event_streaming_bnpl_demo_spark.sources import load_table

    li = load_table(spark, SF_SMOKE, "lineitem")
    sel = (li.filter(F.col("l_quantity") >= 45)
           .select("l_orderkey", "l_suppkey"))
    a, b = sel.alias("a"), sel.alias("b")
    pairs = {(r["s1"], r["s2"]) for r in
             (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                     & (F.col("a.l_suppkey") < F.col("b.l_suppkey")))
              .select(F.col("a.l_suppkey").alias("s1"),
                      F.col("b.l_suppkey").alias("s2"))
              .distinct().collect())}

    def w(s, d):
        return int(hashlib.md5(f"{s}:{d}".encode()).hexdigest()[:12], 16)

    # reference Kruskal with union-find under the same strict order
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    want = set()
    for wt, s, d in sorted((w(s, d), s, d) for s, d in pairs):
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
            want.add((s, d, wt))
    nodes = {n for e in pairs for n in e}
    return want, len(nodes) - len({find(n) for n in nodes})


def test_mst_boruvka_matches_kruskal(spark, monkeypatch):
    """The Borůvka forest equals an independent Python Kruskal under
    the identical strict (weight, src, dst) edge order — exact edge-set
    equality, not just total weight (the strict order makes the forest
    unique even under weight ties) — whether the size decision
    broadcasts the label joins or shuffles them."""
    from event_streaming_bnpl_demo_spark.plans import queries_ext18
    from event_streaming_bnpl_demo_spark.plans.queries_ext18 import (
        graph_mst_boruvka)

    want, n_forest = _kruskal_reference(spark)
    for broadcast in (True, False):
        monkeypatch.setattr(queries_ext18, "fits_broadcast",
                            lambda *a, b=broadcast: b)
        got = {(r["src"], r["dst"], r["weight"])
               for r in graph_mst_boruvka(spark, SF_SMOKE).collect()}
        assert got == want, broadcast
        # forest laws: |edges| = |nodes| - |components|, and acyclic by
        # construction of the reference equality above
        assert len(got) == n_forest, broadcast


def test_mst_boruvka_contracted_merge_matches_kruskal(spark, monkeypatch):
    """With the driver-merge gate at 0 every round merges its
    contracted graph through the distributed connected_components
    loop, shuffled; the forest is the same Kruskal forest the
    driver-side union-find gives."""
    from event_streaming_bnpl_demo_spark.operators import components, mst
    from event_streaming_bnpl_demo_spark.plans.queries_ext18 import (
        graph_mst_boruvka)

    calls = []
    real = components.connected_components

    def spy(*args, **kwargs):
        calls.append(kwargs["broadcast"])
        return real(*args, **kwargs)

    monkeypatch.setattr(mst, "DRIVER_MERGE_MAX_COMPONENTS", 0)
    monkeypatch.setattr(components, "connected_components", spy)
    want, _ = _kruskal_reference(spark)
    got = {(r["src"], r["dst"], r["weight"])
           for r in graph_mst_boruvka(spark, SF_SMOKE).collect()}
    assert calls and not any(calls)
    assert got == want


def test_mst_boruvka_float_weights_and_exact_round_budget(spark):
    """Contract regressions from the round-6 advice: (a) the driver-merge
    path must honor the input's edge typing (float weights used to hit a
    hardcoded 'weight long' schema), and (b) a forest completing exactly
    on round max_rounds must converge — the empty pick is only observable
    one round later, so the loop gets max_rounds+1 iterations."""
    from event_streaming_bnpl_demo_spark.operators.mst import boruvka_msf

    # barbell: two cheap clusters joined by one expensive bridge. Round
    # 1 every node picks its cluster edge -> components {0,1} and
    # {2,3}; round 2 both pick the bridge -> one component. Exactly 2
    # merge rounds (a plain path collapses in 1: the union-find chains).
    edges = spark.createDataFrame(
        [(0, 1, 0.5), (2, 3, 0.25), (1, 2, 10.75)],
        "src long, dst long, weight double")
    forest = boruvka_msf(spark, edges, max_rounds=2, npart=2,
                         broadcast=True)
    assert forest.schema["weight"].dataType.simpleString() == "double"
    got = {(r["src"], r["dst"], r["weight"]) for r in forest.collect()}
    assert got == {(0, 1, 0.5), (2, 3, 0.25), (1, 2, 10.75)}

    # the safety net still fires for a genuinely over-budget graph
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="did not converge"):
        boruvka_msf(spark, edges, max_rounds=1, npart=2, broadcast=True)
