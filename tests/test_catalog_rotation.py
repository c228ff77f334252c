"""The catalog's check order is derived from the committed
CORRECTNESS_r*.json artifacts alone: oracled names stalest-checked
first, then rows-only names. The driver checks a ~50-query budget per
round in this order, so these checks guard that the budget drains the
stalest rows first and that a newly green name re-orders the catalog
with no hand-kept ledger. They are pure-Python (no Spark session).
"""

from __future__ import annotations

from event_streaming_bnpl_demo_spark.plans import catalog


def test_ordered_names_unique():
    names = catalog._ordered_names()
    assert len(names) == len(set(names)), "duplicate names in catalog order"


def _oracled_then_rows_only() -> tuple[list[str], list[str]]:
    catalog._load()
    names = catalog._ordered_names()
    assert sorted(names) == sorted(catalog._REGISTRY), (
        "catalog order must list every registered name exactly once")
    n_oracled = sum(1 for q in catalog._REGISTRY.values()
                    if q.oracle is not None)
    return names[:n_oracled], names[n_oracled:]


def test_newly_green_name_sinks_without_a_fold(monkeypatch):
    """A name that turns green in a new artifact moves to the back of
    the oracled order by itself — no ledger to fold at round close."""
    catalog._load()
    registry = dict(catalog._REGISTRY)
    registry["zz_new"] = catalog.Query(
        name="zz_new", fn=lambda spark, sf_dir: None, oracle="SELECT 1")
    last = dict(catalog._last_checked_rounds())
    last["zz_new"] = max(last.values(), default=0) + 1
    monkeypatch.setattr(catalog, "_REGISTRY", registry)
    monkeypatch.setattr(catalog, "_last_checked_rounds", lambda: last)

    oracled, rows_only = _oracled_then_rows_only()
    assert oracled[-1] == "zz_new", (
        "the newest green name must be checked last, not first")
    assert all(catalog._REGISTRY[n].oracle is None for n in rows_only)


def test_order_without_artifacts(monkeypatch):
    """With no ledger at all, the order is oracled names by name, then
    rows-only names in registry order."""
    monkeypatch.setattr(catalog, "_last_checked_rounds", lambda: {})
    oracled, rows_only = _oracled_then_rows_only()
    assert oracled == sorted(n for n, q in catalog._REGISTRY.items()
                             if q.oracle is not None)
    assert rows_only == [n for n, q in catalog._REGISTRY.items()
                         if q.oracle is None]


# ---------------------------------------------------------------------------
# Closed-catalog re-verification rotation
# ---------------------------------------------------------------------------

BUDGET = 50  # the driver's per-round check budget


def test_rerun_tier_is_stalest_first():
    """Already-checked oracled names must be ordered by (last-green
    round asc, name asc) so the driver budget drains the stalest rows
    first."""
    qs = catalog.all_queries()
    last = catalog._last_checked_rounds()
    checked = [n for n in catalog._ordered_names()
               if n in last and qs[n].oracle is not None]
    keys = [(last.get(n, 0), n) for n in checked]
    assert keys == sorted(keys), (
        "re-verification tier is not stalest-first: the driver would "
        "re-check fresh rows while stale ones age")


def test_full_catalog_reproves_within_eight_rounds():
    """Simulate the steady state: each round the driver checks the first
    BUDGET names and their last-checked stamp advances. Every oracled
    name must be re-proven within ceil(N/BUDGET) = 8 rounds, i.e. the
    rotation leaves no name starving."""
    qs = catalog.all_queries()
    oracled = [n for n, q in qs.items() if q.oracle is not None]
    last = dict(catalog._last_checked_rounds())
    start_round = max(last.values(), default=0)
    n_rounds = -(-len(oracled) // BUDGET)  # ceil
    covered: set[str] = set()
    for r in range(start_round + 1, start_round + 1 + n_rounds):
        order = sorted(
            oracled, key=lambda n: (last.get(n, 0), n))
        batch = order[:BUDGET]
        for n in batch:
            last[n] = r
        covered.update(batch)
    missing = set(oracled) - covered
    assert not missing, (
        f"{len(missing)} oracled names never re-proven in {n_rounds} "
        f"rounds of the stalest-first drain: {sorted(missing)[:10]}")
