"""Query catalog — the engine's declared operator surface.

Every operator from SURVEY.md §2.2 is registered here as a named query:
a ``(spark, sf_dir) -> DataFrame`` callable plus (where SQL-expressible)
a DuckDB oracle SQL string over the same parquet tables. The driver's
correctness harness consumes exactly this mapping through
``__spark_entry__.py``.

Contract invariants enforced by construction:

- every computed column is aliased identically in the Spark plan and the
  oracle SQL (the driver sorts columns by name before hashing);
- double-valued aggregates use the deterministic ``dsum``/``davg``
  idioms from :mod:`.sqlcompat` so Spark and DuckDB produce bit-equal
  float64, independent of partition-level summation order;
- timestamps cross the comparison boundary as dates or formatted
  strings, never raw engine-local timestamp objects;
- no top-level ``ArrayType``/``MapType`` column ever crosses the driver
  boundary — the driver canonicalizes results by pandas-sorting every
  column, and numpy arrays are unhashable (the r4 ``agg_collect_sorted``
  crash). Serialize collections as csv/json strings on BOTH sides
  (enforced across the whole catalog by
  ``tests/oracle_harness.driver_boundary_violations`` inside the
  parity suite's per-query schema walk).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None          # DuckDB SQL, or None -> rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, Query] = {}

# Catalog iteration order. The driver's correctness harness checks
# ~50 queries per round, taken in dict order. The order is derived from
# the driver's own output, never kept by hand: oracled names come
# stalest-checked first by (last green round, name), where a name with
# no green row in any CORRECTNESS_r*.json counts as round 0 and so
# leads; rows-only names follow in registry order. Each new artifact
# re-orders the catalog by itself, and the full catalog re-proves on a
# ceil(352/50) = 8-round cycle (tests/test_catalog_rotation.py).

_LAST_CHECKED_CACHE: dict[str, int] | None = None


def _last_checked_rounds() -> dict[str, int]:
    """name -> most recent round with a green driver row, parsed from the
    CORRECTNESS_r*.json artifacts at the repo root. Never-checked names
    are simply absent (treated as round 0 by callers). Reading the
    artifacts directly — rather than hard-coding a table — makes the
    re-verification rotation self-maintaining: the driver's own output
    is the ledger, so after each round the freshly-checked names sink to
    the back of the oracled order automatically. Missing/unreadable
    artifacts degrade to an empty map (oracled names in name order),
    never an error — the driver may execute the package from a tree
    without the artifacts."""
    global _LAST_CHECKED_CACHE
    if _LAST_CHECKED_CACHE is not None:
        return _LAST_CHECKED_CACHE
    import json
    import re
    from pathlib import Path

    out: dict[str, int] = {}
    root = Path(__file__).resolve().parents[2]
    try:
        paths = sorted(root.glob("CORRECTNESS_r*.json"))
    except OSError:
        paths = []
    for path in paths:
        m = re.search(r"r(\d+)", path.stem)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and (
                row.get("match") or row.get("rows_match") or row.get("ok")
            ):
                out[name] = max(out.get(name, 0), rnd)
    _LAST_CHECKED_CACHE = out
    return out


def _ordered_names() -> list[str]:
    last = _last_checked_rounds()
    oracled = sorted((n for n, q in _REGISTRY.items() if q.oracle is not None),
                     key=lambda n: (last.get(n, 0), n))
    # rows-only queries can only produce err:no_oracle rows under the
    # driver's budget, so they always come last
    rows_only = [n for n, q in _REGISTRY.items() if q.oracle is None]
    return oracled + rows_only


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: add a query to the catalog."""
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, tags=tags,
                                doc=(fn.__doc__ or "").strip())
        return fn
    return deco


def all_queries() -> dict[str, Query]:
    _load()
    return {name: _REGISTRY[name] for name in _ordered_names()}


def queries() -> dict[str, QueryFn]:
    """name -> callable, in the driver's expected shape (wraps each call
    with session tuning so runtime confs hold on driver-owned sessions)."""
    from ..session import tune

    def wrap(q: Query) -> QueryFn:
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)
            return q.fn(spark, sf_dir)
        run.__name__ = q.name
        run.__doc__ = q.doc
        return run

    return {name: wrap(q) for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """name -> DuckDB SQL, omitting rows-only queries."""
    return {name: q.oracle for name, q in all_queries().items()
            if q.oracle is not None}


_LOADED = False


def _load() -> None:
    """Import every query module exactly once (they self-register)."""
    global _LOADED
    if _LOADED:
        return
    from . import queries_core      # noqa: F401
    from . import queries_ref       # noqa: F401
    from . import queries_window    # noqa: F401
    from . import queries_stream    # noqa: F401
    from . import queries_llm       # noqa: F401
    from . import queries_llm2      # noqa: F401
    from . import queries_events    # noqa: F401
    from . import queries_ext       # noqa: F401
    from . import queries_ext2      # noqa: F401
    from . import queries_tpch      # noqa: F401
    from . import queries_ext3      # noqa: F401
    from . import queries_stats     # noqa: F401
    from . import queries_udf       # noqa: F401
    from . import queries_ts        # noqa: F401
    from . import queries_llm3      # noqa: F401
    from . import queries_graph     # noqa: F401
    from . import queries_dq        # noqa: F401
    from . import queries_ext4      # noqa: F401
    from . import queries_mv        # noqa: F401
    from . import queries_ext5      # noqa: F401
    from . import queries_lake      # noqa: F401
    from . import queries_ext6      # noqa: F401
    from . import queries_ext7      # noqa: F401
    from . import queries_ext8      # noqa: F401
    from . import queries_ext9      # noqa: F401
    from . import queries_ext10     # noqa: F401
    from . import queries_ext11     # noqa: F401
    from . import queries_ext12     # noqa: F401
    from . import queries_ext13     # noqa: F401
    from . import queries_ext14     # noqa: F401
    from . import queries_ext15     # noqa: F401
    from . import queries_ext16     # noqa: F401
    from . import queries_ext17     # noqa: F401
    from . import queries_ext18     # noqa: F401
    from . import queries_ext19     # noqa: F401
    from . import queries_ext20     # noqa: F401
    from . import queries_ext21     # noqa: F401
    from . import queries_ext22     # noqa: F401
    from . import queries_ext23     # noqa: F401
    from . import queries_ext24     # noqa: F401
    from . import queries_ext25     # noqa: F401
    from . import queries_ext26     # noqa: F401
    from . import queries_ext27     # noqa: F401
    from . import queries_ext28     # noqa: F401
    from . import queries_ext29     # noqa: F401
    from . import queries_ext30     # noqa: F401
    _LOADED = True
