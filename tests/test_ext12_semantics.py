"""Semantic law tests for the ext12 pack — the pure lemmas the Spark
implementations rely on, checked exhaustively / property-based without
a SparkSession (the oracle parity suite covers the end-to-end result;
these pin the REASONING that makes the scale shapes lossless).
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

# --- grid-blocking losslessness ---------------------------------------------
# geo_grid_blocked_join replicates one side to its 3x3 cell
# neighborhood with cell size = R and equi-joins on cell id. The lemma:
# any pair within planar distance R lands in cells differing by at most
# one per axis, so the 3x3 expansion never loses a qualifying pair.

R = 20_000


def _cell(v: int) -> int:
    return v // R  # floor division == FLOOR(v / R) for ints


@given(st.integers(-90_000, 90_000), st.integers(-180_000, 180_000),
       st.integers(-90_000, 90_000), st.integers(-180_000, 180_000))
@settings(max_examples=500)
def test_grid_blocking_is_lossless(ax, ay, bx, by):
    d2 = (ax - bx) ** 2 + (ay - by) ** 2
    if d2 <= R * R:
        # qualifying pair => cell ids differ by <= 1 on each axis,
        # i.e. the 3x3 neighborhood expansion finds it
        assert abs(_cell(ax) - _cell(bx)) <= 1
        assert abs(_cell(ay) - _cell(by)) <= 1


def test_grid_blocking_tightness():
    """The 3x3 neighborhood is necessary, not just sufficient: there
    ARE qualifying pairs in diagonal-neighbor cells (a 1x1 'same cell
    only' join would silently drop them)."""
    ax, ay = R - 1, R - 1           # cell (0, 0), corner
    bx, by = R + 1, R + 1           # cell (1, 1), corner
    assert (ax - bx) ** 2 + (ay - by) ** 2 <= R * R
    assert _cell(ax) != _cell(bx) and _cell(ay) != _cell(by)


# --- Jaro-Winkler cross-engine law ------------------------------------------
# scalar_jaro_winkler's pandas UDF must equal DuckDB's builtin
# bit-for-bit on arbitrary strings, not just the part-name domain the
# oracle exercises. Mirror of the UDF's inner algorithm:


def _jaro(a: str, b: str) -> float:
    l1, l2 = len(a), len(b)
    if l1 == 0 or l2 == 0:
        return 0.0      # DuckDB: the empty check precedes the equal check
    if a == b:
        return 1.0
    win = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    m = 0
    for i, ch in enumerate(a):
        lo, hi = max(0, i - win), min(l2, i + win + 1)
        for j in range(lo, hi):
            if not m2[j] and b[j] == ch:
                m1[i] = m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(l1):
        if m1[i]:
            while not m2[j]:
                j += 1
            if a[i] != b[j]:
                t += 1
            j += 1
    t //= 2
    return (m / l1 + m / l2 + (m - t) / m) / 3.0


def _jw(a: str, b: str) -> float:
    s = _jaro(a, b)
    if s > 0.7:
        pl = 0
        for x, y in zip(a[:4], b[:4]):
            if x != y:
                break
            pl += 1
        s = s + pl * 0.1 * (1.0 - s)
    return s


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
               max_size=12),
       st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
               max_size=12))
@settings(max_examples=300)
def test_jaro_winkler_matches_duckdb(ax, bx):
    con = duckdb.connect()
    try:
        got = con.execute("select jaro_winkler_similarity(?, ?)",
                          [ax, bx]).fetchone()[0]
    finally:
        con.close()
    assert _jw(ax, bx) == got, (ax, bx)


def test_jaro_winkler_basic_laws(duck):
    assert _jw("", "") == 0.0   # DuckDB convention: empty beats equal
    assert _jw("abc", "") == 0.0
    assert _jw("martha", "marhta") == pytest.approx(0.9611111111111111,
                                                    abs=0)
    for a, b in [("spark", "spank"), ("dwayne", "duane"), ("abc", "abc")]:
        assert _jw(a, b) == _jw(b, a)        # symmetry
        assert 0.0 <= _jw(a, b) <= 1.0       # range
