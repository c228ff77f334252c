"""Seeded generator of the catalog's ten analytics tables.

Same schemas and value shapes as the star-schema-plus-events tables the
catalog queries read (FIXTURES.md section B): uniform keys, TPC-H-like
value ranges, a 30-day event stream with nanosecond timestamps, a
small-vocabulary document corpus with near-duplicate copies, and unit
64-d embeddings. Row counts scale with ``sf`` like the catalog's own
test tiers (lineitem = 6,000,000 x sf).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "red", "small", "large", "old", "new", "hot", "cold"]
_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_STATUS = ["F", "O", "P"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVTYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
_WORDS = ("a the join hash row batch scan column customer filter small "
          "slow merge order vector line data table agg value key stream "
          "window spark part group big sort query fast").split()

_DAY = np.timedelta64(1, "D")
_T0_ORDERS = np.datetime64("1995-01-01")
_T0_EVENTS = np.datetime64("2024-01-01T00:00:00", "ns")


def _days(base, n):
    return (base + n.astype("timedelta64[D]")).astype("datetime64[us]")


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    users = max(150, int(15_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(
            900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(_STATUS)[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(_T0_ORDERS, rng.integers(0, 2404, n_ord)),
        "o_orderpriority": np.array(_PRIO)[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(
            qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(_T0_ORDERS + _DAY, rng.integers(0, 2499, n_line))})
    gaps = rng.exponential(1.0, n_ev)
    ns = (np.cumsum(gaps) / gaps.sum() * 30 * 86_400e9 * 0.9999).astype(
        np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(_T0_EVENTS + ns.astype("timedelta64[ns]"),
                       pa.timestamp("ns")),
        "user_id": rng.integers(0, users, n_ev, dtype=np.int64),
        "event_type": np.array(_EVTYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, 30, k)]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    emb = rng.normal(size=(n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(
        np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32)})
    return t


def ensure(root: str, sf: float, seed: int) -> str:
    """Write the tables for ``(sf, seed)`` under ``root`` once and return
    their directory. A finished directory is published by rename, so a
    run killed half-way leaves nothing that a later run would reuse."""
    path = os.path.join(root, f"sf{sf}-seed{seed}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in generate(sf, seed).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, path)
    except OSError:
        if not os.path.isdir(path):     # not a lost race: a real error
            raise
        shutil.rmtree(tmp)
    return path
