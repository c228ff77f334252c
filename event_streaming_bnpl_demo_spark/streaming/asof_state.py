"""Streaming as-of join as a custom keyed stateful operator
(``applyInPandasWithState``): each purchase is matched to the nearest
prior view by the same user, and the match stays CORRECT under
out-of-order arrival — a view arriving in a later micro-batch than
"its" purchase retroactively upgrades the purchase's match.

Structured Streaming has no native as-of join (stream-stream joins are
windowed equi/interval joins); this is exactly the custom-operator gap
the UDF/state surface exists for. Mechanism (:func:`asof_update_bucketed`):

- state per bucket (``user_id %% ASOF_BUCKETS``): the views and
  purchases seen so far (owner user id, epoch-micro timestamp, id),
  each purchase's last-emitted match, and a version counter;
- each micro-batch folds its rows in, rematches the whole bucket with
  ONE grouped ``merge_asof``, and emits every purchase whose match
  changed (update-mode semantics: later batches revise earlier
  emissions);
- the reader takes, per purchase, the row with the highest version —
  the fixpoint — which equals the batch as-of join over the full log
  no matter how the events were split into batches or reordered
  across them. The catalog query's oracle is literally the batch
  as-of SQL (plans/queries_core.ASOF_ORACLE), and the randomized law
  test compares the fixpoint against ``operators.asof.asof_join``.

Scale: one shuffle per micro-batch on the bucket; Arrow batches carry
grouped rows so the Python hop is vectorized, and each batch makes at
most ASOF_BUCKETS Python group-calls. Retention is unbounded: full
retroactive correction needs the full log.

A twin of this fold on Spark 4's typed-state processor API was
removed; its measured sf0.1 wall was 4.9 s against 3.1 s here, and it
can be recovered from git history if ``applyInPandasWithState`` is
deprecated.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

ASOF_OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("purchase_id", LongType()),
    StructField("view_id", LongType()),
    StructField("seconds_since_view", LongType()),
    StructField("version", LongType()),
])

#: Bucket count for the state key. 64 buckets keep every state-store
#: partition busy at `scoped_shuffle_partitions(8)` while capping the
#: per-micro-batch Python group-call count at 64 — per-USER keys pay one
#: Arrow/state round-trip per touched user per batch (~15k calls/batch
#: at sf1), which dominates the wall clock long before the fold itself
#: does. At cluster scale this is the parallelism knob: set buckets to
#: 2-4x the state-store partition count so every partition holds a few
#: buckets (skew smoothing) while the group-call count stays
#: O(buckets); per-bucket state is total-events/buckets, so more
#: buckets also bound the largest Arrow batch. COST CAVEAT: GroupState
#: holds one opaque row per key, so a touched bucket deserializes and
#: rewrites its ENTIRE history through Arrow every micro-batch —
#: per-batch state I/O grows O(total events / buckets) per touched
#: bucket for the life of the stream.
ASOF_BUCKETS = 64

BUCKETED_STATE_SCHEMA = StructType([
    StructField("u_v", ArrayType(LongType())),    # view owner user ids
    StructField("v_ts", ArrayType(LongType())),
    StructField("v_id", ArrayType(LongType())),
    StructField("u_p", ArrayType(LongType())),    # purchase owner user ids
    StructField("p_ts", ArrayType(LongType())),
    StructField("p_id", ArrayType(LongType())),
    StructField("m_vid", ArrayType(LongType())),  # last-emitted match, -1=none
    StructField("version", LongType()),
])


def _bucket_match(u_v: np.ndarray, v_ts: np.ndarray, v_id: np.ndarray,
                  u_p: np.ndarray, p_ts: np.ndarray
                  ) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized multi-user nearest-prior-view over a whole bucket:
    one ``pd.merge_asof(by=user)`` call (C-implemented grouped
    backward as-of). Views sorted by (ts, id) so the backward match
    lands on the largest id among equal timestamps — the batch
    oracle's ``ORDER BY v.ts DESC, v.event_id DESC``. Returns
    per-purchase (matched_view_id or -1, matched_view_ts or 0), in
    input order.

    The matched columns ride through the merge as nullable Int64
    extension arrays, NOT float64: merge_asof marks unmatched rows
    with a missing value, and the numpy path would round-trip ids and
    timestamps through NaN-able float64 — silently corrupting any
    value >= 2^53. Int64 + a mask keeps the full int64 domain exact
    (pinned by test_bucket_match_exact_above_2_53)."""
    n = len(p_ts)
    if n == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z
    if len(v_ts) == 0:
        return np.full(n, -1, dtype=np.int64), np.zeros(n, dtype=np.int64)
    vorder = np.lexsort((v_id, v_ts))
    vdf = pd.DataFrame({"u": u_v[vorder], "ts": v_ts[vorder],
                        "vid": pd.array(v_id[vorder], dtype="Int64"),
                        "vts": pd.array(v_ts[vorder], dtype="Int64")})
    porder = np.argsort(p_ts, kind="stable")
    pdf = pd.DataFrame({"u": u_p[porder], "ts": p_ts[porder],
                        "ix": porder})
    merged = pd.merge_asof(pdf, vdf, on="ts", by="u",
                           direction="backward", allow_exact_matches=True)
    vid = np.full(n, -1, dtype=np.int64)
    vts = np.zeros(n, dtype=np.int64)
    got = merged["vid"]
    ix = merged["ix"].to_numpy()
    has = got.notna().to_numpy()
    vid[ix[has]] = got.to_numpy(dtype=np.int64, na_value=-1)[has]
    vts[ix[has]] = merged["vts"].to_numpy(dtype=np.int64, na_value=0)[has]
    return vid, vts


def asof_update_bucketed(key: tuple, pdfs: Iterator[pd.DataFrame],
                         state: GroupState) -> Iterator[pd.DataFrame]:
    """The streaming as-of fold: state keyed by
    ``user_id %% ASOF_BUCKETS``. Each micro-batch makes at most
    ASOF_BUCKETS Arrow round-trips, and the whole bucket's rematch is
    ONE grouped ``merge_asof``. Emit-on-change is tracked explicitly
    (``m_vid``: each purchase's last-emitted match), so untouched users
    inside a touched bucket re-emit nothing — sound because the reader
    keeps each purchase's highest-version row."""
    if state.exists:
        (su_v, sv_ts, sv_id, su_p, sp_ts, sp_id,
         sm_vid, version) = state.get
        u_v, v_ts, v_id = list(su_v), list(sv_ts), list(sv_id)
        u_p, p_ts, p_id = list(su_p), list(sp_ts), list(sp_id)
        m_vid = np.asarray(sm_vid, dtype=np.int64)
    else:
        u_v, v_ts, v_id, u_p, p_ts, p_id = [], [], [], [], [], []
        m_vid = np.zeros(0, dtype=np.int64)
        version = 0
    n_old_p = len(p_ts)
    for pdf in pdfs:
        if not len(pdf):
            continue
        is_v = pdf["event_type"].to_numpy() == "view"
        ts = pdf["ts_us"].to_numpy(np.int64)
        eid = pdf["event_id"].to_numpy(np.int64)
        uid = pdf["user_id"].to_numpy(np.int64)
        u_v += uid[is_v].tolist()
        v_ts += ts[is_v].tolist()
        v_id += eid[is_v].tolist()
        u_p += uid[~is_v].tolist()
        p_ts += ts[~is_v].tolist()
        p_id += eid[~is_v].tolist()
    version += 1

    upn = np.asarray(u_p, dtype=np.int64)
    ptn = np.asarray(p_ts, dtype=np.int64)
    pin = np.asarray(p_id, dtype=np.int64)
    mvi, mvt = _bucket_match(
        np.asarray(u_v, dtype=np.int64), np.asarray(v_ts, dtype=np.int64),
        np.asarray(v_id, dtype=np.int64), upn, ptn)

    emit = np.ones(len(ptn), dtype=bool)
    emit[:n_old_p] = mvi[:n_old_p] != m_vid
    state.update((u_v, v_ts, v_id, u_p, p_ts, p_id,
                  mvi.tolist(), version))
    if not emit.any():
        return
    e_has = mvi[emit] >= 0
    secs = ptn[emit] // 1_000_000 - mvt[emit] // 1_000_000
    n = int(emit.sum())
    out = pd.DataFrame({
        "user_id": upn[emit],
        "purchase_id": pin[emit],
        "view_id": pd.array(mvi[emit], dtype="Int64"),
        "seconds_since_view": pd.array(secs, dtype="Int64"),
        "version": np.full(n, version, dtype=np.int64),
    })
    out.loc[~e_has, ["view_id", "seconds_since_view"]] = pd.NA
    yield out
