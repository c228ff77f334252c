"""Minimal snapshot-manifest table format — the lakehouse maintenance
substrate (time travel, compaction, clustering, merge-on-read deletes,
retention/VACUUM) built from public primitives: parquet data files plus
JSON manifests, the Iceberg/Delta architecture re-expressed without a
format dependency.

Layout::

    <root>/data/v00001-000.parquet ...     immutable data files
    <root>/_log/v00001.json ...            one manifest per snapshot

A manifest lists the COMPLETE set of live data files for its version
(plus any delete-tombstone files and per-file column stats), so

- a snapshot read is ``spark.read.parquet(*manifest.files)`` — no log
  replay, O(1) manifests touched per read;
- compaction / clustering are pure REWRITE commits: new files, new
  manifest; older snapshots keep reading their own files untouched;
- retention (``expire``) drops old manifests and deletes data files no
  surviving manifest references — the VACUUM contract;
- per-file min/max stats in the manifest give scan planning file-level
  pruning (``prune_files``) exactly the way Iceberg manifests do: the
  driver inspects KB of stats, never data bytes.

Scale notes: manifests hold file METADATA only (path, rowcount,
min/max per stat column) — at 100 TB with ~1 GB files that is ~10^5
entries, comfortably a driver-side JSON (Iceberg's own design point);
data bytes move exclusively through executor-side parquet scans.
Stats are read from parquet footers (pyarrow) at commit time — KB per
file, not a data scan.

Reference parity: the reference has no table maintenance at all (its
sink is a MySQL upsert, ``consumer/consumer.go:180-220``); this tier
is part of the 100 TB surface SURVEY.md §2.2 mandates beyond it.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

_DATA, _LOG = "data", "_log"
_EMPTY = {"version": -1, "files": [], "delete_files": [], "delete_key": []}


def _stats_of(md, cols: tuple[str, ...]) -> dict:
    """Per-file [min, max] for ``cols`` from a parquet FOOTER's metadata
    (no data scan). Dates/timestamps serialize as ISO strings — they
    compare lexicographically consistent with their natural order."""
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict[str, list] = {}
    for col in cols:
        if col not in names:
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(names[col]).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            conv = (lambda v: v.isoformat()) if hasattr(lo, "isoformat") \
                else (lambda v: v)
            out[col] = [conv(lo), conv(hi)]
    return out


class LakeTable:
    """One table rooted at ``root``. All mutating ops commit a new
    numbered snapshot; reads address any live snapshot."""

    def __init__(self, spark: SparkSession, root: str,
                 stat_cols: tuple[str, ...] = ()) -> None:
        self.spark = spark
        self.root = root
        self.stat_cols = tuple(stat_cols)
        os.makedirs(os.path.join(root, _DATA), exist_ok=True)
        os.makedirs(os.path.join(root, _LOG), exist_ok=True)

    # -- log ---------------------------------------------------------------

    def versions(self) -> list[int]:
        return sorted(int(f[1:-5]) for f in
                      os.listdir(os.path.join(self.root, _LOG))
                      if f.startswith("v") and f.endswith(".json"))

    def latest(self) -> int:
        vs = self.versions()
        if not vs:
            raise ValueError(f"empty table at {self.root}")
        return vs[-1]

    def manifest(self, version: int | None = None) -> dict:
        v = self.latest() if version is None else version
        path = os.path.join(self.root, _LOG, f"v{v:05d}.json")
        if not os.path.exists(path):
            raise ValueError(
                f"snapshot v{v} expired or never existed at {self.root}")
        with open(path) as fh:
            return json.load(fh)

    def _head(self) -> dict:
        """The latest manifest; on a table with no commit yet, an empty
        one at version -1, so every write commits ``version + 1`` and
        the first commit of any kind is v0."""
        vs = self.versions()
        return self.manifest(vs[-1]) if vs else _EMPTY

    def _commit(self, m: dict) -> int:
        v = m["version"]
        path = os.path.join(self.root, _LOG, f"v{v:05d}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(m, fh, indent=1, sort_keys=True)
        os.rename(tmp, path)
        return v

    # -- writes ------------------------------------------------------------

    def _write_files(self, df: DataFrame, version: int,
                     n_files: int | None = None,
                     cluster_by: list[str] | None = None) -> list[dict]:
        """Materialize ``df`` as ``n_files`` parquet files (or as many as
        the plan has partitions, when ``n_files`` is None) named into
        data/ and return their manifest entries (path, rows, stats)."""
        import pyarrow.parquet as pq

        tmp = os.path.join(self.root, f"_tmp-v{version:05d}")
        if cluster_by:
            df = (df.repartitionByRange(n_files, *cluster_by)
                  .sortWithinPartitions(*cluster_by))
        elif n_files is not None:
            df = df.repartition(n_files)
        df.write.mode("overwrite").parquet(tmp)
        entries = []
        parts = sorted(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        for i, part in enumerate(parts):
            name = f"v{version:05d}-{i:03d}.parquet"
            dst = os.path.join(self.root, _DATA, name)
            os.rename(os.path.join(tmp, part), dst)
            md = pq.read_metadata(dst)
            entries.append({"path": f"{_DATA}/{name}", "rows": md.num_rows,
                            "stats": _stats_of(md, self.stat_cols)})
        shutil.rmtree(tmp, ignore_errors=True)
        return entries

    def rewrite(self, df: DataFrame, n_files: int | None = None,
                op: str = "rewrite",
                cluster_by: list[str] | None = None) -> int:
        """Commit ``df`` as the table's whole content: new files, one new
        manifest. Readers of older snapshots keep their own files, and a
        write that dies before its manifest lands leaves only files no
        manifest lists, which :meth:`expire` deletes."""
        v = self._head()["version"] + 1
        return self._commit({
            "version": v, "op": op,
            "files": self._write_files(df, v, n_files, cluster_by),
            "delete_files": [], "delete_key": []})

    def create(self, df: DataFrame, n_files: int | None = None) -> int:
        return self.rewrite(df, n_files, op="create")

    def append(self, df: DataFrame, n_files: int | None = None) -> int:
        parent = self._head()
        v = parent["version"] + 1
        return self._commit({
            "version": v, "op": "append",
            "files": parent["files"] + self._write_files(df, v, n_files),
            "delete_files": parent["delete_files"],
            "delete_key": parent["delete_key"]})

    def delete_where(self, keys: DataFrame, key_cols: list[str]) -> int:
        """Merge-on-read delete: commit the key set as a tombstone file;
        readers anti-join it. No data file is rewritten — the 100 TB
        delete path (a copy-on-write delete would rewrite every file a
        key touches)."""
        parent = self._head()
        v = parent["version"] + 1
        tmp = os.path.join(self.root, f"_tmp-del-v{v:05d}")
        keys.select(*key_cols).distinct().coalesce(1) \
            .write.mode("overwrite").parquet(tmp)
        part = next(f for f in sorted(os.listdir(tmp))
                    if f.endswith(".parquet"))
        name = f"v{v:05d}-delete.parquet"
        os.rename(os.path.join(tmp, part),
                  os.path.join(self.root, _DATA, name))
        shutil.rmtree(tmp, ignore_errors=True)
        return self._commit({
            "version": v, "op": "delete",
            "files": parent["files"],
            "delete_files": parent["delete_files"] + [f"{_DATA}/{name}"],
            "delete_key": key_cols})

    def compact(self, n_files: int) -> int:
        """Rewrite the CURRENT live rows (deletes applied) into
        ``n_files`` — the small-file maintenance pass that keeps a
        streaming sink's fragmented output queryable. Data-invariant
        by construction; older snapshots keep their own files."""
        return self.rewrite(self.read(), n_files, op="compact")

    def cluster(self, by: list[str], n_files: int) -> int:
        """Clustering rewrite (Z-order-lite): range-partition by the
        cluster keys and sort within files, so per-file min/max stats
        become DISJOINT along ``by`` and a range predicate prunes to
        the few files that can match."""
        return self.rewrite(self.read(), n_files, op="cluster",
                            cluster_by=by)

    # -- reads -------------------------------------------------------------

    def _read_paths(self, paths: list[str], m: dict) -> DataFrame:
        """Read ``paths`` of snapshot ``m`` with its deletes applied. A
        pruned scan that keeps no file reads the snapshot's schema with
        no rows."""
        empty = not paths
        if empty:
            paths = [f["path"] for f in m["files"]]
        df = (self.spark.read.option("mergeSchema", "true")
              .parquet(*(os.path.join(self.root, p) for p in paths)))
        if m["delete_files"]:
            dels = self.spark.read.parquet(
                *(os.path.join(self.root, p) for p in m["delete_files"]))
            df = df.join(dels, on=m["delete_key"], how="left_anti")
        return df.limit(0) if empty else df

    def read(self, version: int | None = None) -> DataFrame:
        m = self.manifest(version)
        return self._read_paths([f["path"] for f in m["files"]], m)

    def incremental(self, since: int, version: int | None = None
                    ) -> DataFrame:
        """Rows in files ADDED after snapshot ``since`` — the CDC-style
        incremental consumption path: a downstream job reads only the
        delta files, never the base."""
        m = self.manifest(version)
        old = {f["path"] for f in self.manifest(since)["files"]}
        new = [f["path"] for f in m["files"] if f["path"] not in old]
        return self._read_paths(new, m)

    def prune_files(self, preds: dict, version: int | None = None
                    ) -> tuple[list[str], int]:
        """Manifest-level scan planning over a conjunctive box: the file
        paths, in manifest order, whose [min, max] intersects [lo, hi]
        for EVERY column of ``preds`` (col -> (lo, hi)), plus the total
        file count. A file without stats for a column is kept. Several
        columns prune multiplicatively once Z-order clustering keeps
        their per-file ranges narrow together. Driver cost is the
        manifest JSON — no data bytes touched."""
        def conv(v):
            return v.isoformat() if hasattr(v, "isoformat") else v

        box = {c: (conv(lo), conv(hi)) for c, (lo, hi) in preds.items()}
        m = self.manifest(version)
        keep = []
        for f in m["files"]:
            stats = f["stats"]
            if all(stats.get(c) is None
                   or not (stats[c][1] < lo or stats[c][0] > hi)
                   for c, (lo, hi) in box.items()):
                keep.append(f["path"])
        return keep, len(m["files"])

    def read_pruned(self, preds: dict,
                    version: int | None = None) -> DataFrame:
        paths, _ = self.prune_files(preds, version)
        return self._read_paths(paths, self.manifest(version))

    # -- maintenance -------------------------------------------------------

    def expire(self, keep_last: int) -> dict:
        """Retention/VACUUM: drop all but the last ``keep_last``
        snapshots and physically delete every data file no surviving
        manifest references, with the scratch ``_tmp-*`` output of any
        write that never committed. Manifests go first, so a crash at
        any step leaves no retained snapshot listing a deleted file.
        Returns counts for auditability."""
        vs = self.versions()
        drop, keep = vs[:-keep_last], vs[-keep_last:]
        live: set[str] = set()
        for v in keep:
            m = self.manifest(v)
            live |= {f["path"] for f in m["files"]}
            live |= set(m["delete_files"])
        for v in drop:
            os.remove(os.path.join(self.root, _LOG, f"v{v:05d}.json"))
        removed = 0
        for name in sorted(os.listdir(os.path.join(self.root, _DATA))):
            if f"{_DATA}/{name}" not in live:
                os.remove(os.path.join(self.root, _DATA, name))
                removed += 1
        for name in os.listdir(self.root):
            if name.startswith("_tmp-"):
                shutil.rmtree(os.path.join(self.root, name))
        return {"expired_snapshots": len(drop), "files_removed": removed,
                "live_files": len(live)}

    def file_count(self, version: int | None = None) -> int:
        return len(self.manifest(version)["files"])

    # -- bloom index ---------------------------------------------------------

    def build_bloom(self, col: str, m_bits: int = 4096, k: int = 2) -> int:
        """Commit a snapshot whose file entries carry a per-file BLOOM
        filter over ``col`` (k hash rows x m_bits buckets, packed as a
        hex bitmap): the file-skipping index for NEEDLE lookups that
        zone maps cannot serve — a point key's min/max straddles every
        file unless the table happens to be clustered by that exact
        column. Bits come from one grouped pass over the live files
        (distinct (file, hash-row, bucket) — bounded by k*m_bits per
        file regardless of rows).

        Boundary note, stated honestly: this demo collects the set-bit
        positions to the driver and embeds the bitmaps in the JSON
        manifest — fine up to ~10^4 files (k*m_bits/8 = 1 KiB/file);
        at 10^5+ files a production build writes the blooms as a
        parquet SIDECAR per data file, executor-side, and the manifest
        stores only its path (the Iceberg puffin design).
        """
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        v = self.latest() + 1
        parent = self.manifest()
        paths = [f["path"] for f in parent["files"]]
        df = (self.spark.read.option("mergeSchema", "true")
              .parquet(*(os.path.join(self.root, p) for p in paths))
              .select(F.input_file_name().alias("_f"), col))
        # No-false-negative guarantee requires the build-side hash input
        # (Spark CAST(col AS STRING)) to equal the probe-side input
        # (Python str(value)). That holds for integrals and strings but
        # NOT doubles ('1.0E-7' vs '1e-07'), booleans ('true' vs
        # 'True'), or timestamps — refuse those at build time rather
        # than silently dropping rows at read_point.
        dt = df.schema[col].dataType
        ok = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
              T.StringType)
        if not isinstance(dt, ok):
            raise ValueError(
                f"build_bloom({col!r}): unsupported key type "
                f"{dt.simpleString()} — bloom keys must be integer or "
                "string so build-side CAST(col AS STRING) and "
                "probe-side str(value) hash identically")
        ks = ", ".join(str(i) for i in range(k))
        bits = (df.selectExpr("_f", f"explode(array({ks})) AS hrow", col)
                .selectExpr("_f", "hrow",
                            f"{_bloom_bucket_sql(col, 'hrow', m_bits)}"
                            f" AS bucket")
                .distinct().collect())
        per_file: dict[str, set[int]] = {}
        for r in bits:
            base = os.path.basename(r["_f"])
            per_file.setdefault(base, set()).add(
                int(r["hrow"]) * m_bits + int(r["bucket"]))
        files = []
        for f in parent["files"]:
            ent = dict(f)
            word = bytearray((m_bits * k + 7) // 8)
            for pos in per_file.get(os.path.basename(f["path"]), ()):
                word[pos // 8] |= 1 << (pos % 8)
            ent.setdefault("bloom", {})[col] = {
                "m": m_bits, "k": k, "hex": bytes(word).hex()}
            files.append(ent)
        return self._commit({
            "version": v, "op": "bloom",
            "files": files,
            "delete_files": parent["delete_files"],
            "delete_key": parent["delete_key"]})

    def bloom_candidates(self, col: str, value,
                         version: int | None = None
                         ) -> tuple[list[str], int]:
        """Files whose bloom for ``col`` contains every probe bit of
        ``value`` (no false negatives: a file without the index is
        always a candidate). Driver cost: the manifest JSON only."""
        if isinstance(value, bool) or not isinstance(value, (int, str)):
            raise TypeError(
                f"bloom probe value must be int or str (got "
                f"{type(value).__name__}) — other types hash differently "
                "on the Spark build side; see build_bloom")
        m = self.manifest(version)
        keep = []
        for f in m["files"]:
            bloom = f.get("bloom", {}).get(col)
            if bloom is None:
                keep.append(f["path"])
                continue
            word = bytes.fromhex(bloom["hex"])
            hit = True
            for h in range(bloom["k"]):
                b = _bloom_bucket_py(value, h, bloom["m"])
                pos = h * bloom["m"] + b
                if not word[pos // 8] & (1 << (pos % 8)):
                    hit = False
                    break
            if hit:
                keep.append(f["path"])
        return keep, len(m["files"])

    def read_point(self, col: str, value,
                   version: int | None = None) -> DataFrame:
        """Point lookup through the bloom index: open only candidate
        files, then apply the exact predicate (bloom false positives
        are filtered here; false negatives cannot exist)."""
        from pyspark.sql import functions as F

        paths, _ = self.bloom_candidates(col, value, version)
        return (self._read_paths(paths, self.manifest(version))
                .filter(F.col(col) == value))


def _bloom_bucket_sql(key: str, row: str, m_bits: int) -> str:
    """Bucket expression: first 24 bits of md5(key ':' row) mod m —
    the catalog-wide md5 idiom (same arithmetic in queries_ext14's
    oracle and in ``_bloom_bucket_py``)."""
    return (f"CAST(conv(substring(md5(concat(CAST({key} AS STRING), ':', "
            f"CAST({row} AS STRING))), 1, 6), 16, 10) AS BIGINT)"
            f" % {m_bits}")


def _bloom_bucket_py(value, row: int, m_bits: int) -> int:
    import hashlib

    h = hashlib.md5(f"{value}:{row}".encode()).hexdigest()
    return int(h[:6], 16) % m_bits
