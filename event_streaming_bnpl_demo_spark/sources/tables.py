"""Batch sources over the driver-generated parquet tables.

Reads are plain ``spark.read.parquet`` so Catalyst keeps predicate
pushdown, column pruning, and partition pruning (``.explain`` shows
``PushedFilters`` / ``ReadSchema`` for every catalog query built on
these).  At 100 TB the same call reads a partitioned/bucketed table
layout — nothing in the query layer changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TABLE_NAMES

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one analytics table. Schema comes from parquet footer metadata
    (exact, no inference pass over data).

    ``events.parquet`` carries TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects; we read nanos as long (legacy conf) and convert to a
    microsecond TimestampType — same truncation DuckDB applies when it
    lowers TIMESTAMP_NS to TIMESTAMP, so the engines stay value-equal.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        if dict(df.dtypes).get("ts") == "bigint":
            # integer division, not /1000-then-cast: double math loses
            # exactness above 2^53 ns and could round 1µs away from
            # DuckDB's integer truncation
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def spread(df: DataFrame, *keys: str, parts: int | None = None) -> DataFrame:
    """Hash-repartition before a compute-heavy map stage (tokenize /
    shingle / hash / explode). A small single-row-group parquet file
    scans as ONE task no matter how many cores exist; the map work then
    runs serial while 31 threads idle. Redistributing a sub-MB input is
    ~free next to the map stage it unlocks.

    Keying the repartition on the downstream aggregation key means the
    later ``groupBy(*keys)`` reuses this exchange instead of adding a
    second one (explode/select preserve hash partitioning). At 100 TB
    the input arrives in many files and Catalyst already spreads the
    scan — then this exchange IS the aggregation exchange, just moved
    before the map stage, so the plan cost is unchanged at scale.
    """
    n = parts or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys) if keys else df.repartition(n)


#: On-disk bytes below which a table side is hinted broadcast-able.
#: Parquet compresses ~3-5x, so 32 MB on disk is well inside the
#: executor-memory budget for a broadcast hash table.
BROADCAST_DISK_BYTES = 32 * 1024 * 1024


def table_disk_bytes(sf_dir: str, name: str) -> int | None:
    """Measured on-disk bytes of a backing table, or None when the
    path cannot be statted locally (object store) — callers fall back
    to their scale-safe branch. The one size probe every stats-gated
    decision in the package shares (broadcast hints, layout widths,
    two-phase rank)."""
    try:
        path = table_path(sf_dir, name)
        return (sum(e.stat().st_size for e in os.scandir(path)
                    if e.is_file())
                if os.path.isdir(path) else os.path.getsize(path))
    except OSError:
        return None


def edge_layout_partitions(spark: SparkSession, sf_dir: str,
                           driving: str) -> int:
    """Width of the cached edge layout an iterative graph operator
    (pagerank, k-hop, SSSP, HITS, components) builds once and scans
    every round: 1 partition per ~4 MB of the ``driving`` table's
    measured on-disk size, clamped to [8, spark.sql.shuffle.partitions].

    Size-derived instead of the session constant (guide §2: derive
    partitioning from input size, not a constant tuned for one mode):
    at small inputs the per-round cost is task DISPATCH, not probe
    work — measured interleaved at sf0.1 (1.17M sym edges), a width-8
    layout runs pagerank ~15-20% faster than width-32 (3.04/2.84 s vs
    3.52/3.71 s adjacent pairs) while width-2 loses parallelism and
    regresses; at the sf1 replica (11.7M edges) width-8 vs width-32 is
    a wash (6.2-7.9 s overlapping bands), and past ~128 MB of scan the
    clamp returns the session conf unchanged, so cluster deployments
    (where the conf is sized to the cluster, not 32) are unaffected.
    """
    try:
        conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        # non-numeric conf (e.g. "auto" on some platforms): the
        # scheduler's planned width is the honest stand-in ceiling
        conf = int(spark.sparkContext.defaultParallelism)
    size = table_disk_bytes(sf_dir, driving)
    if size is None:
        # non-local path (object store): derivation no-ops to the conf
        return conf
    # conf is the CEILING even when it is under the floor: a session
    # that explicitly narrowed its shuffle width must never be widened
    # by a derivation whose floor exists only to keep small scans
    # parallel
    return min(conf, max(8, int(size // (4 * 1024 * 1024))))


def fits_broadcast(sf_dir: str, *bounding: str) -> bool:
    """Whether an iterative graph operator broadcasts its |nodes|-sized
    sides (rank, label, distance and score vectors; frontier and
    visited sets): True while the tables that bound the node set
    measure under ``BROADCAST_DISK_BYTES`` on disk together. Each query
    asks once and passes the answer to every operator call, so the
    decision costs a stat, not a ``count()`` job per gate. It picks
    plan shape only: past it the joins run shuffled with the same
    results. A table that cannot be statted answers False, the
    scale-safe branch."""
    sizes = [table_disk_bytes(sf_dir, name) for name in bounding]
    return None not in sizes and sum(sizes) < BROADCAST_DISK_BYTES


def maybe_broadcast(df: DataFrame, sf_dir: str, name: str,
                    threshold: int = BROADCAST_DISK_BYTES) -> DataFrame:
    """Stats-based broadcast hint: hint ``df`` broadcast-able only when
    the backing table's measured on-disk size is under ``threshold``.

    This is the cost-based-optimizer decision made with *real* table
    stats instead of Catalyst's pre-filter size guess (a filtered scan
    keeps the whole file's size estimate until AQE sees runtime stats —
    by which point the big side's shuffle map stage is already paid).
    At 100 TB the same call returns the DataFrame un-hinted and the
    join falls back to the shuffled path, so plans stay scale-correct
    with no code change.
    """
    size = table_disk_bytes(sf_dir, name)
    if size is None:
        return df
    return F.broadcast(df) if size < threshold else df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` plans work."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
