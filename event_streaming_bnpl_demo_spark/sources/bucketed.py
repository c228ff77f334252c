"""Bucketed table layout — the deploy-time knob that removes the
fact⋈fact shuffle entirely (DESIGN.md 'Joins': bucket lineitem+orders
by orderkey ⇒ zero-shuffle sort-merge join).

Mechanics: ``bucketBy(n, key)`` hash-partitions rows into n files per
write task and records the bucketing spec in the catalog. A join of two
tables bucketed on the join key with the same bucket count satisfies
both sides' distribution requirements, so Catalyst plans SortMergeJoin
with NO Exchange on either side — at 100 TB that is the difference
between re-shuffling terabytes per query and reading co-located files.
``sortBy`` additionally pre-orders rows within each bucket, letting the
join skip its per-partition sort.

The reference has no layout story at all — a single constant Kinesis
partition key serializes everything through one shard
(producer/producer.go:24); bucketing is the opposite design: spread by
key hash, co-locate by key equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(df: DataFrame, table: str, key: str, buckets: int = 16,
                   sort: bool = True, path: str | None = None) -> None:
    """Persist ``df`` as a parquet table bucketed (and optionally
    sorted) by ``key``. Bucket count is a layout decision: pick so each
    bucket file lands in the 100 MB–1 GB range at production scale.
    ``path`` makes the table external (data at that location); omitted,
    it lands in the session warehouse."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)

