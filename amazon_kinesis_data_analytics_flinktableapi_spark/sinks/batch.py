"""Batch sinks: partitioned/bucketed parquet output.

Partitioning and bucketing are the storage-side half of the 100 TB story:
a table partitioned by a low-cardinality filter column gets partition
pruning on every read, and a table bucketed on its join key gives
exchange-free co-located joins for every downstream consumer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Plain/partitioned parquet.  ``partition_by`` should be low-cardinality
    columns frequently used in filters (date, category) — every distinct
    value combination becomes a directory readers can prune."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_by: list[str],
    n_buckets: int = 16,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (and optionally sorted) managed table: joins/aggregations on
    the bucket key skip the exchange entirely — both sides arrive
    pre-partitioned.  Requires a catalog table (bucketing metadata lives in
    the catalog, not the files)."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table_name)
