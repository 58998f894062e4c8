"""Partitioned/bucketed warehouse writer — the physical layout layer.

At 100 TB the fact table is not one parquet file; it is a date-partitioned
(and optionally key-bucketed) directory tree, and layout is what turns the
reference's incremental patterns into O(delta) work:

- **partition pruning**: the watermark scan (`collected_at > last_sync`,
  daily_etl_pipeline.py:132-137) becomes a directory-level prune — Spark
  reads only the partitions past the watermark (PartitionFilters in the
  scan node, zero I/O for the rest);
- **co-located joins**: bucketing fact and dim on the join key writes both
  sides pre-shuffled, so the star join plans as a zero-exchange sort-merge
  join (requires ``saveAsTable`` + a metastore; partitioned-dir writes work
  on any filesystem and are what we exercise here);
- **small-file control**: one ``repartition(partition_cols)`` before the
  write yields one file per partition per write instead of
  files × input-partitions (the classic tiny-file explosion).

Writers are deterministic (stable column order, no timestamps in paths) so
re-runs produce byte-stable layouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spark_spotify.sources.tables import read_parquet


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a parquet table partitioned by ``partition_cols``.

    Repartitions by the partition columns first so each output partition is
    written by one task (one file per partition, map-side clustered)."""
    (
        df.repartition(*partition_cols)
        .write.mode(mode)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Scan a partitioned warehouse table; partition-column predicates on
    the result prune directories (PartitionFilters), not just row groups."""
    return read_parquet(spark, path)


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
) -> None:
    """Write ``df`` as a key-bucketed parquet table registered in the
    session catalog (bucketing metadata lives in the catalog, so this is
    ``saveAsTable``, not a bare path write).

    Every side bucketed on its join key with the same bucket count joins
    and aggregates WITHOUT any Exchange: the shuffle is paid once at write
    time and amortized over every subsequent read — the physical-layout
    contract a 100 TB star schema is built on.  Data is sorted within
    buckets on the bucket key so the sort-merge join skips its sort too."""
    (
        df.repartition(n_buckets, *bucket_cols)
        .write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .option("path", path)
        .format("parquet")
        .saveAsTable(name)
    )
