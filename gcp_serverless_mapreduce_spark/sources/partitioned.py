"""Hive-style partitioned parquet sink + pruned reads.

The reference's only output layout is one file per reducer
(reducephase/reduce.go:37, `anagrams-part-%s.txt`) — partitioning as an
execution detail.  At 100 TB the layout IS the query accelerator: writing
fact tables partitioned by a low-cardinality derived key (year, date,
source) lets every later scan prune whole directories before reading a
byte, and `partitionOverwriteMode=dynamic` makes re-runs idempotent per
partition (only the partitions present in the new data are replaced —
the batch analog of the reference's at-least-once redelivery tolerance).

Scale notes:
- partition columns must be low-cardinality (years, dates, enums) — one
  directory per value; high-cardinality keys belong in bucketing instead
  (tests/test_bucketing.py);
- the writer repartitions by the partition key first so each task writes
  one file per partition instead of every task writing into every
  partition (the small-files problem at 1000 executors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(df: DataFrame, path: str, *part_cols: str) -> None:
    """Write ``df`` as parquet partitioned by ``part_cols`` (hive layout:
    ``part_col=value/`` directories).  Pre-repartitioning on the partition
    key bounds output files to one per (task, partition-value) pair."""
    (df.repartition(*part_cols)
     .write.mode("overwrite").partitionBy(*part_cols).parquet(path))


def overwrite_partitions_dynamic(df: DataFrame, path: str,
                                 *part_cols: str) -> None:
    """Replace ONLY the partitions present in ``df``, leaving all other
    partitions of the existing table untouched (idempotent per-partition
    re-runs — a failed day's backfill doesn't clobber the year)."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (df.repartition(*part_cols)
         .write.mode("overwrite").partitionBy(*part_cols).parquet(path))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def read_partition_pruned(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned table; any filter on a partition column prunes
    directories at planning time (verify via ``df.inputFiles()`` — the
    pruned file list — or `PartitionFilters` in the formatted plan)."""
    return spark.read.parquet(path)
