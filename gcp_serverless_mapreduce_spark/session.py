"""SparkSession factory with scale-oriented defaults.

The reference sizes work statically: 50 KB input partitions
(pubsub/types.go:6), a fixed N=5 hash-partitioned shuffle
(redis/initClient.go:13, shuffle.go:84-91).  Spark replaces both with
dynamic policies: ``spark.sql.files.maxPartitionBytes`` for input splits and
AQE for shuffle-partition coalescing / skew-join handling, which is what
actually survives a 100 TB scale-up (static N never does).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime (dynamic) SQL confs that every entry point applies even to a
# SparkSession it did not build — e.g. the driver-owned session passed to
# __spark_entry__.entry().  All of these are documented dynamic SQLConfs.
RUNTIME_CONFS: dict[str, str] = {
    # events.parquet is written with TIMESTAMP(NANOS), which Spark's parquet
    # reader rejects by default; read as long and convert (tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic temporal formatting across engines (DuckDB oracle
    # compares formatted strings; the fixtures' epochs are naive/UTC).
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and dynamic join-strategy switching.  At 100 TB this is the
    # difference between a plan that works and one that OOMs on a hot key.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF path (vector ops, multimodal plumbing).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Let custom Python Data Sources (sources/pyds.py) absorb filters
    # via pushFilters() instead of Spark re-evaluating them post-scan.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply dynamic confs to an externally-owned session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf may be static in some deployments; never fail the query
            # path over a tuning knob.
            pass
    return spark


def get_spark(app_name: str = "gcp-serverless-mapreduce-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or get) a tuned local session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback
    ``local[*]``); the tests, tools and perfbench share this factory.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # ~128 MB input splits — the scale analogue of the reference's 50 KB
        # Pub/Sub partitions (split.go:137-161): size-bounded map tasks.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Broadcast threshold: dims (region/nation/supplier) always fit.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Compiled-class cache for whole-stage/expression codegen.  The
        # default 100 entries thrashes under a many-query workload (this
        # suite compiles thousands of distinct plans per run), so warm
        # re-executions re-pay Janino compilation; sized so that a full
        # suite pass stays resident.  Scale-neutral: this is a JVM
        # compile cache (driver + executors), not data memory.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # PySpark call-site capture for error context (Spark 4,
        # spark.python.sql.dataFrameDebugging.enabled, STATIC conf,
        # default true): every wrapped DataFrame/Column API call pays a
        # conf read + PySparkCurrentOrigin.set/clear (3-4 py4j round
        # trips) + a Python stack walk, ~0.2-0.3 s per query build at
        # zero execution benefit (TUNING.md).  Driver-side Python only —
        # nothing about the executed plan or its scale behavior changes.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # AQE coalescing floor.  With parallelismFirst (default on) the
        # coalesce target is max(shuffleBytes/parallelism, THIS); the
        # 1 MB default collapses any sub-32 MB shuffle to a handful of
        # partitions, serializing CPU-bound Arrow/pandas kernel stages
        # whose cost AQE's byte model cannot see.  256k only changes the
        # tiny-shuffle regime — at real volumes shuffleBytes/parallelism
        # dominates the max(), so production coalescing is unaffected.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "256k")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return apply_runtime_confs(spark)
