"""file_compaction_plan execution check: the manifest is not advisory —
executing it must produce exactly the file layout it describes,
conserve bytes, and lose no content.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.operators import layout
from gcp_serverless_mapreduce_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"
TARGET = 4_000  # == suite/layout_q.COMPACT_TARGET


def compact_partition(docs, part_value: str, target: int, out_dir: str):
    """Execute the compaction manifest for one partition: rewrite its
    sub-target entries into exactly one output file per manifest bin.
    ``repartition(bin_id)`` routes each bin's rows to one task and
    ``partitionBy(bin_id)`` makes each task write one file per bin it
    holds.  -> the binned frame that was written."""
    binned = layout.compaction_bins(
        docs.filter(F.col("source") == part_value), target)
    (binned.repartition(F.col("bin_id"))
     .write.mode("overwrite").partitionBy("bin_id").parquet(out_dir))
    return binned


def test_compact_partition_matches_manifest(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    src = docs.select("source").orderBy("source").first()["source"]

    # The manifest for this partition, straight from the shared bin
    # arithmetic (the same frame file_compaction_plan aggregates).
    manifest = {
        r["bin_id"]: (r["n_files"], r["bin_bytes"])
        for r in layout.compaction_bins(
            docs.select("source", "doc_id", "n_chars", "text"), TARGET)
        .filter(F.col("source") == src)
        .groupBy("bin_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_files"),
             F.sum("n_chars").cast("long").alias("bin_bytes"))
        .collect()}
    assert manifest, "fixture partition has no sub-target entries"

    out = str(tmp_path / "compacted")
    compact_partition(docs, src, TARGET, out)

    # (a) exactly one data file per manifest bin
    bin_dirs = sorted(d for d in os.listdir(out) if d.startswith("bin_id="))
    assert len(bin_dirs) == len(manifest)
    for d in bin_dirs:
        files = [f for f in os.listdir(os.path.join(out, d))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)

    # (b) per-bin bytes conserve: each written bin holds exactly the
    # manifest's entry count and byte total
    written = spark.read.parquet(out)
    got = {r["bin_id"]: (r["n"], r["b"]) for r in
           written.groupBy("bin_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("n_chars").cast("long").alias("b")).collect()}
    assert got == manifest

    # (c) content fingerprint unchanged: the compacted partition holds
    # the same (doc_id, md5(text)) set as the sub-target input rows
    def fp(df):
        rows = sorted((r["doc_id"], r["h"]) for r in
                      df.select("doc_id", F.md5("text").alias("h"))
                      .collect())
        return hashlib.md5(repr(rows).encode()).hexdigest()

    src_rows = docs.filter((F.col("source") == src)
                           & (F.col("n_chars") < TARGET))
    assert fp(written) == fp(src_rows)

    # Oversize entries pass through: none of them may appear in the
    # compacted output
    assert written.filter(F.col("n_chars") >= TARGET).count() == 0


def test_stream_compaction_listing_stage_is_map_only(spark):
    # The transform the landing stream runs per micro-batch, applied to
    # a static batch: no Exchange, no aggregation — pure metadata
    # pass-through (the bin-pack runs batch-side over the sink).
    import re

    docs = load_table(spark, SF_DIR, "documents")
    listing = (docs.select("source", "doc_id", "n_chars")
               .filter(F.col("n_chars") < TARGET))
    plan = listing._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"\bExchange (?:hash|range|Single)", plan), plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan, plan


def test_stream_compaction_plan_matches_batch(spark):
    # availableNow over the full fixture: the streaming face's manifest
    # must equal the batch planner's row for row.
    from gcp_serverless_mapreduce_spark.suite.layout_q import (
        file_compaction_plan, stream_file_compaction_plan)

    batch = {(r["source"], r["bin_id"]): (r["n_files"], r["bin_bytes"])
             for r in file_compaction_plan(spark, SF_DIR).collect()}
    stream = {(r["source"], r["bin_id"]): (r["n_files"], r["bin_bytes"])
              for r in stream_file_compaction_plan(spark, SF_DIR).collect()}
    assert stream == batch and batch
