"""Structural ban on driver-fragile output types across the whole suite.

Round 3's only red CORRECTNESS rows were the three format-roundtrip
fingerprints — the only queries whose output schema contained a raw
DECIMAL(38,0) column.  Values matched locally at two scale factors, but
the driver's value-hash canonicalizes ~2^70-magnitude decimals
differently per engine (a float-coercing fetch path loses different low
bits on each side), a class of divergence the local parity tool cannot
see because it compares post-fetch Python values, not the driver's
canonical bytes.

The registry convention (registry.py: "computed in DECIMAL ... cast at
the end") was prose; this test makes it structural: every output field
of every registered query must land in a type class the driver
demonstrably hashes stably.  DecimalType, FloatType (float32 rendering
differs), BinaryType, byte/short, and interval types can never reach an
output schema again without this test going red.
"""

from __future__ import annotations

import re

from gcp_serverless_mapreduce_spark import suite

SF_DIR = "/root/testdata/sf0.001"

# Driver-stable leaf types (CORRECTNESS r01-r03 evidence: every green row
# is built from exactly these); date/timestamp are allowed for forward
# compat though current queries format temporals to strings.
ALLOWED_LEAF = {"bigint", "int", "double", "string", "boolean",
                "date", "timestamp", "timestamp_ntz"}


def _leaf_ok(t: str) -> bool:
    m = re.fullmatch(r"array<(.+)>", t)
    if m:
        return _leaf_ok(m.group(1))
    return t in ALLOWED_LEAF


def test_no_driver_fragile_output_types(spark):
    bad = []
    for name, fn in suite.queries().items():
        df = fn(spark, SF_DIR)
        for field in df.schema.fields:
            t = field.dataType.simpleString()
            if not _leaf_ok(t):
                bad.append(f"{name}.{field.name}: {t}")
    assert not bad, (
        "driver-fragile output types (cast to long/double/string at the "
        f"end of the query): {bad}")


def test_table_row_count_prunes_hidden_dirs(spark, tmp_path):
    # A directory-tree table with _spark_metadata / .hive-staging junk:
    # the footer walk must count exactly what Spark's scan reads
    # (hidden and underscore dirs are pruned).
    import os

    from gcp_serverless_mapreduce_spark.tables import table_row_count

    tdir = tmp_path / "t.parquet"
    spark.range(10).coalesce(2).write.parquet(str(tdir))
    for junk in ("_staging_tmp", ".hive-staging_x"):
        os.makedirs(tdir / junk)
        with open(tdir / junk / "junk.parquet", "w") as fh:
            fh.write("not parquet")
    assert table_row_count(str(tmp_path), "t") == 10
    assert spark.read.parquet(str(tdir)).count() == 10


def test_table_row_count_streaming_sink_reads_commit_log(spark, tmp_path):
    # A FileStreamSink table: Spark's scan reads only files committed in
    # _spark_metadata, so the footer count must follow the log and skip
    # orphan part files from crashed micro-batches.
    import shutil

    from gcp_serverless_mapreduce_spark.tables import table_row_count

    tdir = tmp_path / "t.parquet"
    src = tmp_path / "src"
    (spark.range(10).coalesce(1).write.json(str(src)))
    stream = spark.readStream.schema("id long").json(str(src))
    q = (stream.writeStream.format("parquet")
         .option("path", str(tdir))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    # orphan part file a crashed batch would leave behind: real parquet,
    # absent from the commit log
    committed = [p for p in tdir.iterdir()
                 if p.name.endswith(".parquet") and not p.name.startswith("_")]
    orphan = tdir / "part-orphan-uncommitted.c000.snappy.parquet"
    shutil.copyfile(committed[0], orphan)
    assert spark.read.parquet(str(tdir)).count() == 10  # log-aware scan
    assert table_row_count(str(tmp_path), "t") == 10
