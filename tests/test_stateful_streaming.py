"""applyInPandasWithState operator: streaming grouped state must agree
with the batch aggregate after one availableNow pass."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.streaming import pipeline, stateful
from gcp_serverless_mapreduce_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_stateful_totals_match_batch(spark):
    stream = stateful.running_user_totals(
        pipeline.stream_table(spark, SF_DIR, "events"))
    q = (stream.writeStream.format("memory")
         .queryName("stateful_totals_sink")
         .outputMode("update")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    got = {r["user_id"]: (r["n_events"], r["total_value"])
           for r in spark.table("stateful_totals_sink").collect()}
    q.stop()

    batch = {r["user_id"]: (r["n"], r["v"]) for r in
             load_table(spark, SF_DIR, "events")
             .groupBy("user_id")
             .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
             .collect()}
    assert got.keys() == batch.keys()
    for uid, (n, v) in batch.items():
        assert got[uid][0] == n
        assert math.isclose(got[uid][1], v, rel_tol=1e-9)
