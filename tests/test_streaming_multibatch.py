"""Multi-batch streaming: with maxFilesPerTrigger=1 an availableNow run
processes one file per micro-batch, so windowed aggregation state and
grouped state must survive ACROSS batches and still equal the batch
answer.  This is the property that makes streaming correct at scale —
single-batch equality alone can't show it."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.streaming import pipeline, stateful
from gcp_serverless_mapreduce_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"
N_FILES = 4


@pytest.fixture()
def split_events_dir(spark, tmp_path):
    out = str(tmp_path / "events_split")
    load_table(spark, SF_DIR, "events").repartition(N_FILES) \
        .write.mode("overwrite").parquet(out)
    return out


def _stream(spark, path):
    schema = spark.read.parquet(path).schema
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path))


def test_windowed_agg_across_batches(spark, split_events_dir):
    streamed = pipeline.run_available_now(
        pipeline.windowed_event_stats(_stream(spark, split_events_dir)),
        "multibatch_window_sink")
    batch = pipeline.windowed_event_stats(
        spark.read.parquet(split_events_dir))
    assert {tuple(r) for r in streamed.collect()} == \
        {tuple(r) for r in batch.collect()}


def test_available_now_stats_count_every_batch(spark, split_events_dir):
    """RUN_STATS counts every micro-batch of the run, also when Spark
    keeps fewer progress entries than the run has batches."""
    key = "spark.sql.streaming.numRecentProgressUpdates"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        pipeline.run_available_now(
            pipeline.windowed_event_stats(_stream(spark, split_events_dir)),
            "multibatch_stats_sink")
        stats = pipeline.RUN_STATS[-1]
    finally:
        spark.conf.set(key, prev)
    assert stats["sink"] == "multibatch_stats_sink"
    assert stats["input_rows"] == spark.read.parquet(split_events_dir).count()
    assert stats["batches"] >= N_FILES


def test_grouped_state_across_batches(spark, split_events_dir):
    q = (stateful.running_user_totals(_stream(spark, split_events_dir))
         .writeStream.format("memory").queryName("multibatch_state_sink")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    # update mode re-emits a user's row each batch it appears in; the
    # LAST emission per user carries the final running totals
    sink = spark.table("multibatch_state_sink")
    rows = sink.collect()
    q.stop()
    finals: dict = {}
    for r in rows:  # memory sink preserves batch order
        finals[r["user_id"]] = (r["n_events"], r["total_value"])

    batch = {r["user_id"]: (r["n"], r["v"]) for r in
             spark.read.parquet(split_events_dir).groupBy("user_id")
             .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
             .collect()}
    assert finals.keys() == batch.keys()
    for uid, (n, v) in batch.items():
        assert finals[uid][0] == n
        assert math.isclose(finals[uid][1], v, rel_tol=1e-9)


@pytest.fixture()
def ordered_events_dir(spark, tmp_path):
    """Events split into N_FILES contiguous time ranges, one file each,
    mtimes pinned so the stream source delivers them in event-time order
    (the arrival pattern watermarked state is designed for — a round-robin
    split would legitimately drop whole batches as late)."""
    import os

    from pyspark.sql import Window

    out = str(tmp_path / "events_ordered")
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "_bucket", F.ntile(N_FILES).over(
            Window.orderBy("ts", "event_id")))
    for i in range(1, N_FILES + 1):
        (ev.filter(F.col("_bucket") == i).drop("_bucket")
         .coalesce(1).write.mode("append").parquet(out))
        base = 1_700_000_000 + i * 10
        for name in os.listdir(out):
            p = os.path.join(out, name)
            if name.endswith(".parquet") and os.path.getmtime(p) > base:
                os.utime(p, (base, base))
    return out


def test_stream_stream_join_across_batches(spark, ordered_events_dir):
    """Join state must pair a click from one micro-batch with a purchase
    arriving in a LATER batch (maxFilesPerTrigger=1 forces the split);
    result must equal the batch range join over the same data."""
    streamed = pipeline.run_available_now(
        pipeline.click_purchase_join(_stream(spark, ordered_events_dir)),
        "multibatch_join_sink", mode="append")
    batch = pipeline.click_purchase_join(
        spark.read.parquet(ordered_events_dir))
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b
    assert len(b) > 0


def test_stream_dedup_across_batches(spark, split_events_dir):
    """dropDuplicates state must suppress a key's re-appearance in later
    batches: streamed distinct == batch distinct, each key exactly once."""
    streamed = pipeline.run_available_now(
        pipeline.distinct_user_event_pairs(_stream(spark, split_events_dir)),
        "multibatch_dedup_sink", mode="append")
    rows = streamed.collect()
    keys = [(r["user_id"], r["event_type"]) for r in rows]
    assert len(keys) == len(set(keys))  # no key emitted twice
    batch = {(r["user_id"], r["event_type"]) for r in
             spark.read.parquet(split_events_dir)
             .select("user_id", "event_type").distinct().collect()}
    assert set(keys) == batch


def test_session_window_state_across_batches(spark, ordered_events_dir):
    """A session whose events span micro-batches must come out merged:
    session_window state (merging windows) survives batch boundaries.
    Compared against the same aggregation over the static frame."""
    def sessions(df):
        return (df.withWatermark("ts", "1 hour")
                .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                         "user_id")
                .agg(F.count("*").alias("n_events"))
                .select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                        .alias("session_start"),
                        F.date_format("w.end", "yyyy-MM-dd HH:mm:ss")
                        .alias("session_end"),
                        "user_id", "n_events"))

    streamed = pipeline.run_available_now(
        sessions(_stream(spark, ordered_events_dir)),
        "multibatch_session_sink")
    static = spark.read.parquet(ordered_events_dir)
    # watermark is a no-op on a batch frame; drop it via the same helper
    batch = sessions(static)
    assert {tuple(r) for r in streamed.collect()} == \
        {tuple(r) for r in batch.collect()}
