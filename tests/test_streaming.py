"""Streaming surface: the same transform must produce identical results on
a static frame and through a real readStream -> memory-sink execution."""

from __future__ import annotations

from gcp_serverless_mapreduce_spark.streaming import pipeline
from gcp_serverless_mapreduce_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _as_set(df):
    return {tuple(r) for r in df.collect()}


def test_stream_matches_batch(spark):
    batch = pipeline.windowed_event_stats(load_table(spark, SF_DIR, "events"))
    streamed = pipeline.run_available_now(
        pipeline.windowed_event_stats(
            pipeline.stream_table(spark, SF_DIR, "events")),
        "test_stream_matches_batch_sink")
    assert _as_set(streamed) == _as_set(batch)
    assert streamed.columns == ["window_start", "event_type", "n_events",
                                "total_value"]


def test_stream_is_actually_streaming(spark):
    assert pipeline.stream_table(spark, SF_DIR, "events").isStreaming


def test_rate_source_matches_file_source(spark):
    """C2 transport breadth: the same windowed-agg transform over a
    rate-micro-batch (push/queue analog) delivery of the events fixture
    must equal the file-source result — transforms are source-agnostic."""
    import time

    from pyspark.sql import functions as F

    static = load_table(spark, SF_DIR, "events")
    expected_events = static.count()
    file_result = _as_set(pipeline.run_available_now(
        pipeline.windowed_event_stats(
            pipeline.stream_table(spark, SF_DIR, "events")),
        "rate_vs_file_file_sink"))

    rate_stream = pipeline.stream_events_rate(spark, SF_DIR,
                                              rows_per_batch=4000)
    assert rate_stream.isStreaming
    with pipeline.stream_state_partitions(spark):
        q = (pipeline.windowed_event_stats(rate_stream)
             .writeStream.format("memory").queryName("rate_vs_file_rate_sink")
             .outputMode("complete").start())
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            done = (spark.table("rate_vs_file_rate_sink")
                    .agg(F.sum("n_events")).collect()[0][0] or 0)
            if done >= expected_events:
                break
            time.sleep(0.5)
        got = _as_set(spark.table("rate_vs_file_rate_sink"))
    finally:
        q.stop()
    assert got == file_result


def test_rate_replay_counts_past_recent_progress_cap(spark):
    """Replay completion and RUN_STATS count every micro-batch, also when
    Spark keeps only the last 3 progress entries and the replay of the
    1000-row fixture takes 10 batches."""
    from gcp_serverless_mapreduce_spark.tables import table_row_count

    n = table_row_count(SF_DIR, "events")
    key = "spark.sql.streaming.numRecentProgressUpdates"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got = pipeline.run_rate_replay(
            pipeline.windowed_event_stats(pipeline.stream_events_rate(
                spark, SF_DIR, rows_per_batch=100)),
            "rate_replay_cap_sink", n, timeout_s=120)
        stats = pipeline.RUN_STATS[-1]
    finally:
        spark.conf.set(key, prev)
    batch = pipeline.windowed_event_stats(load_table(spark, SF_DIR, "events"))
    assert _as_set(got) == _as_set(batch)
    assert n == 1000
    assert stats["sink"] == "rate_replay_cap_sink"
    assert stats["input_rows"] == n


def test_progress_record_counts_each_batch_once_under_threads():
    """The listener record is shared by the listener-bus callback and the
    waiting runner: progress events delivered concurrently and repeated
    per batchId must still count each batch exactly once, and a waiter
    must wake when its condition holds."""
    import sys
    import threading
    from types import SimpleNamespace as NS

    prog = pipeline._Progress()
    prog.expect("q")
    prog.onQueryStarted(NS(name="q", runId="r"))

    def deliver():
        for b in range(200):
            prog.onQueryProgress(NS(progress=NS(
                runId="r", batchId=b, numInputRows=10,
                durationMs={"triggerExecution": 2, "addBatch": 1},
                stateOperators=[NS(commitTimeMs=3)])))

    threads = [threading.Thread(target=deliver) for _ in range(8)]
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        rec = prog.wait("r", lambda r: r["input_rows"] >= 2000, 30)
        for t in threads:
            t.join(timeout=30)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(prev)
    assert rec["input_rows"] == 2000
    prog.onQueryTerminated(NS(runId="r"))
    assert prog.record("r") == {
        "batches": 200, "input_rows": 2000, "trigger_exec_ms": 400,
        "add_batch_ms": 200, "state_commit_ms": 600, "terminated": True}


def test_left_outer_join_null_emission_matches_watermark_rule(spark):
    """Unmatched clicks emit their null row iff the terminal watermark
    (min of both sides' max event time, minus the 1 h delay) has passed
    click_ts + 1 h — eviction == emission.  Matches are identical to the
    batch range join."""
    import datetime

    from pyspark.sql import functions as F

    got = pipeline.run_available_now(
        pipeline.click_purchase_join(
            pipeline.stream_table(spark, SF_DIR, "events"), how="left"),
        "loj_rule_sink", mode="append").collect()

    static = load_table(spark, SF_DIR, "events")
    clicks = [(r["event_id"], r["user_id"], r["ts"]) for r in
              static.filter(F.col("event_type") == "click").collect()]
    purchases = [(r["user_id"], r["ts"]) for r in
                 static.filter(F.col("event_type") == "purchase").collect()]
    hour = datetime.timedelta(hours=1)
    wm = min(max(t for _, _, t in clicks),
             max(t for _, t in purchases)) - hour

    matched_ids = {r["click_id"] for r in got if r["purchase_id"] is not None}
    null_ids = {r["click_id"] for r in got if r["purchase_id"] is None}

    expect_matched, expect_null = set(), set()
    for cid, u, ct in clicks:
        has = any(pu == u and ct <= pt <= ct + hour for pu, pt in purchases)
        if has:
            expect_matched.add(cid)
        elif ct + hour < wm:
            expect_null.add(cid)
    assert matched_ids == expect_matched
    assert null_ids == expect_null
    assert len(expect_null) > 0  # the rule actually fires on the fixture


def test_full_outer_join_emits_both_sides_on_eviction(spark):
    """Full outer: unmatched clicks null-emit at click_ts + 1h, unmatched
    purchases at purchase_ts — each against the min-policy terminal
    watermark."""
    import datetime

    from pyspark.sql import functions as F

    got = pipeline.run_available_now(
        pipeline.click_purchase_join(
            pipeline.stream_table(spark, SF_DIR, "events"), how="full"),
        "foj_rule_sink", mode="append").collect()

    static = load_table(spark, SF_DIR, "events")
    clicks = [(r["event_id"], r["user_id"], r["ts"]) for r in
              static.filter(F.col("event_type") == "click").collect()]
    purchases = [(r["event_id"], r["user_id"], r["ts"]) for r in
                 static.filter(F.col("event_type") == "purchase").collect()]
    hour = datetime.timedelta(hours=1)
    wm = min(max(t for _, _, t in clicks),
             max(t for _, _, t in purchases)) - hour

    null_p = {r["click_id"] for r in got
              if r["purchase_id"] is None}            # unmatched clicks
    null_c = {r["purchase_id"] for r in got
              if r["click_id"] is None}               # unmatched purchases

    expect_null_p = {cid for cid, u, ct in clicks
                     if not any(pu == u and ct <= pt <= ct + hour
                                for _, pu, pt in purchases)
                     and ct + hour < wm}
    expect_null_c = {pid for pid, u, pt in purchases
                     if not any(cu == u and ct <= pt <= ct + hour
                                for _, cu, ct in clicks)
                     and pt < wm}
    assert null_p == expect_null_p
    assert null_c == expect_null_c
    assert expect_null_p and expect_null_c  # both rules fire on the fixture
