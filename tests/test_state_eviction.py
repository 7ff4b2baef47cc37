"""Watermark EVICTION under a long micro-batch run: the 100 TB
streaming risk is unbounded state growth, which a
few-batch equality test cannot observe.  Here a month of sf0.1 events
streams through 20+ micro-batches in event-time order and the state
store's row count — read from StreamingQueryProgress, the number the
state store actually holds — must stay bounded by the watermark horizon
instead of accumulating every window ever opened.

Append output mode is essential: complete mode legitimately retains all
state (it must re-emit every window), so only append-mode runs exercise
the eviction path this test pins.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.streaming import pipeline
from gcp_serverless_mapreduce_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.1"
N_FILES = 24


@pytest.fixture(scope="module")
def ordered_events_sf01(spark, tmp_path_factory):
    """sf0.1 events as 24 contiguous time-range files with mtimes pinned
    in range order, so the file source replays the month in event-time
    order (one file ≈ 30 h) — the arrival pattern watermark eviction is
    designed for."""
    out = str(tmp_path_factory.mktemp("evict") / "events_ordered")
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "_bucket", F.ntile(N_FILES).over(Window.orderBy("ts", "event_id")))
    for i in range(1, N_FILES + 1):
        (ev.filter(F.col("_bucket") == i).drop("_bucket")
         .coalesce(1).write.mode("append").parquet(out))
        base = 1_700_000_000 + i * 10
        for name in os.listdir(out):
            p = os.path.join(out, name)
            if name.endswith(".parquet") and os.path.getmtime(p) > base:
                os.utime(p, (base, base))
    return out


def test_watermark_bounds_state_over_24_batches(spark, ordered_events_sf01):
    schema = spark.read.parquet(ordered_events_sf01).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(ordered_events_sf01))
    with pipeline.stream_state_partitions(spark):
        q = (pipeline.windowed_event_stats(stream)
             .writeStream.format("memory").queryName("evict_sink")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    progress = [json.loads(p.json) for p in q.recentProgress]
    emitted = spark.table("evict_sink").localCheckpoint()
    q.stop()

    states = [p["stateOperators"][0]["numRowsTotal"]
              for p in progress if p.get("stateOperators")]
    batches_with_state = [s for s in states if s > 0]
    assert len(batches_with_state) >= 20          # a real long run

    # total (window, event_type) keys the month opens — what an
    # eviction-less store would hold at the end
    total_keys = (spark.read.parquet(ordered_events_sf01)
                  .select(F.window("ts", "1 hour"), "event_type")
                  .distinct().count())
    peak = max(batches_with_state)
    final = batches_with_state[-1]
    # horizon bound: one ~30 h file in flight + 1 h watermark lag of
    # open windows, times the event-type fan-out; generous 3x slack
    # still sits far below the no-eviction total
    n_types = (spark.read.parquet(ordered_events_sf01)
               .select("event_type").distinct().count())
    horizon_keys = (30 + 1 + 1) * n_types
    assert peak <= 3 * horizon_keys, \
        f"state peaked at {peak} rows (horizon ~{horizon_keys}) — " \
        f"watermark eviction is not engaging"
    assert peak < 0.5 * total_keys, \
        f"state peak {peak} ~ total {total_keys}: nothing was evicted"
    assert final <= peak                          # no terminal blow-up

    # eviction must not have cost correctness: every emitted row equals
    # the batch answer for its window, and only windows the watermark
    # never closed (the stream tail) may be missing
    batch = pipeline.windowed_event_stats(
        spark.read.parquet(ordered_events_sf01))
    got = {tuple(r) for r in emitted.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got <= want
    missing = want - got
    if missing:
        import datetime

        max_ts = (spark.read.parquet(ordered_events_sf01)
                  .agg(F.max("ts")).first()[0])
        # the final watermark is max_ts - 1 h; a window stays unemitted
        # iff its END exceeds that, i.e. it STARTS after max_ts - 2 h
        tail = ((max_ts - datetime.timedelta(hours=2))
                .strftime("%Y-%m-%d %H:00:00"))
        assert all(r[0] >= tail for r in missing), \
            "a window older than the final watermark was dropped"


def test_streaming_hll_state_is_register_bounded(spark, ordered_events_sf01):
    """The streaming HLL build's state is the REGISTER GRID, not the key
    set: over a month of sf0.1 events the state store must hold at most
    n_groups x HLL_M rows — far below the distinct (group, user) pairs
    an exact streaming countDistinct would retain — and the final state
    must equal the batch registers exactly."""
    from gcp_serverless_mapreduce_spark.operators import sketches

    schema = spark.read.parquet(ordered_events_sf01).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 2)
              .parquet(ordered_events_sf01))
    proj = sketches.hll_project(
        stream.select("event_type",
                      F.col("user_id").cast("string").alias("u")),
        "event_type", "u")
    regs = proj.groupBy("grp", "idx").agg(F.max("rho").alias("r"))
    with pipeline.stream_state_partitions(spark):
        q = (regs.writeStream.format("memory").queryName("hll_state_sink")
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
    progress = [json.loads(p.json) for p in q.recentProgress]
    got_state = spark.table("hll_state_sink").localCheckpoint()
    q.stop()

    states = [p["stateOperators"][0]["numRowsTotal"]
              for p in progress if p.get("stateOperators")]
    assert len([s for s in states if s > 0]) >= 10   # a real long run

    ev = spark.read.parquet(ordered_events_sf01)
    n_types = ev.select("event_type").distinct().count()
    n_pairs = ev.select("event_type", "user_id").distinct().count()
    peak = max(states)
    assert peak <= n_types * sketches.HLL_M, \
        f"state peaked at {peak} > register grid {n_types * sketches.HLL_M}"
    # at sf0.1 the key set (~7.5k pairs) is only ~2x the register grid,
    # so "far below" is asymptotic; the strict inequality still holds
    # here and the grid bound above is the invariant that scales
    assert peak < n_pairs, \
        f"state peak {peak} >= key-set size {n_pairs}: not sketch-bounded"

    batch = sketches.hll_state(
        ev.select("event_type", F.col("user_id").cast("string").alias("u")),
        "event_type", "u")
    assert {tuple(r) for r in got_state.collect()} == \
        {tuple(r) for r in batch.collect()}


def test_chained_dedup_agg_state_is_watermark_bounded(spark,
                                                      ordered_events_sf01):
    """Round-9 gate for the CHAINED stateful pipeline behind
    stream_dedup_windowed_stats (dropDuplicatesWithinWatermark feeding a
    windowed aggregate in one append query): BOTH state stores must stay
    bounded by the watermark horizon over a month-long 24-batch sf0.1
    run.  The dedup store is the risk — it keys on event_id, so without
    eviction it would hold every id ever seen (the full 100k), not the
    ~one-file horizon."""
    schema = spark.read.parquet(ordered_events_sf01).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(ordered_events_sf01))
    agg = (stream.withWatermark("ts", "1 hour")
           .dropDuplicatesWithinWatermark(["event_id"])
           .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
           .agg(F.count("*").alias("n_events")))
    with pipeline.stream_state_partitions(spark):
        q = (agg.writeStream.format("memory").queryName("chain_sink")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    progress = [json.loads(p.json) for p in q.recentProgress]
    emitted = spark.table("chain_sink").localCheckpoint()
    q.stop()

    dedup_states, agg_states = [], []
    for p in progress:
        for op in p.get("stateOperators", []):
            name = op.get("operatorName", "")
            if "dedupe" in name:
                dedup_states.append(op["numRowsTotal"])
            else:
                agg_states.append(op["numRowsTotal"])
    assert len([s for s in dedup_states if s > 0]) >= 20
    assert len([s for s in agg_states if s > 0]) >= 20

    ev = spark.read.parquet(ordered_events_sf01)
    total_events = ev.count()
    n_types = ev.select("event_type").distinct().count()
    # dedup horizon: ids from the in-flight ~30 h file plus the 1 h
    # watermark lag; 3x slack still sits far below the full id set
    per_file = total_events / N_FILES
    dedup_peak = max(dedup_states)
    assert dedup_peak <= 3 * (per_file + total_events / (30 * 24)), \
        f"dedup state peaked at {dedup_peak} ids — eviction not engaging"
    assert dedup_peak < 0.2 * total_events, \
        f"dedup state peak {dedup_peak} ~ total ids {total_events}"
    # agg horizon: open windows within one file span + watermark lag
    agg_peak = max(agg_states)
    assert agg_peak <= 3 * (30 + 1 + 1) * n_types, \
        f"agg state peaked at {agg_peak} window-keys"

    # eviction must not cost correctness: every emitted row equals the
    # batch aggregate for its (closed) window
    batch = (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
             .agg(F.count("*").alias("n_events")))
    got = {tuple(r) for r in emitted.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got <= want
    assert len(got) >= 0.9 * len(want)   # only the stream tail may miss


def test_kcore_eager_checkpoint_releases_old_round_blocks(spark):
    """The iterative-operator analog of the streaming state bounds:
    kcore_peel's docstring claims eager
    per-round localCheckpoint keeps peak pinned storage at ~2 rounds'
    frames because round r-1's blocks lose their last consumer when
    ``bi`` is rebound.  Assert it against the JVM's RDDStorageInfo:
    while iterating _kcore_rounds, the number of NEW cached RDDs (over
    the pre-test baseline) must settle back to <=2 after every round —
    a lazy-chain regression pins one frame per round and fails the
    settle poll."""
    import gc
    import random
    import time

    from gcp_serverless_mapreduce_spark.operators import graph

    sc = spark.sparkContext

    def cached_ids():
        return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}

    def settle(baseline, limit, timeout=30.0):
        # ContextCleaner reclaim is async: Python gc drops the py4j
        # binding, JVM gc queues the weak ref, the cleaner unpersists.
        deadline = time.time() + timeout
        while True:
            gc.collect()
            sc._jvm.System.gc()
            new = cached_ids() - baseline
            if len(new) <= limit or time.time() > deadline:
                return new
            time.sleep(0.3)

    rng = random.Random(0xC0DE)
    names = [f"n{i}" for i in range(60)]
    edges = {(min(u, v), max(u, v))
             for u, v in (rng.sample(names, 2) for _ in range(240))}
    df = spark.createDataFrame(sorted(edges), "u string, v string")

    baseline = cached_ids()
    peaks = []
    rounds_seen = 0
    for bi in graph._kcore_rounds(df, k=3, rounds=5):
        rounds_seen += 1
        # current frame (+ at most one not-yet-reclaimed predecessor)
        live = settle(baseline, limit=2)
        peaks.append(len(live))
    assert rounds_seen == 6  # initial frame + 5 rounds
    assert max(peaks) <= 2, \
        f"per-round live checkpoint frames {peaks} — old rounds pinned"
    # the result stays correct through the release cycle
    del bi
    got = {r["node"]: r["deg"]
           for r in graph.kcore_peel(df, k=3, rounds=5).collect()}
    assert got  # non-degenerate fixture: a 3-core survives
    assert all(d >= 3 for d in got.values())
