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


def test_transform_with_state_processor_logic(spark):
    """The TWS processor's logic, driven directly through its
    StatefulProcessor contract with a fake ValueState handle — the
    per-key accumulation must equal the batch aggregate across
    multi-batch, shuffle-ordered delivery.  (The TWS WORKER needs
    google.protobuf, unavailable in this sandbox, so the wiring runs
    on a real cluster only; the logic — the part this repo owns — is
    fully executed here with zero skips.)"""
    import pandas as pd

    from gcp_serverless_mapreduce_spark.streaming.stateful import (
        _make_running_totals_processor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            return self.states.setdefault(name, FakeValueState())

    RunningTotals = _make_running_totals_processor()
    events = load_table(spark, SF_DIR, "events") \
        .select("user_id", "value").collect()
    by_user: dict = {}
    for r in events:
        by_user.setdefault(r["user_id"], []).append(r["value"])

    got = {}
    for uid, vals in by_user.items():
        proc = RunningTotals()
        proc.init(FakeHandle())
        # deliver in reversed order split across two batches + two
        # handleInputRows calls: totals must be order/batching-invariant
        half = len(vals) // 2
        batches1 = [pd.DataFrame({"value": list(reversed(vals[:half]))})]
        batches2 = [pd.DataFrame({"value": vals[half:]}),
                    pd.DataFrame({"value": []})]
        out = list(proc.handleInputRows((uid,), iter(batches1), None))
        out += list(proc.handleInputRows((uid,), iter(batches2), None))
        proc.close()
        last = out[-1]
        got[uid] = (int(last["n_events"][0]), float(last["total_value"][0]))

    expect = {r["user_id"]: (r["n"], float(r["tv"])) for r in
              (load_table(spark, SF_DIR, "events").groupBy("user_id")
               .agg(F.count("*").alias("n"),
                    F.sum(F.col("value").cast("decimal(14,2)"))
                    .cast("double").alias("tv")).collect())}
    assert got == expect
