"""Round-15 batch 4 pins: streaming-harness optimizations.

1. ``run_available_now(no_data_batch=False)`` must not change any
   collected result for the query shapes that opted in — pinned here on
   the two state-bearing shapes where the argument is least obvious
   (inner stream-stream join, watermarked first-sight dedup): the rows
   must equal the default-path rows exactly.
2. The per-run checkpoint directory respects ``SPARK_GRAFT_STREAM_CKPT``
   (empty = Spark's own temp checkpoint) and is always FRESH per run —
   resume of a prior attempt's offsets would silently skip computation.
"""
from __future__ import annotations

import os

import pytest

from gcp_serverless_mapreduce_spark.streaming import pipeline as sp

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("shape", ["inner_join", "dedup_replayed"])
def test_no_data_batch_skip_is_result_identical(spark, shape):
    from pyspark.sql import functions as F

    def build():
        if shape == "inner_join":
            return sp.click_purchase_join(
                sp.stream_table(spark, SF_DIR, "events"))
        ev = sp.stream_events_redelivered(spark, SF_DIR)
        return (ev.withWatermark("ts", "1 hour")
                .dropDuplicatesWithinWatermark(["event_id"]))

    with_batch = _rows(sp.run_available_now(
        build(), f"ndb_on_{shape}", mode="append", no_data_batch=True))
    without = _rows(sp.run_available_now(
        build(), f"ndb_off_{shape}", mode="append", no_data_batch=False))
    assert with_batch == without
    assert len(without) > 0


def test_checkpoint_dir_env_and_freshness(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT", "")
    assert sp._checkpoint_dir("x") is None
    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT", str(tmp_path))
    a, b = sp._checkpoint_dir("x"), sp._checkpoint_dir("x")
    assert a is not None and b is not None and a != b
    assert a.startswith(str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_STREAM_CKPT", str(tmp_path / "missing"))
    assert sp._checkpoint_dir("x") is None
