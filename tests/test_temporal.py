"""Goldens for the as-of and binned range joins on hand-built frames."""

from __future__ import annotations

import datetime as dt

from gcp_serverless_mapreduce_spark.operators import temporal


def _ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 0, minute, second)


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(100, 1, _ts(10)), (101, 1, _ts(20)), (102, 2, _ts(5))],
        ["event_id", "user_id", "ts"])
    right = spark.createDataFrame(
        [(1, _ts(10), 1.0),   # exact tie with event 100 -> matches
         (1, _ts(15), 2.0),   # latest before event 101
         (1, _ts(30), 9.0),   # after everything -> never matched
         (3, _ts(1), 7.0)],   # other key
        ["user_id", "ts", "v"])
    got = {r["event_id"]: (r["v_asof"], r["ts_asof"])
           for r in temporal.asof_join(left, right, on="user_id").collect()}
    assert got[100] == (1.0, _ts(10))   # "at or before" includes equality
    assert got[101] == (2.0, _ts(15))
    assert got[102] == (None, None)     # left join: no right row for user 2


def test_range_join_binned_window_membership(spark):
    left = spark.createDataFrame(
        [(1, 1, _ts(0, 30))], ["event_id", "user_id", "ts"])
    right = spark.createDataFrame(
        [(1, _ts(0, 30), 1.0),    # at lo bound (0s)  -> in
         (1, _ts(5, 30), 2.0),    # at hi bound (300s)-> in (crosses a bin)
         (1, _ts(5, 31), 3.0),    # 301s              -> out
         (1, _ts(0, 29), 4.0),    # before            -> out
         (2, _ts(1, 0), 5.0)],    # other key         -> out
        ["user_id", "ts", "value"])
    got = temporal.range_join_binned(
        left, right, lo_s=0, hi_s=300)
    assert sorted(r["value"] for r in got.collect()) == [1.0, 2.0]


def test_asof_join_rejects_colliding_value_columns(spark):
    import pytest
    from gcp_serverless_mapreduce_spark.operators import temporal

    left = spark.createDataFrame(
        [(1, 10, 5.0)], ["k", "ts", "price"])
    right = spark.createDataFrame(
        [(1, 9, 7.0)], ["k", "ts", "price"])  # "price" collides
    with pytest.raises(ValueError, match="price"):
        temporal.asof_join(left, right, on="k")


def test_interval_overlap_join_bins_and_dedup(spark):
    from gcp_serverless_mapreduce_spark.operators import temporal
    DAY = temporal.DAY_US
    # a1 spans 3 day-bins and overlaps b1 in two of them -> ONE output row.
    left = spark.createDataFrame(
        [(1, 10, int(0.5 * DAY), int(2.5 * DAY)),
         (1, 11, 0, 100),           # touches b2 at a point -> dropped
         (2, 12, 0, DAY)],          # other key: never joins key 1
        "user_id long, id long, s_us long, e_us long")
    right = spark.createDataFrame(
        [(1, 20, int(1.5 * DAY), int(3.5 * DAY)),
         (1, 21, 100, 200)],
        "user_id long, id long, s_us long, e_us long")
    rows = temporal.interval_overlap_join(left, right).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.a_id, r.b_id) == (10, 20)
    assert r.overlap_us == DAY  # [1.5d, 2.5d]
