"""Multi-format source round-trips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_csv_and_json_source_roundtrip(spark, tmp_path):
    # the engine is not parquet-only: schema-stable round-trips through
    # csv and json sources
    orig = (load_table(spark, SF_DIR, "documents")
            .select("doc_id", "lang", "source", "n_chars").orderBy("doc_id"))
    csv_p, json_p = str(tmp_path / "d_csv"), str(tmp_path / "d_json")
    orig.write.mode("overwrite").option("header", True).csv(csv_p)
    orig.write.mode("overwrite").json(json_p)

    csv_back = (spark.read.schema(orig.schema).option("header", True)
                .csv(csv_p))
    json_back = spark.read.schema(orig.schema).json(json_p)
    expect = [tuple(r) for r in orig.collect()]
    assert sorted(tuple(r) for r in csv_back.collect()) == expect
    assert sorted(tuple(r) for r in json_back.collect()) == expect


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC round-trip (columnar alternative to parquet), and the same
    predicate-pushdown contract: a filter on the ORC read must reach the
    scan as a PushedFilter."""
    orig = (load_table(spark, SF_DIR, "orders")
            .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"))
    p = str(tmp_path / "orders_orc")
    orig.write.mode("overwrite").orc(p)

    back = spark.read.orc(p)
    assert sorted(tuple(r) for r in back.collect()) == \
        sorted(tuple(r) for r in orig.collect())

    filtered = back.filter(F.col("o_totalprice") > 300000)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "o_totalprice" in pushed


def test_corrupt_records_routed_not_dropped(spark, tmp_path):
    from pyspark.sql import functions as F

    from gcp_serverless_mapreduce_spark.sources.formats import (
        CORRUPT_LINES, write_with_corruption_then_read)

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["event_id", "name"])
    # localCheckpoint: Spark disallows lazily querying ONLY the corrupt
    # column from raw JSON (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — parse once,
    # then slice
    back = write_with_corruption_then_read(
        df, str(tmp_path / "json")).localCheckpoint()
    good = back.filter(F.col("_corrupt_record").isNull())
    bad = back.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2
    assert bad.count() == len(CORRUPT_LINES)
    # the quarantine column preserves the raw offending line
    assert {r["_corrupt_record"] for r in bad.collect()} == set(CORRUPT_LINES)
    # good rows survive bit-exact
    assert {(r["event_id"], r["name"]) for r in good.collect()} == {
        (1, "a"), (2, "b")}


def test_python_datasource_splits_and_pushdown(spark):
    sf_dir = "/root/testdata/sf0.001"
    from gcp_serverless_mapreduce_spark.sources import pyds
    pyds.register(spark)

    def load():
        # ONE load() per query: Spark plans a v2 scan once per relation
        # and caches it, so a pushed filter is baked into that relation
        # — sharing a load() across differently-filtered queries would
        # reuse the first query's pushdown (framework behavior, pinned
        # by this test via fresh loads).
        return (spark.read.format("events_pyds")
                .option("path", f"{sf_dir}/events.parquet").load())

    # Split planning: one Spark partition per InputPartition.
    assert load().rdd.getNumPartitions() == pyds.N_PARTITIONS
    # Pushdown correctness: source-filtered == full-read post-filtered,
    # and the unfiltered relation matches the parquet ground truth.
    truth = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    n_clicks_truth = sum(1 for r in truth if r.event_type == "click")
    assert load().where("event_type = 'click'").count() == n_clicks_truth
    assert load().count() == len(truth)
    # ts_us wire encoding is lossless epoch micros vs the parquet ts.
    import calendar
    t = {r.event_id: calendar.timegm(r.ts.timetuple()) * 1_000_000
         + r.ts.microsecond for r in truth[:50]}
    got = {r.event_id: r.ts_us for r in load().limit(1000).collect()
           if r.event_id in t}
    assert got and all(got[k] == t[k] for k in got)


def test_python_datasource_mixed_filters_separate_loads(spark):
    """Per-scan filter binding: a join mixing a filtered and an
    unfiltered scan returns exact rows when each branch comes from its
    own load() (the documented usage).  Regression for the former
    consume-once pushFilters state, which lost the binding whenever
    partitions() ran more than once per scan."""
    sf_dir = "/root/testdata/sf0.001"
    from gcp_serverless_mapreduce_spark.sources import pyds
    pyds.register(spark)

    def load():
        return (spark.read.format("events_pyds")
                .option("path", f"{sf_dir}/events.parquet").load())

    truth = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_clicks = truth.where("event_type = 'click'").count()
    clicks = load().where("event_type = 'click'").select("event_id")
    other = load().select("event_id", "event_type")
    assert clicks.join(other, "event_id").count() == n_clicks
    # filtered then unfiltered actions on separate loads stay exact
    assert load().where("event_type = 'error'").count() == \
        truth.where("event_type = 'error'").count()
    assert load().count() == truth.count()


@pytest.mark.xfail(
    reason="Upstream Spark 4.1: two scans of ONE load() share the "
           "Python relation's planned read state JVM-side, so the "
           "second planning overwrites the first's pushed filter "
           "(each pushFilters call binds correctly — traced).  If this "
           "starts passing, Spark fixed it: drop the xfail and the "
           "workaround note in sources/pyds.py.",
    strict=False)
def test_python_datasource_mixed_filters_shared_load_upstream(spark):
    sf_dir = "/root/testdata/sf0.001"
    from gcp_serverless_mapreduce_spark.sources import pyds
    pyds.register(spark)
    df = (spark.read.format("events_pyds")
          .option("path", f"{sf_dir}/events.parquet").load())
    n_clicks = (spark.read.parquet(f"{sf_dir}/events.parquet")
                .where("event_type = 'click'").count())
    clicks = df.where("event_type = 'click'").select("event_id")
    other = df.select("event_id", "event_type")
    assert clicks.join(other, "event_id").count() == n_clicks


def test_parquet_native_mixed_filters_shared_load(spark):
    """The contrast pin for the xfail above: the IDENTICAL shared-load
    pattern — two scans of ONE load(), one filtered, one not, joined —
    is exact through Spark's native parquet source.  Together the pair
    shows the defect lives in the Python-datasource planning path
    upstream, not in this repo's reader (whose per-scan binding is
    pinned green in test_python_datasource_* above)."""
    sf_dir = "/root/testdata/sf0.001"
    df = spark.read.parquet(f"{sf_dir}/events.parquet")   # ONE load()
    n_clicks = df.where("event_type = 'click'").count()
    clicks = df.where("event_type = 'click'").select("event_id")
    other = df.select("event_id", "event_type")
    assert clicks.join(other, "event_id").count() == n_clicks


def test_stream_reader_offset_restart_monotonic(spark):
    from gcp_serverless_mapreduce_spark.sources.pyds import EventsStreamReader
    r = EventsStreamReader({"path": "/root/testdata/sf0.001/events.parquet",
                            "rowsPerTrigger": "100"})
    # Fresh reader simulating restart: checkpoint committed row 700.
    r.commit({"row": 700})
    assert r.latestOffset()["row"] == 800  # advances FROM the checkpoint
    # partitions() on a pending checkpointed batch also re-learns _pos.
    r2 = EventsStreamReader({"path": "/root/testdata/sf0.001/events.parquet",
                             "rowsPerTrigger": "100"})
    parts = r2.partitions({"row": 600}, {"row": 700})
    assert r2.latestOffset()["row"] == 800
    # Stale latestOffset below a checkpoint yields an empty range only.
    empty = r2.partitions({"row": 800}, {"row": 750})
    assert [p.value for p in empty] == [(800, 800)]
    rows = sum(b.num_rows for p in parts for b in r2.read(p))
    assert rows == 100
