"""Violation-injection test for the data-contract audit, and a rollup
losslessness test for the hourly->daily HLL fold.

The driver's oracle gate runs ``table_quality_audit`` only on the intact
fixtures, where every check reports 0 — which proves the checks agree
with the oracle but not that they *detect* anything.  Here a temp fixture
directory is seeded with one known violation count per check and the
query must report exactly those counts, also when the same query is built
over another sf_dir before the first result is collected.
"""
from __future__ import annotations

import pyspark.sql.functions as F

from gcp_serverless_mapreduce_spark.operators import sketches
from gcp_serverless_mapreduce_spark.suite import queries

SF_DIR = "/root/testdata/sf0.001"


def _seed_violations(spark, tmp_path):
    # customer: keys [1,2,3,2] -> count-distinct gap of exactly 1.
    spark.createDataFrame(
        [(1,), (2,), (3,), (2,)], "c_custkey long"
    ).write.parquet(str(tmp_path / "customer.parquet"))
    # orders: custkeys 98/99 are orphans (2); one NULL orderdate (1).
    spark.createDataFrame(
        [(10, 1, "1994-01-01"), (11, 2, "1994-01-02"),
         (12, 98, "1994-01-03"), (13, 99, None), (14, 3, "1994-01-04")],
        "o_orderkey long, o_custkey long, o_orderdate string",
    ).write.parquet(str(tmp_path / "orders.parquet"))
    # lineitem: orderkeys 900/901 are orphans (2); qty 0 and -3 are
    # nonpositive (2); discounts 1.5 and -0.1 are out of range (2).
    spark.createDataFrame(
        [(10, 5.0, 0.05), (11, 0.0, 0.10), (12, -3.0, 0.00),
         (900, 1.0, 1.50), (901, 2.0, -0.10), (13, 4.0, 1.00)],
        "l_orderkey long, l_quantity double, l_discount double",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))


def _counts(df):
    return {r["check_name"]: r["n_violations"] for r in df.collect()}


def test_quality_audit_detects_each_seeded_violation(spark, tmp_path):
    _seed_violations(spark, tmp_path)
    table_quality_audit = queries()["table_quality_audit"]
    got = _counts(table_quality_audit(spark, str(tmp_path)))
    assert got == {
        "orders_orphan_custkey": 2,
        "lineitem_orphan_orderkey": 2,
        "customer_dup_custkey": 1,
        "lineitem_qty_nonpositive": 2,
        "lineitem_discount_out_of_range": 2,
        "orders_null_orderdate": 1,
    }


def test_sql_query_reads_its_own_sf_dir(spark, tmp_path):
    # The SQL queries read session-global temp views that each call
    # re-registers.  Building the query over a second sf_dir before the
    # first result is collected must not change that result: spark.sql
    # resolves the views when it is called.  The seeded counts are the
    # ones the test above pins.
    _seed_violations(spark, tmp_path)
    table_quality_audit = queries()["table_quality_audit"]
    seeded = table_quality_audit(spark, str(tmp_path))
    intact = table_quality_audit(spark, SF_DIR)
    assert set(_counts(intact).values()) == {0}
    first = _counts(seeded)
    assert first == _counts(table_quality_audit(spark, str(tmp_path)))
    assert sum(first.values()) == 10


def test_hll_hourly_to_daily_fold_equals_direct_daily_state(spark):
    # Keys spread over 2 days x 4 hours with heavy cross-hour overlap:
    # folding the hourly register states by elementwise max must equal
    # the state built directly at daily granularity, register for
    # register (max-associativity is what makes sketch rollups lossless).
    rows = [(f"2024-03-0{d} 0{h}:00:00", f"u{(d * 7 + h * 3 + i) % 40}")
            for d in (1, 2) for h in range(4) for i in range(25)]
    df = spark.createDataFrame(rows, "hr string, u string")

    hourly = sketches.hll_state(df, "hr", "u")
    folded = (hourly.select(F.substring("grp", 1, 10).alias("grp"),
                            "idx", "r")
              .groupBy("grp", "idx").agg(F.max("r").alias("r")))
    direct = sketches.hll_state(
        df.select(F.substring("hr", 1, 10).alias("day"), "u"), "day", "u")

    key = lambda t: (t["grp"], t["idx"])
    assert sorted(map(key, folded.collect())) \
        == sorted(map(key, direct.collect()))
    got = {(r["grp"], r["idx"]): r["r"] for r in folded.collect()}
    want = {(r["grp"], r["idx"]): r["r"] for r in direct.collect()}
    assert got == want
