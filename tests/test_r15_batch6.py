"""r15 batch 6 pins: exchange reuse in the shingle family, the spread
refinement stage of max_shared_span_exact, and the foreachBatch-spread
streaming harness.

The reuse pins are RUNTIME properties (AQE materializes and reuses query
stages after execution), so they read ``executedPlan`` post-collect, not
the static explain.
"""
from __future__ import annotations

import re

from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.operators import dedup
from gcp_serverless_mapreduce_spark.tables import load_table

SF = "/root/testdata/sf0.001"


def _executed(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the adaptive plan string appends the pre-execution "Initial Plan"
    # section, which still shows every exchange un-reused — pin only the
    # final plan
    return plan.split("Initial Plan")[0]


def test_jaccard_pairs_shingle_exchange_materializes_once(spark):
    # Before r15 the sizes-subtree scan carried a pushed
    # isnotnull(doc_id) (join inference) and the self-join subtrees an
    # inferred isnotnull(shingle) that the others lacked, so the three
    # consumers of the shingle exchange canonicalized differently and
    # the kernel + exchange ran twice.  With the explicit null filters
    # all three subtrees are identical: ONE materialized shingle
    # exchange, the rest reused.
    docs = load_table(spark, SF, "documents")
    plan = _executed(dedup.jaccard_pairs(docs, 0.0, df_max=128))
    n_shingle_exchanges = len(re.findall(
        r"\+- Exchange hashpartitioning\(shingle", plan))
    n_reused = len(re.findall(r"ReusedExchange|ReusedQueryStage", plan))
    assert n_shingle_exchanges == 1, plan
    assert n_reused >= 2, plan


def test_word_shingles_null_filters_are_data_noops(spark):
    # The added filters must not change any row: shingles are
    # kernel-built strings (never null) and doc ids are non-null keys.
    docs = load_table(spark, SF, "documents")
    rows = dedup.word_shingles(docs).collect()
    assert all(r["shingle"] is not None and r["doc"] is not None
               for r in rows)
    # a null-doc row is dropped, mirroring the join-side inference that
    # every pair consumer already applied
    withnull = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame([(None, "a b c d")],
                              "doc_id long, text string"))
    got = {tuple(r) for r in dedup.word_shingles(withnull).collect()}
    assert got == {tuple(r) for r in rows}


def test_max_shared_span_refinement_stage_is_spread(spark):
    # The Python refinement runs after an explicit
    # defaultParallelism-partition exchange of the bounded pair frame
    # (AQE's byte model would coalesce the few-hundred-KB pair shuffle
    # to one task and serialize the CPU-bound kernel).
    docs = load_table(spark, SF, "documents")
    out = dedup.max_shared_span_exact(docs)
    n = spark.sparkContext.defaultParallelism
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert re.search(
        rf"hashpartitioning\(doc_a#\d+L, {n}\)", plan), plan
    out.collect()  # still computes


def test_run_available_now_mapped_matches_batch_rows(spark):
    from gcp_serverless_mapreduce_spark.streaming import pipeline

    docs = load_table(spark, SF, "documents")
    want = {(r["doc_id"], r["n"]) for r in
            docs.select("doc_id", F.size(F.split("text", " ")).alias("n"))
            .collect()}
    got_df = pipeline.run_available_now_mapped(
        pipeline.stream_table(spark, SF, "documents"),
        lambda b: b.select("doc_id",
                           F.size(F.split("text", " ")).alias("n")),
        "t_r15b6_mapped", no_data_batch=False)
    got = {(r["doc_id"], r["n"]) for r in got_df.collect()}
    assert got == want and want
