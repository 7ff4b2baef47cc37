"""r15 batch 8 pins: the ladder-gram Arrow kernel is element-identical
to the interpreted expression twin, and substring_discard_manifest's
Python refinement stage is spread."""
from __future__ import annotations

import re

from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.operators import dedup
from gcp_serverless_mapreduce_spark.tables import load_table
from tests.dedup_twins import ladder_tagged_grams_expr

SF = "/root/testdata/sf0.001"


def test_ladder_kernel_matches_expression_twin(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    # adversarial rows: empty, whitespace-only, shorter than every rung,
    # exactly one rung long, internal repeats (distinct-order check),
    # mixed whitespace runs, NULL text
    extra = spark.createDataFrame(
        [(9001, ""), (9002, "   "), (9003, "a b"),
         (9004, "a b c d e f g h"),
         (9005, "x y z x y z x y z x y z x y z"),
         (9006, "A  b\tC   d e F g h i j k l m n"),
         (9007, None),
         # exactly the rows where str.split() and the JVM
         # expression used to diverge — leading tab, trailing newline,
         # NBSP (Java \s does not split U+00A0)
         (9008, "\ta b c d e f g h i"),
         (9009, "a b c d e f g h i\n"),
         (9010, "a\u00a0b c d e f g h i")],
        "doc_id long, text string")
    both = docs.unionByName(extra).select(
        "doc_id",
        dedup.ladder_tagged_grams((8, 13)).alias("k"),
        ladder_tagged_grams_expr((8, 13)).alias("x"))
    rows = both.collect()
    assert rows
    for r in rows:
        k = [(s["span"], s["gram"]) for s in r["k"]]
        x = [(s["span"], s["gram"]) for s in r["x"]]
        assert k == x, r["doc_id"]


def test_substring_refinement_stage_is_spread(spark):
    docs = load_table(spark, SF, "documents")
    out = dedup.substring_discard_manifest(docs)
    n = spark.sparkContext.defaultParallelism
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    assert re.search(rf"hashpartitioning\(doc_a#\d+L, {n}\)", plan), plan
    out.collect()
