"""Physical-plan regression tests — the scale contract, asserted.

These pin the plan properties that matter at 100 TB: predicate pushdown
reaching the parquet scan, dimension joins broadcasting, the anagram
pipeline keeping exactly one shuffle, and exchange reuse in the dedup
self-joins.  A refactor that silently adds a shuffle or drops a pushdown
fails here long before a cluster run would reveal it."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.operators import dedup
from gcp_serverless_mapreduce_spark.operators.anagram import anagram_pipeline
from gcp_serverless_mapreduce_spark.sources.text import write_anagram_sink
from gcp_serverless_mapreduce_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(plan: str) -> int:
    # count Exchange nodes, excluding ReusedExchange references
    return len(re.findall(r"\bExchange (?:hash|range|Single)", plan))


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = load_table(spark, SF_DIR, "orders").filter(
        F.col("o_orderstatus") == "F").select("o_orderkey")
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "o_orderstatus" in plan.split("PushedFilters:")[1][:200]


def test_column_pruning_reaches_parquet_scan(spark):
    df = load_table(spark, SF_DIR, "lineitem").select("l_orderkey")
    scan = _plan(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", scan)
    assert m and m.group(1).split(",")[0].startswith("l_orderkey")
    assert "l_comment" not in m.group(1)


def test_dim_join_broadcasts(spark):
    cust = load_table(spark, SF_DIR, "customer")
    nation = load_table(spark, SF_DIR, "nation")
    plan = _plan(cust.join(nation, cust.c_nationkey == nation.n_nationkey))
    assert "BroadcastHashJoin" in plan


def test_anagram_pipeline_single_shuffle(spark):
    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(anagram_pipeline(docs, gutenberg=False))
    # per-doc distinct is in-row (array_distinct): the ONLY exchange is the
    # signature groupBy
    assert _exchanges(plan) == 1, plan


def test_jaccard_reuses_shingle_exchange(spark):
    docs = load_table(spark, SF_DIR, "documents")
    df = dedup.jaccard_pairs(docs, 0.8)
    df.collect()  # AQE decides reuse at runtime; inspect the FINAL plan
    plan = _plan(df)
    assert plan.count("ReusedExchange") >= 2, plan


def test_corpus_reader_no_shuffle_on_many_files(spark, tmp_path):
    # 100 TB shape: the scan already yields >= cores splits -> the
    # under-parallelization spread must NOT fire (zero Exchange; an
    # unconditional repartition would shuffle every payload byte).
    from gcp_serverless_mapreduce_spark.sources.text import read_gutenberg_corpus

    many = tmp_path / "many"
    many.mkdir()
    for i in range(160):  # 160 x openCostInBytes(4 MB) >> cores splits
        (many / f"doc{i:03d}.txt").write_text(f"word{i} common\n")
    df = read_gutenberg_corpus(spark, str(many))
    assert df.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    assert "Exchange" not in _plan(df), _plan(df)


def test_corpus_reader_spreads_few_files(spark, tmp_path):
    # Fewer files than cores: each binaryFile row is one unsplittable
    # split, so the spread across cores fires.
    from gcp_serverless_mapreduce_spark.sources.text import read_gutenberg_corpus

    few = tmp_path / "few"
    few.mkdir()
    (few / "a.txt").write_text("alpha beta\n")
    (few / "b.txt").write_text("gamma delta\n")
    df = read_gutenberg_corpus(spark, str(few))
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert "Exchange RoundRobinPartitioning" in _plan(df), _plan(df)


def test_anagram_sink_partitioned_content_union(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    # min_group_size=1: the synthetic vocabulary has no true anagram pairs
    grouped = anagram_pipeline(docs, min_group_size=1)
    assert grouped.repartition(5, F.col("sorted_word")) \
        .rdd.getNumPartitions() == 5  # S6: N reducer shards (X2)
    out = str(tmp_path / "anagrams")
    write_anagram_sink(grouped, out, num_partitions=5)
    files = [p for p in __import__("os").listdir(out) if p.startswith("part-")]
    # empty shards write no object; non-empty ones land in distinct files
    assert 1 <= len(files) <= 5
    lines = set()
    for p in files:
        with open(f"{out}/{p}") as fh:
            lines.update(ln.rstrip("\n") for ln in fh if ln.strip())
    expect = {f"{r['sorted_word']}: {' '.join(r['anagrams'])}"
              for r in grouped.collect()}
    assert lines == expect  # content union is the contract (SURVEY §7)


def test_runtime_bloom_filter_prunes_selective_fact_join(spark):
    """Runtime Bloom-filter join pruning (SPARK-32268) fires on a
    selective fact-fact join: the filtered side's join keys become a
    bloom filter probed as `might_contain` inside the big side's scan
    filter — rows failing it never reach the shuffle.

    At fixture scale the defaults suppress it (application-side scans
    must exceed 10 GB and the join must not broadcast), so the test
    recreates the fact-fact condition explicitly; at 100 TB the same
    plan trips the defaults naturally — this pins that the conf is ON
    and the injection works in this engine build.
    """
    from pyspark.sql import functions as F

    from gcp_serverless_mapreduce_spark.tables import load_table

    assert (spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.enabled") == "true")
    sf = "/root/testdata/sf0.001"
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf, "lineitem")
        orders = (load_table(spark, sf, "orders")
                  .filter(F.col("o_orderpriority") == "1-URGENT"))
        j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .groupBy("o_orderpriority").count())
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_overlapping_chunks_is_map_only(spark):
    from gcp_serverless_mapreduce_spark.operators.curation import (
        overlapping_chunks)
    from gcp_serverless_mapreduce_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(overlapping_chunks(docs, 40, 30))
    assert _exchanges(plan) == 0  # chunking never shuffles payload text


def test_weighted_sample_uses_take_ordered_not_global_sort(spark):
    from gcp_serverless_mapreduce_spark.operators.curation import (
        weighted_sample)
    from gcp_serverless_mapreduce_spark.tables import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(weighted_sample(docs, 100))
    assert "TakeOrderedAndProject" in plan
    # the only sort allowed is the bounded post-limit rank window
    assert plan.count("Sort ") <= 1


def test_pagerank_iterations_share_one_edge_scan(spark):
    from gcp_serverless_mapreduce_spark.operators import graph

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 50) for i in range(200)], ["src", "dst"])
    # both directions of each edge, so every node is a src (pagerank's
    # no-dangling-node precondition)
    bidirected = (edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct())
    plan = _plan(graph.pagerank(bidirected, iters=3))
    # the checkpointed edge list appears as scans of an existing RDD, not
    # as three re-runs of the edge-build exchange
    assert "Scan ExistingRDD" in plan
