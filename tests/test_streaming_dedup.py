"""stream_dedup_new_docs: the streaming face of incremental-ingest
dedup.  Pins its three contracts:
(1) the probe stage is map-only — zero exchanges before the sink;
(2) the streaming query holds NO state;
(3) the stream's decisions equal the batch operator's, doc for doc
    (which also pins the inline_band_hashes == batch-minhash identity
    and the Spark 4.1 same-named-lambda mis-binding workaround).
"""

from __future__ import annotations

import json
import re

from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.operators import dedup
from gcp_serverless_mapreduce_spark.streaming import pipeline
from gcp_serverless_mapreduce_spark.tables import load_table

SF_DIR = "/root/testdata/sf0.001"
INC_MOD, NUM_PERM, BANDS, RPB, MAX_BUCKET = 3, 8, 4, 2, 64


def _static_indexes(spark):
    docs = load_table(spark, SF_DIR, "documents")
    old = docs.filter(F.col("doc_id") % INC_MOD != 0)
    old_h = (old.select(F.md5("text").alias("h")).distinct()
             .withColumn("_seen", F.lit(1)).localCheckpoint())
    ob = dedup.banded_signatures(
        dedup.minhash_signatures(old, NUM_PERM), BANDS, RPB,
        max_bucket=MAX_BUCKET).localCheckpoint()
    return docs, old_h, ob


def test_inline_band_hashes_match_batch_banding(spark):
    # The row-local (streaming) band hashes must be bit-identical to
    # the batch explode->groupBy->band path for every doc that HAS a
    # signature, and empty exactly where the batch path emits no row.
    # This is the regression pin for the Spark 4.1 higher-order-function
    # lambda mis-binding (8 same-named F.transform lambdas in one
    # projection bound wrong; see inline_band_hashes docstring).
    docs = load_table(spark, SF_DIR, "documents")
    batch = {}
    for r in dedup.banded_signatures(
            dedup.minhash_signatures(docs, NUM_PERM), BANDS, RPB).collect():
        batch.setdefault(r["doc"], {})[r["band"]] = r["band_hash"]
    for arrow in (True, False):
        inline = {r["doc_id"]: list(r["b"]) for r in docs.select(
            "doc_id", dedup.inline_band_hashes(
                NUM_PERM, BANDS, RPB, arrow=arrow).alias("b")).collect()}
        assert set(inline) >= set(batch)
        for doc_id, bands in inline.items():
            if doc_id in batch:
                assert bands == [batch[doc_id][b]
                                 for b in range(BANDS)], (arrow, doc_id)
            else:
                assert bands == [], (arrow, doc_id)


def test_probe_stage_is_map_only(spark):
    # The exact transform the stream runs per micro-batch, applied to a
    # static batch: its physical plan must contain no Exchange (the
    # broadcast joins ship the INDEX, never shuffle the batch) and no
    # aggregation (stateless by construction).
    docs, old_h, ob = _static_indexes(spark)
    new_batch = docs.filter(F.col("doc_id") % INC_MOD == 0)
    routed = dedup.incremental_dedup_route(
        new_batch, old_h, ob, NUM_PERM, BANDS, RPB)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"\bExchange (?:hash|range|Single)", plan), plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan


def test_stream_holds_no_state_and_matches_batch(spark):
    # Run the actual streaming query (availableNow over the fixture),
    # assert zero stateful operators in every progress event, then
    # check the finalized decisions equal operators/dedup's batch
    # incremental_dedup frame doc for doc.
    docs, old_h, ob = _static_indexes(spark)
    new_stream = (pipeline.stream_table(spark, SF_DIR, "documents")
                  .filter(F.col("doc_id") % INC_MOD == 0))
    routed = dedup.incremental_dedup_route(
        new_stream, old_h, ob, NUM_PERM, BANDS, RPB)
    q = (routed.writeStream.format("memory")
         .queryName("t_stream_dedup_sink")
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    progress = [json.loads(p.json) for p in q.recentProgress]
    q.stop()
    assert progress, "stream produced no progress events"
    for p in progress:
        assert not p.get("stateOperators"), p

    got = {r["doc_id"]: (r["exact_dup"], r["n_near_partners"], r["is_dup"])
           for r in dedup.incremental_dedup_finalize(
               spark.table("t_stream_dedup_sink")).collect()}
    want = {r["doc_id"]: (r["exact_dup"], r["n_near_partners"], r["is_dup"])
            for r in dedup.incremental_dedup(
                docs, INC_MOD, NUM_PERM, BANDS, RPB,
                max_bucket=MAX_BUCKET).collect()}
    assert got == want
