"""The workloads' operations: each runs after the previous one completes
(one client, closed loop), and every result is checked.

An operation is one unit a user waits for: one full anagram job from corpus
scan to committed sink (``corpus_anagram``), or one registered query built,
planned and collected the first time its plan runs in the session, where a
streaming query runs from start to materialized result to stop
(``query_mix``).
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import Counter
from dataclasses import dataclass

# The query_mix set.  Each run executes the whole set once, in an order
# shuffled by the seed, so every seed measures the same queries and only
# the order (which query pays a family's first-use cost) varies.  Listing
# the names keeps the set fixed when queries are added to the registry.
# A pass takes about 30 s on 4 cores.
#
# Batch queries: short ones, where per-query fixed cost dominates (every
# fifth, per suite module and sorted by name, of the queries that took at
# most 0.55 s cold at sf0.01), plus three Python-kernel queries (dedup,
# MinHash, product-quantization ANN) that make up the latency tail.  The
# IVF queries are left out: their DuckDB oracles take over 10 s each.
QUERY_SET = [
    "anagram_pairs", "event_pattern_matches", "badwords_filter_rates",
    "erasure_rewrite_plan", "neyman_allocation_sample",
    "quality_percentile_filter", "exact_dedup_groups", "file_compaction_plan",
    "customer_record_linkage", "audio_decode_roundtrip",
    "media_decode_features", "k_anonymity_audit", "approx_stats_parts",
    "daily_orders_gapfilled", "locf_hourly_event_values",
    "part_string_functions", "q3_top_unshipped_orders",
    "scd2_customer_order_versions", "udaf_geomean_by_status",
    "dataset_split_counts", "contrastive_negatives", "hll_distinct_users",
    "multires_event_rollup", "asof_click_before_purchase",
    "user_error_purchase_overlap", "bpe_fertility_by_lang",
    "doc_token_entropy", "language_id_chargram", "zipf_slope_by_source",
    "q10_returned_item_revenue", "q16_parts_supplier_relationship",
    "q22_dormant_customers",
    # tail
    "jaccard_prefix_dups", "minhash_lsh_candidates", "pq_adc_topk",
]
# Streaming queries: each streaming shape once: stream-stream join,
# foreachBatch dedup, watermarked dedup, stateless file routing,
# sessionization, stream-static join, windowed aggregation, stateful
# per-key totals and the rate-source replay.
STREAM_SET = [
    "stream_click_purchase_full_join", "stream_dedup_new_docs",
    "stream_dedup_windowed_stats", "stream_file_compaction_plan",
    "stream_session_stats", "stream_static_enrich",
    "stream_windowed_event_stats", "stream_windowed_event_stats_rate",
    "stream_user_totals_stateful",
]
# Run once before timing, outside the set.  The first queries of a session
# run on a cold JVM (class loading, JIT) and measured up to 3x slower,
# whichever query the seed put there; these warm the relational, text,
# Python-kernel, stateful and stream-join paths.
WARMUP = ["orders_by_month", "corpus_prep_pipeline", "simhash_fingerprints",
          "stream_distinct_user_event_pairs", "stream_click_purchase_join"]


@dataclass
class Op:
    name: str
    wall_s: float = 0.0
    ok: bool = False
    error: str = ""
    t0: float = 0.0  # epoch seconds, to match Spark status-store times
    t1: float = 0.0


class Oracle:
    """DuckDB results of each query's oracle twin, reduced to what the
    parity rules compare.  Built in the run's process before any timed
    region."""

    def __init__(self, sf_dir: str, names: list[str]):
        import duckdb

        import __spark_entry__ as entry
        from tools import check_parity as cp

        sqls = entry.oracle_sql()
        self.expected = {}
        con = duckdb.connect()
        try:
            for t in cp.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(sf_dir, t + '.parquet')}'")
            for name in names:
                rel = con.sql(sqls[name])
                cols, types = rel.columns, [str(t) for t in rel.types]
                rows = rel.fetchall()
                self.expected[name] = (cols, types, len(rows),
                                       cp.row_multiset(cols, rows))
        finally:
            con.close()

    def check(self, name: str, cols, dtypes, rows) -> str:
        """'' when the Spark result matches the oracle, else the reason."""
        from tools import check_parity as cp

        ocols, otypes, n, multiset = self.expected[name]
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} != {sorted(ocols)}"
        bad = cp.dtype_mismatches(cols, dtypes, ocols, otypes)
        if bad:
            return "dtypes " + "; ".join(bad)
        if len(rows) != n:
            return f"rowcount {len(rows)} != {n}"
        if cp.row_multiset(cols, rows) != multiset:
            return "values differ"
        return ""


def run_query(spark, tracer, fn, name: str, sf_dir: str,
              oracle: Oracle) -> Op:
    """One query built, planned and collected, then checked."""
    op = Op(name)
    with tracer.op(op):
        with tracer.span("build", "suite"):
            df = fn(spark, sf_dir)
        with tracer.span("plan", "spark"):
            tracer.force_plan(df)
        with tracer.span("exec", "spark"):
            rows = df.collect()
    cols, dtypes = df.columns, [t for _, t in df.dtypes]
    op.error = oracle.check(name, cols, dtypes, rows)
    op.ok = not op.error
    return op


def query_ops(spark, tracer, sf_dir: str, seed: int, names: list[str],
              warmup: list[str], oracle: Oracle):
    """Yield one checked Op per query of ``names`` in seed-shuffled order,
    after running the ``warmup`` queries untimed."""
    import __spark_entry__ as entry

    qs = entry.queries()
    order = list(names)
    random.Random(seed).shuffle(order)
    for name in warmup:
        op = run_query(spark, tracer, qs[name], name, sf_dir, oracle)
        if not op.ok:
            raise RuntimeError(f"warm-up query {name}: {op.error}")
    tracer.start_timing()
    for name in order:
        try:
            yield run_query(spark, tracer, qs[name], name, sf_dir, oracle)
        except Exception as ex:  # a failed query is counted, not fatal
            yield Op(name, error=f"{type(ex).__name__}: {ex}"[:300])


def corpus_job(spark, tracer, path: str, out: str) -> None:
    """The reference job: corpus scan to committed text sink."""
    from gcp_serverless_mapreduce_spark.operators.anagram import (
        anagram_pipeline)
    from gcp_serverless_mapreduce_spark.sources.text import (
        read_gutenberg_corpus, write_anagram_sink)

    with tracer.span("build", "sources"):
        docs = (read_gutenberg_corpus(spark, path)
                .withColumnRenamed("path", "doc_id")
                .withColumnRenamed("content", "text"))
        groups = anagram_pipeline(docs, gutenberg=True)
    # No plan span: the sink write plans a different Dataset (repartition,
    # select), so planning ``groups`` first would add work.
    with tracer.span("exec", "spark"):
        write_anagram_sink(groups, out, num_partitions=5)


def corpus_op(spark, tracer, corpus, out: str, name: str) -> Op:
    """One timed reference job, its sink checked against the expected
    lines and then removed."""
    op = Op(name)
    try:
        with tracer.op(op):
            corpus_job(spark, tracer, corpus.path, out)
        op.error = check_sink(out, corpus.expected)
        op.ok = not op.error
    except Exception as ex:  # a failed job is counted, not fatal
        op.error = f"{type(ex).__name__}: {ex}"[:300]
    shutil.rmtree(out, ignore_errors=True)
    return op


def corpus_ops(spark, tracer, corpus, sink_root: str, seconds: float):
    """Run the reference job back to back until ``seconds`` have passed
    (at least three jobs), after one untimed job (the first job on a new
    JVM measured 20-30% slower while the JIT warms up), and check every
    sink against the expected lines."""
    corpus_job(spark, tracer, corpus.path, os.path.join(sink_root, "warmup"))
    tracer.start_timing()
    deadline = time.perf_counter() + seconds
    i = 0
    while i < 3 or time.perf_counter() < deadline:
        yield corpus_op(spark, tracer, corpus,
                        os.path.join(sink_root, f"job{i}"), f"anagram_job_{i}")
        i += 1


def check_sink(out: str, expected: frozenset[str]) -> str:
    lines: list[str] = []
    for part in sorted(os.listdir(out)):
        if part.startswith("part-"):
            with open(os.path.join(out, part), encoding="utf-8") as fh:
                lines.extend(fh.read().splitlines())
    dup = [ln for ln, c in Counter(lines).items() if c > 1]
    got = set(lines)
    if dup or got != expected:
        return (f"sink lines: {len(got - expected)} unexpected, "
                f"{len(expected - got)} missing, {len(dup)} duplicated")
    return ""
