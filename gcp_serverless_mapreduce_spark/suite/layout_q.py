"""Data-layout queries: Z-order clustering keys, oracle-gated.

The SQL twin of ``operators/layout.py`` is generated from the SAME
function (``zorder_key_sql``) that documents the Spark fold, so the two
interleave expressions cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import NONEMPTY_TOKENS_SQL, nonempty_tokens
from ..operators import layout
from ..registry import register
from ..tables import load_table

# Day number relative to the fixture's order-date epoch; fits 12 bits
# (the dates span ~2400 days), custkey fits 11 — both inside the 16-bit
# interleave budget.
DATE_EPOCH = "1995-01-01"
# Coarse bucket = top bits of the 32-bit z-key: orders of magnitude more
# buckets than files at any scale, few enough that per-bucket min/max
# stats stay a small result.
BUCKET_SHIFT = 18

_ZKEY_SQL = layout.zorder_key_sql(
    f"datediff('day', DATE '{DATE_EPOCH}', CAST(o_orderdate AS DATE))")


@register("zorder_layout_keys", f"""
WITH z AS (
    SELECT o_custkey,
           datediff('day', DATE '{DATE_EPOCH}', CAST(o_orderdate AS DATE)) AS day_no,
           {_ZKEY_SQL} AS zkey
    FROM orders)
SELECT CAST(zkey >> {BUCKET_SHIFT} AS BIGINT) AS zbucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(o_custkey) AS BIGINT) AS min_custkey,
       CAST(MAX(o_custkey) AS BIGINT) AS max_custkey,
       CAST(MIN(day_no) AS BIGINT) AS min_day,
       CAST(MAX(day_no) AS BIGINT) AS max_day
FROM z GROUP BY zbucket
""")
def zorder_layout_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys over orders on (custkey, order
    day), summarized per coarse z-bucket with each bucket's min/max in
    BOTH dimensions — the row-group statistics a zkey-sorted writer
    would produce, i.e. the pruning ranges a predicate on EITHER column
    could skip by.  The key itself is a pure codegen integer fold (no
    UDF, no shuffle); the only exchange is the small bucket aggregate.

    A 100 TB writer uses this as
    ``repartitionByRange(zkey).sortWithinPartitions(zkey)`` before the
    sink; the query gates the key computation and its locality effect.
    """
    orders = load_table(spark, sf_dir, "orders")
    day_no = F.datediff(F.col("o_orderdate").cast("date"),
                        F.lit(DATE_EPOCH).cast("date"))
    z = orders.select(
        "o_custkey", day_no.alias("day_no"),
        layout.zorder_key(F.col("o_custkey"), day_no).alias("zkey"))
    return (z.groupBy(F.shiftright("zkey", BUCKET_SHIFT).cast("long")
                      .alias("zbucket"))
            .agg(F.count("*").alias("n_orders"),
                 F.min("o_custkey").alias("min_custkey"),
                 F.max("o_custkey").alias("max_custkey"),
                 F.min("day_no").cast("long").alias("min_day"),
                 F.max("day_no").cast("long").alias("max_day")))


# Length-bucketed batching geometry.
LEN_BUCKETS = 8     # ntile length-quantile buckets
BATCH_DOCS = 32     # documents per training batch within a bucket


@register("length_bucketed_batches", f"""
WITH base AS (
    SELECT doc_id, CAST(len({NONEMPTY_TOKENS_SQL}) AS BIGINT) AS n_toks
    FROM documents),
b AS (
    SELECT doc_id, n_toks,
           ntile({LEN_BUCKETS}) OVER (ORDER BY n_toks, doc_id) AS bucket
    FROM base),
bb AS (
    SELECT bucket, n_toks,
           CAST(floor(CAST(row_number() OVER (PARTITION BY bucket
                                              ORDER BY n_toks, doc_id) - 1
                           AS DOUBLE) / {BATCH_DOCS}) AS BIGINT)
             AS batch_no
    FROM b),
per_batch AS (
    SELECT bucket, batch_no,
           CAST(COUNT(*) AS BIGINT) AS n_in_batch,
           MAX(n_toks) AS max_toks
    FROM bb GROUP BY bucket, batch_no),
bucket_toks AS (SELECT bucket, SUM(n_toks) AS bt FROM bb GROUP BY bucket),
agg AS (
    SELECT bucket,
           CAST(SUM(n_in_batch) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(n_in_batch * max_toks) AS BIGINT) AS padded_tokens
    FROM per_batch GROUP BY bucket)
SELECT bucket, n_docs, n_batches, padded_tokens,
       round(CAST(1.0 AS DOUBLE) - CAST(bt AS DOUBLE)
             / CAST(padded_tokens AS DOUBLE), 6) AS pad_waste
FROM agg JOIN bucket_toks USING (bucket)
""")
def length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed training-batch plan: docs ntile'd into
    {LEN_BUCKETS} token-length buckets, batched {BATCH_DOCS} at a time
    within each bucket (ordered by length so batch max-lengths stay
    tight), reporting per-bucket batch counts, PADDED token cost
    (n_in_batch x batch max length — what a fixed-shape trainer
    actually pays), and the padding-waste ratio.  This is the metric
    that justifies length bucketing: sorted-within-bucket batches keep
    pad_waste near 0 where random batching pays the corpus-max every
    batch.  Scale note: the global ntile is a single-partition window —
    at 100 TB replace the cutpoints with approx_percentile bounds and a
    range join (same downstream shape); per-bucket batching is already
    partition-parallel."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.size(nonempty_tokens(F.col("text"))).cast("long")
        .alias("n_toks"))
    b = base.withColumn(
        "bucket", F.ntile(LEN_BUCKETS).over(
            Window.orderBy("n_toks", "doc_id")))
    bb = b.withColumn(
        "batch_no",
        F.floor((F.row_number().over(Window.partitionBy("bucket")
                                     .orderBy("n_toks", "doc_id")) - 1)
                .cast("double") / BATCH_DOCS).cast("long"))
    per_batch = (bb.groupBy("bucket", "batch_no")
                 .agg(F.count(F.lit(1)).cast("long").alias("n_in_batch"),
                      F.max("n_toks").alias("max_toks")))
    bucket_toks = bb.groupBy("bucket").agg(
        F.sum("n_toks").alias("bucket_toks"))
    return (per_batch.groupBy("bucket")
            .agg(F.sum("n_in_batch").cast("long").alias("n_docs"),
                 F.count(F.lit(1)).cast("long").alias("n_batches"),
                 F.sum(F.col("n_in_batch") * F.col("max_toks"))
                 .cast("long").alias("padded_tokens"))
            .join(bucket_toks, "bucket")
            .select("bucket", "n_docs", "n_batches", "padded_tokens",
                    F.round(F.lit(1.0)
                            - F.col("bucket_toks").cast("double")
                            / F.col("padded_tokens").cast("double"), 6)
                    .alias("pad_waste")))


# Fill-in-the-middle split geometry: minimum doc length (chars) to emit
# a split, so every segment is guaranteed non-empty.
FIM_MIN_CHARS = 16


def _fim_hash_sql(seed: str) -> str:
    """DuckDB twin of the seeded per-doc split hash (md5-prefix)."""
    return (f"CAST('0x' || substr(md5('{seed}|' || "
            f"CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)")


@register("fim_split_plan", f"""
WITH base AS (
    SELECT doc_id, text, length(text) AS n
    FROM documents WHERE length(text) >= {FIM_MIN_CHARS}),
s1c AS (
    SELECT doc_id, text, n,
           1 + {_fim_hash_sql('f1')} % (n - 2) AS s1
    FROM base),
s2c AS (
    SELECT doc_id, text, n, s1,
           s1 + 1 + {_fim_hash_sql('f2')} % (n - s1 - 1) AS s2
    FROM s1c)
SELECT doc_id,
       CAST(s1 AS BIGINT) AS prefix_len,
       CAST(s2 - s1 AS BIGINT) AS middle_len,
       CAST(n - s2 AS BIGINT) AS suffix_len,
       md5(substr(text, 1, CAST(s1 AS INTEGER)) || '|'
           || substr(text, CAST(s2 + 1 AS INTEGER),
                     CAST(n - s2 AS INTEGER)) || '|'
           || substr(text, CAST(s1 + 1 AS INTEGER),
                     CAST(s2 - s1 AS INTEGER))) AS psm_fingerprint
FROM s2c
""")
def fim_split_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle (FIM, Bavarian et al. 2022) training
    transform: each document gets two deterministic hash-derived split
    points 1 <= s1 < s2 < n, yielding non-empty prefix/middle/suffix
    segments; the emitted fingerprint hashes the PSM arrangement
    (prefix, suffix, middle — the order an infilling trainer consumes).
    Pure per-row codegen expressions — no shuffle, no UDF — so the
    transform runs at scan speed over 100 TB and commutes with any
    partitioning; determinism (hash of doc_id, not rand()) makes the
    split reproducible across epochs and engines, which is what the
    oracle gates byte-for-byte via the fingerprint."""
    docs = load_table(spark, sf_dir, "documents")

    def seeded(seed: str):
        return F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{seed}|"),
                           F.col("doc_id").cast("string"))), 1, 8),
            16, 10).cast("long")

    n = F.length("text")
    base = (docs.where(n >= FIM_MIN_CHARS)
            .select("doc_id", "text", n.alias("n")))
    s1 = (F.lit(1) + seeded("f1") % (F.col("n") - 2)).alias("s1")
    withs1 = base.select("doc_id", "text", "n", s1)
    s2 = (F.col("s1") + 1
          + seeded("f2") % (F.col("n") - F.col("s1") - 1)).alias("s2")
    withs2 = withs1.select("doc_id", "text", "n", "s1", s2)
    prefix = F.substr("text", F.lit(1), F.col("s1"))
    middle = F.substr("text", F.col("s1") + 1, F.col("s2") - F.col("s1"))
    suffix = F.substr("text", F.col("s2") + 1, F.col("n") - F.col("s2"))
    return withs2.select(
        "doc_id",
        F.col("s1").cast("long").alias("prefix_len"),
        (F.col("s2") - F.col("s1")).cast("long").alias("middle_len"),
        (F.col("n") - F.col("s2")).cast("long").alias("suffix_len"),
        F.md5(F.concat_ws("|", prefix, suffix, middle))
        .alias("psm_fingerprint"))


# ---- Hilbert-curve clustering keys -----------------------------------------

_H_CTES, _H_LAST = layout.hilbert_ctes_sql()


@register("hilbert_layout_keys", f"""
WITH base AS (
    SELECT o_custkey,
           CAST(date_diff('day', DATE '{DATE_EPOCH}',
                          CAST(o_orderdate AS DATE)) AS BIGINT) AS day_no
    FROM orders),
{_H_CTES}
SELECT CAST(d >> {BUCKET_SHIFT} AS BIGINT) AS hbucket,
       COUNT(*) AS n_orders,
       MIN(o_custkey) AS min_custkey, MAX(o_custkey) AS max_custkey,
       CAST(MIN(day_no) AS BIGINT) AS min_day,
       CAST(MAX(day_no) AS BIGINT) AS max_day
FROM {_H_LAST} GROUP BY 1
""")
def hilbert_layout_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering keys over orders on (custkey, order
    day) — the same writer-layout query as `zorder_layout_keys` under
    the strictly-better-locality curve (consecutive Hilbert indices are
    always adjacent cells; the Z-curve jumps at quadrant seams), so the
    per-bucket min/max pruning boxes this query emits are tighter for
    the same bucket width.  tests/test_round10_ops.py measures exactly
    that: the mean per-bucket bounding-box area under Hilbert vs
    Z-order on the fixture.  TUNING.md ("Clustering-layout file
    pruning") records the end effect on real written
    files: on 64 footer-stat files and 2%-wide range predicates,
    Hilbert reads 3.2% of files vs Z-order's 5.5% on the conjunctive
    predicate (and wins both single-column families too).

    The key is one codegen'd integer fold (F.aggregate over the level
    constants — see operators/layout.py:hilbert_key); the only exchange
    is the small bucket aggregate.  The oracle unrolls the fold as one
    CTE per level (a DuckDB 1.0.0 list_reduce bug makes the lambda form
    unusable as an oracle — documented at the operator)."""
    orders = load_table(spark, sf_dir, "orders")
    day_no = F.datediff(F.col("o_orderdate").cast("date"),
                        F.lit(DATE_EPOCH).cast("date"))
    # Project the two key inputs, then spread (guarded, no-op at scale):
    # the Hilbert kernel is the CPU-heavy stage and the fixture scan is
    # single-task; projecting first keeps the spread exchange narrow
    # (guide §2.3) and integer keys are partitioning-independent.
    from gcp_serverless_mapreduce_spark.tables import spread_small_scan

    base = spread_small_scan(
        orders.select("o_custkey", day_no.alias("day_no")))
    h = base.select(
        "o_custkey", "day_no",
        layout.hilbert_key(F.col("o_custkey"), F.col("day_no"))
        .alias("hkey"))
    return (h.groupBy(F.shiftright("hkey", BUCKET_SHIFT).cast("long")
                      .alias("hbucket"))
            .agg(F.count("*").alias("n_orders"),
                 F.min("o_custkey").alias("min_custkey"),
                 F.max("o_custkey").alias("max_custkey"),
                 F.min("day_no").cast("long").alias("min_day"),
                 F.max("day_no").cast("long").alias("max_day")))


# Small-file compaction: target output size in bytes (fixture scale —
# a real deployment uses 128 MB-1 GB row-group-aligned targets; the
# packing arithmetic is scale-free).  Files >= the target pass through
# compaction untouched, so the plan covers only size < TARGET.
COMPACT_TARGET = 4_000


# Shared oracle for BOTH faces of the compaction contract: the batch
# planner (file_compaction_plan) and its streaming twin
# (stream_file_compaction_plan) emit the identical (partition, bin)
# manifest, so one SQL twin gates both.
_COMPACTION_ORACLE = f"""
WITH f AS (
    SELECT source, doc_id, n_chars
    FROM documents WHERE n_chars < {COMPACT_TARGET}),
b AS (
    SELECT source, doc_id, n_chars,
           (SUM(n_chars) OVER (PARTITION BY source
                               ORDER BY n_chars DESC, doc_id)
            - n_chars) // {COMPACT_TARGET} AS bin_id
    FROM f)
SELECT source, CAST(bin_id AS BIGINT) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(n_chars) AS BIGINT) AS bin_bytes
FROM b GROUP BY source, bin_id
"""


@register("file_compaction_plan", _COMPACTION_ORACLE)
def file_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (NEW round 11) — the operational
    pass every long-lived 100 TB table needs: landing-zone writes leave
    thousands of sub-target files per partition, and scan throughput
    dies on per-file open costs long before bytes do.  Plan: within
    each partition (``source`` stands for the partition dir), order the
    sub-target files by (size desc, id) and assign next-fit bins by
    exclusive-prefix running sum ``(cumsum - size) // target`` — a pure
    two-window-function plan both engines express identically, no UDF,
    no iteration.  Output is the compaction manifest: one row per
    (partition, bin) with file count and byte total; files >= target
    pass through untouched (they are already scan-efficient).

    Scale shape: the input is a FILE LISTING — O(n_files) metadata
    rows (parquet footers / object-store listings), never data rows —
    so the per-partition sort inside the window is over thousands of
    entries per partition at any corpus size; the single exchange keys
    on the partition dir, which is exactly how a compactor parallelizes
    (one bin-pack per directory).  The fixture derives (file, size)
    from (doc_id, n_chars).  The size-desc order also makes bins
    monotone: big files pack first, so every bin except a partition's
    last lands within one file of the target."""
    docs = load_table(spark, sf_dir, "documents")
    # Integer `div` on the long prefix sum (layout.compaction_bins)
    # matches the oracle's exact `//` at any cumulative byte count.
    binned = layout.compaction_bins(
        docs.select("source", "doc_id", "n_chars"), COMPACT_TARGET)
    return (binned
            .groupBy("source", "bin_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_files"),
                 F.sum("n_chars").cast("long").alias("bin_bytes")))


@register("stream_file_compaction_plan", _COMPACTION_ORACLE)
def stream_file_compaction_plan(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """The STREAMING face of the compaction contract (round-13
    frontier): landed-file metadata arrives as a stream — one row per
    written object (partition dir, file id, byte size), exactly what a
    landing-zone sink's commit log emits per micro-batch — and flows
    through a STATELESS map-only stage (project the listing columns,
    drop already-scan-efficient >= target entries) into an append
    landing index; the compactor's bin-pack then plans over the
    accumulated listing batch-side via layout.compaction_bins — the
    ONE arithmetic shared with the batch planner and the executing
    rewriter (tests/test_compaction_exec.py), so stream, plan, and
    execution cannot drift.

    The streaming stage holds NO state and no exchange before the sink
    (pinned by tests/test_compaction_exec.py): at 100 TB/day the
    stream pays one metadata row per landed file — O(files), never
    data bytes — and the per-directory window bin-pack runs on the
    compactor's own cadence over the index, not per arriving file.
    availableNow over the full fixture makes the accumulated listing
    equal the batch listing, so the manifest is hash-gated by the SAME
    oracle as file_compaction_plan (identical output by construction)."""
    from ..streaming import pipeline

    listing = (pipeline.stream_table(spark, sf_dir, "documents")
               .select("source", "doc_id", "n_chars")
               .filter(F.col("n_chars") < COMPACT_TARGET))
    rows = pipeline.run_available_now(
        listing, "stream_compaction_listing_sink", mode="append",
        no_data_batch=False)
    binned = layout.compaction_bins(rows, COMPACT_TARGET)
    return (binned
            .groupBy("source", "bin_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_files"),
                 F.sum("n_chars").cast("long").alias("bin_bytes")))
