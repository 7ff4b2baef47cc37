"""Sketch queries (Count-Min heavy hitters, KMV distinct counts) with
exact DuckDB oracle twins.

The SQL rebuilds each sketch bit-for-bit — same md5-prefix hashes, same
cell grid, same rank-k selection — so the oracle gates the *estimates
including their error*, not just the exact answers they approximate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import sketches
from ..operators.sketches import (CMS_DEPTH, CMS_WIDTH, HLL_M, HLL_MAX_RHO,
                                  HLL_NUMER, HLL_REST_MOD, KMV_HEX_DIGITS,
                                  KMV_K, KMV_NUMER)
from ..registry import register
from ..tables import load_table
from .textstats_q import _TOKS

# Heavy-hitter threshold: phi = 1% of total token mass.
CMS_PHI_PCT = 1

_ROWS = "(SELECT unnest(generate_series(0, {d})) AS r) rr".format(
    d=CMS_DEPTH - 1)


def _cell_sql(key_expr: str, seed_expr: str) -> str:
    """DuckDB twin of sketches.h_cell: md5-prefix hash mod width."""
    return (f"CAST('0x' || substr(md5(CAST({seed_expr} AS VARCHAR) || '|' "
            f"|| {key_expr}), 1, 8) AS BIGINT) % {CMS_WIDTH}")


@register("cms_heavy_hitter_words", f"""
WITH t AS (SELECT unnest({_TOKS}) AS w FROM documents),
n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM t),
cells AS (
    SELECT rr.r, {_cell_sql('t.w', 'rr.r')} AS cell
    FROM t, {_ROWS}),
sk AS (SELECT r, cell, CAST(count(*) AS BIGINT) AS cnt
       FROM cells GROUP BY r, cell),
cand AS (SELECT w, CAST(count(*) AS BIGINT) AS exact_cnt
         FROM t GROUP BY w),
pc AS (
    SELECT c.w, c.exact_cnt, rr.r, {_cell_sql('c.w', 'rr.r')} AS cell
    FROM cand c, {_ROWS}),
probe AS (
    SELECT pc.w, pc.exact_cnt,
           min(COALESCE(sk.cnt, 0)) AS cms_est
    FROM pc LEFT JOIN sk ON sk.r = pc.r AND sk.cell = pc.cell
    GROUP BY pc.w, pc.exact_cnt)
SELECT w AS word, exact_cnt, cms_est
FROM probe, n
WHERE cms_est * 100 >= n.total * {CMS_PHI_PCT}
""")
def cms_heavy_hitter_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via Count-Min: words whose *estimated* frequency is
    >= 1% of total token mass, with the exact count alongside.  The
    sketch build is one explode + one exchange over the fixed
    {CMS_DEPTH}x{CMS_WIDTH} cell grid — at 100 TB the shuffle volume is
    bounded by the grid, not the vocabulary; the sketch is then
    broadcast to estimate candidates without another wide exchange.
    CMS point estimates are one-sided (est >= exact), which the oracle
    reproduces exactly, collisions included."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.textstats import tokens
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("key"))
    sketch = sketches.cms_build(toks)
    cand = toks.groupBy("key").agg(
        F.count(F.lit(1)).alias("exact_cnt"))
    est = sketches.cms_estimate(cand.select("key"), sketch)
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    return (cand.join(est, "key")
            .crossJoin(F.broadcast(total))
            .where(F.col("cms_est") * 100 >= F.col("total") * CMS_PHI_PCT)
            .select(F.col("key").alias("word"), "exact_cnt", "cms_est"))


@register("kmv_distinct_users", f"""
WITH h AS (
    SELECT DISTINCT event_type AS grp,
           CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1,
                               {KMV_HEX_DIGITS}) AS BIGINT) AS h
    FROM events),
rk AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
       FROM h),
sk AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_hashes, max(h) AS h_k
       FROM rk WHERE rk <= {KMV_K} GROUP BY grp),
ex AS (SELECT event_type AS grp,
              CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
       FROM events GROUP BY event_type)
SELECT sk.grp AS event_type,
       round(CASE WHEN sk.n_hashes < {KMV_K}
                  THEN CAST(sk.n_hashes AS DOUBLE)
                  ELSE CAST({KMV_NUMER!r} AS DOUBLE)
                       / CAST(sk.h_k AS DOUBLE) END, 6) AS kmv_est,
       sk.n_hashes, ex.exact_distinct
FROM sk JOIN ex USING (grp)
""")
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via a KMV (theta-style) sketch —
    keep the {KMV_K} smallest 48-bit hashes per group, estimate
    (k-1)/frac_k — next to the exact answer.  Per-group sketch state is
    bounded by k regardless of data volume and merges by union+truncate,
    which is what replaces count(DISTINCT) when the group count and user
    cardinality both explode at 100 TB.  The oracle rebuilds the sketch
    hash-for-hash, so the estimation error itself is gated."""
    ev = load_table(spark, sf_dir, "events")
    est = sketches.kmv_distinct(
        ev.select("event_type", F.col("user_id").cast("string").alias("u")),
        "event_type", "u")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    return (est.withColumn("kmv_est", F.round("kmv_est", 6))
            .join(exact, "event_type")
            .select("event_type", "kmv_est", "n_hashes", "exact_distinct"))


# ---------------------------------------------------------------------------
# Bloom-filter membership: benchmark decontamination at corpus scale.

from ..operators import curation  # noqa: E402
from ..operators.sketches import BLOOM_K, BLOOM_M  # noqa: E402
from .curation_q import EVAL_MOD, NGRAM_N  # noqa: E402


def _bloom_pos_sql(gram_expr: str, seed_expr: str) -> str:
    """DuckDB twin of sketches.bloom_pos: md5-prefix hash mod BLOOM_M."""
    return (f"CAST('0x' || substr(md5(CAST({seed_expr} AS VARCHAR) || '|' "
            f"|| {gram_expr}), 1, 8) AS BIGINT) % {BLOOM_M}")


@register("bloom_decontamination", f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
    SELECT DISTINCT doc_id,
           array_to_string(list_slice(toks, i.i, i.i + {NGRAM_N} - 1),
                           ' ') AS gram
    FROM t, LATERAL (
        SELECT unnest(generate_series(1, len(toks) - {NGRAM_N - 1}))
        AS i) i
    WHERE len(toks) >= {NGRAM_N}),
e AS (SELECT DISTINCT gram FROM g WHERE doc_id % {EVAL_MOD} = 0),
seeds AS (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS s),
bits AS (SELECT DISTINCT {_bloom_pos_sql('gram', 's')} AS pos
         FROM e, seeds),
tg AS (SELECT doc_id, gram FROM g WHERE doc_id % {EVAL_MOD} <> 0),
pp AS (SELECT doc_id, gram, {_bloom_pos_sql('gram', 's')} AS pos
       FROM tg, seeds),
hit AS (
    SELECT pp.doc_id, pp.gram,
           (count(b.pos) = {BLOOM_K}) AS bloom_hit
    FROM pp LEFT JOIN bits b ON pp.pos = b.pos
    GROUP BY pp.doc_id, pp.gram),
agg AS (
    SELECT h.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(*) FILTER (WHERE h.bloom_hit) AS BIGINT)
               AS bloom_hits,
           CAST(count(*) FILTER (WHERE e.gram IS NOT NULL) AS BIGINT)
               AS exact_hits
    FROM hit h LEFT JOIN e ON h.gram = e.gram
    GROUP BY h.doc_id)
SELECT doc_id, n_grams, bloom_hits, exact_hits,
       bloom_hits - exact_hits AS bloom_fp
FROM agg WHERE bloom_hits > 0
""")
def bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination through a Bloom filter: the eval
    split's word {NGRAM_N}-grams set k={BLOOM_K} bits each in an
    m={BLOOM_M}-bit filter; every train document's n-grams then probe
    the filter and docs with any hit are flagged, with the exact hit
    count alongside so the filter's false positives are themselves
    oracle-gated.  The 100 TB shape: the filter is collected as a
    SKETCH (8 KiB bitmap, bounded by m, never by data volume) and rides
    the plan as a literal array<long>, so the corpus-side probe is pure
    whole-stage-codegen'd bit arithmetic on the scan — zero joins, zero
    shuffles before the per-doc aggregate — exactly how engine-native
    bloom-join pushdown ships filters to scans.  The exact-hit column
    reuses the broadcast-set plan of ngram_contamination for
    comparison.  The gram stream is deliberately re-derived per
    consumer (filter build, probe, exact twin) rather than
    materialized: grams are cheap in-row expressions, and at 100 TB a
    localCheckpoint of the (doc, gram) stream would cost far more disk
    and wall time than the extra codegen'd scans.
    See operators/sketches.py:bloom_build."""
    docs = load_table(spark, sf_dir, "documents")
    grams = curation.word_ngrams(docs, NGRAM_N)
    is_eval = (F.col("doc_id") % EVAL_MOD) == 0
    eval_grams = grams.where(is_eval).select("gram").distinct()
    bitmap = sketches.bloom_bitmap(
        sketches.bloom_build(eval_grams, key_col="gram"))
    train = grams.where(~is_eval)
    return (train
            .withColumn("_bloom",
                        sketches.bloom_hit_expr(F.col("gram"), bitmap))
            .join(F.broadcast(eval_grams.withColumn("_ex", F.lit(1))),
                  "gram", "left")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum(F.col("_bloom").cast("long")).alias("bloom_hits"),
                 F.sum(F.coalesce(F.col("_ex"), F.lit(0)).cast("long"))
                 .alias("exact_hits"))
            .where(F.col("bloom_hits") > 0)
            .select("doc_id", "n_grams", "bloom_hits", "exact_hits",
                    (F.col("bloom_hits") - F.col("exact_hits"))
                    .alias("bloom_fp")))


# Shared oracle for BOTH faces of bloom span decontamination: the batch
# window derivation (bloom_span_manifest) and the in-row streaming fold
# (stream_contamination_spans) emit identical merged ranges, so one SQL
# twin gates both.
_BLOOM_SPAN_ORACLE = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS (
    SELECT doc_id, i.i - 1 AS s, i.i - 1 + {NGRAM_N} AS e,
           array_to_string(list_slice(toks, i.i, i.i + {NGRAM_N - 1}),
                           ' ') AS gram
    FROM t, LATERAL (
        SELECT unnest(generate_series(1, len(toks) - {NGRAM_N - 1}))
        AS i) i
    WHERE len(toks) >= {NGRAM_N}),
e AS (SELECT DISTINCT gram FROM g WHERE doc_id % {EVAL_MOD} = 0),
seeds AS (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS sd),
bits AS (SELECT DISTINCT {_bloom_pos_sql('gram', 'sd')} AS pos
         FROM e, seeds),
pp AS (SELECT g.doc_id, g.s, g.e, g.gram,
              {_bloom_pos_sql('g.gram', 'sd')} AS pos
       FROM g, seeds WHERE g.doc_id % {EVAL_MOD} <> 0),
hit AS (
    SELECT doc_id, s, e
    FROM pp LEFT JOIN bits b USING (pos)
    GROUP BY doc_id, s, e, gram
    HAVING count(b.pos) = {BLOOM_K}),
o AS (
    SELECT doc_id, s, e,
           MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) AS pme
    FROM hit),
f AS (
    SELECT doc_id, s, e,
           CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS brk
    FROM o),
gg AS (
    SELECT doc_id, s, e,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS grp
    FROM f)
SELECT doc_id, CAST(MIN(s) AS BIGINT) AS range_start,
       CAST(MAX(e) AS BIGINT) AS range_end,
       CAST(MAX(e) - MIN(s) AS BIGINT) AS n_tokens
FROM gg GROUP BY doc_id, grp
"""


@register("bloom_span_manifest", _BLOOM_SPAN_ORACLE)
def bloom_span_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """curation_q's contamination_span_manifest with the probe pushed
    through the Bloom sketch (round 13): eval n-grams fold into the
    8 KiB bitmap literal and every train-side POSITIONED gram tests
    membership as codegen'd bit arithmetic on the scan — zero joins or
    broadcasts before the per-doc interval merge over hit rows.  Spans
    are a deterministic SUPERSET of the exact manifest (Bloom false
    positives widen/add ranges — conservative over-redaction); the
    oracle reproduces every set bit, so the bloom-level ranges are
    hash-gated exactly, FPs included.  See
    operators/curation.bloom_span_manifest."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.bloom_span_manifest(docs, NGRAM_N, EVAL_MOD)


@register("stream_contamination_spans", _BLOOM_SPAN_ORACLE)
def stream_contamination_spans(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """STATELESS STREAMING decontamination (round 13): arriving train
    documents emit their merged contaminated token spans map-only —
    the positioned-gram probe AND the interval merge both fold in-row
    (operators/curation.inline_bloom_spans: an ``aggregate`` over
    ascending Bloom-hit positions replaces the per-doc window), so the
    streaming stage holds no state, no window, no join, and no
    exchange before the sink (plan-pinned in
    tests/test_curation_pq.py).  The only batch-side dependency is the
    8 KiB eval-split bitmap, built once (timed as batch_side) and
    riding every micro-batch as a literal — at 100 TB/day the stream
    pays one codegen'd pass per arriving document, full stop.
    Hash-gated by the SAME oracle as bloom_span_manifest: the in-row
    fold and the batch window are two derivations of one contract."""
    from ..operators.sketches import bloom_bitmap, bloom_build
    from ..streaming import pipeline

    docs = load_table(spark, sf_dir, "documents")
    with pipeline.timed_batch_side():
        bitmap = bloom_bitmap(bloom_build(
            curation.word_ngrams(
                docs.filter(F.col("doc_id") % EVAL_MOD == 0), NGRAM_N)
            .select("gram").distinct(), key_col="gram"))

    # The stream emits ONE row per document: (doc_id, merged spans
    # array).  Exploding inside the streaming stage would triple the
    # wall: the micro-batch planner re-evaluates the generator's input
    # expression under Generate instead of collapsing it into the
    # preceding projection the way the batch planner does (measured
    # 15.5 s vs 5.2 s at sf0.1 for the identical expression), so the
    # cheap row-per-range projection runs batch-side over the sink.
    # The per-document probe+merge fold is applied INSIDE foreachBatch
    # (run_available_now_mapped) behind the guarded spread: the fixture
    # batch arrives as one file = one task, which serialized the whole
    # 2.5-3 s codegen'd fold on a single core of 32 (r15 event-log
    # measurement); at scale a trigger's files >> cores and the spread
    # no-ops.  The fold is row-local, so batch-parallelism cannot
    # change any row.
    rows = pipeline.run_available_now_mapped(
        pipeline.stream_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % EVAL_MOD != 0),
        lambda b: b.select("doc_id",
                           curation.inline_bloom_spans(bitmap, NGRAM_N)
                           .alias("_spans")),
        "stream_contamination_spans_sink", no_data_batch=False)
    return (rows.select("doc_id", F.explode("_spans").alias("r"))
            .select("doc_id",
                    F.col("r.s").alias("range_start"),
                    F.col("r.e").alias("range_end"),
                    (F.col("r.e") - F.col("r.s")).cast("long")
                    .alias("n_tokens")))


_KMV_STATE_SQL = """
    SELECT grp, h FROM (
        SELECT grp, h,
               row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
        FROM (SELECT DISTINCT event_type AS grp,
                     CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                         1, {d}) AS BIGINT) AS h
              FROM events WHERE event_id % 2 = {par}))
    WHERE rk <= {k}"""


@register("kmv_merge_equivalence", f"""
WITH s0 AS ({_KMV_STATE_SQL.format(d=KMV_HEX_DIGITS, par=0, k=KMV_K)}),
s1 AS ({_KMV_STATE_SQL.format(d=KMV_HEX_DIGITS, par=1, k=KMV_K)}),
m AS (
    SELECT grp, h FROM (
        SELECT grp, h,
               row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
        FROM (SELECT DISTINCT grp, h FROM
                  (SELECT * FROM s0 UNION ALL SELECT * FROM s1)))
    WHERE rk <= {KMV_K}),
est AS (
    SELECT grp, CAST(count(*) AS BIGINT) AS n_hashes, max(h) AS h_k
    FROM m GROUP BY grp),
direct AS (
    SELECT grp, CAST(count(*) AS BIGINT) AS n_hashes, max(h) AS h_k
    FROM (
        SELECT grp, h FROM (
            SELECT grp, h,
                   row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
            FROM (SELECT DISTINCT event_type AS grp,
                         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                             1, {KMV_HEX_DIGITS})
                              AS BIGINT) AS h
                  FROM events))
        WHERE rk <= {KMV_K})
    GROUP BY grp)
SELECT e.grp AS event_type,
       round(CASE WHEN e.n_hashes < {KMV_K}
                  THEN CAST(e.n_hashes AS DOUBLE)
                  ELSE CAST({KMV_NUMER!r} AS DOUBLE)
                       / CAST(e.h_k AS DOUBLE) END, 6) AS merged_est,
       round(CASE WHEN d.n_hashes < {KMV_K}
                  THEN CAST(d.n_hashes AS DOUBLE)
                  ELSE CAST({KMV_NUMER!r} AS DOUBLE)
                       / CAST(d.h_k AS DOUBLE) END, 6) AS direct_est,
       e.n_hashes,
       (e.n_hashes = d.n_hashes AND e.h_k = d.h_k) AS merge_exact
FROM est e JOIN direct d USING (grp)
""")
def kmv_merge_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-merge contract, demonstrated and gated: build KMV
    states independently over two disjoint halves of events (even/odd
    event_id — the per-partition / per-day build a 100 TB deployment
    runs), merge by union + re-truncate-to-k, and estimate — next to
    the single-pass estimate over the whole table.  ``merge_exact``
    asserts state-level equality (the k smallest of the union of
    per-part k-smallest sets are the k smallest of the whole), which is
    WHY sketch aggregation parallelizes: partial states combine
    losslessly, so distinct-counting 100 TB never needs a global
    distinct.  See operators/sketches.py:kmv_merge_states."""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select("event_id", "event_type",
                      F.col("user_id").cast("string").alias("u"))
    s0 = sketches.kmv_state(
        keyed.where(F.col("event_id") % 2 == 0), "event_type", "u")
    s1 = sketches.kmv_state(
        keyed.where(F.col("event_id") % 2 == 1), "event_type", "u")
    merged_state = sketches.kmv_merge_states(s0, s1)
    merged = (sketches.kmv_estimate(merged_state, "event_type")
              .withColumnRenamed("kmv_est", "merged_est"))
    m_hk = (merged_state.groupBy("grp")
            .agg(F.max("h").alias("m_hk"))
            .withColumnRenamed("grp", "event_type"))
    direct_state = sketches.kmv_state(keyed, "event_type", "u")
    direct = (sketches.kmv_estimate(direct_state, "event_type")
              .select(F.col("event_type"),
                      F.col("kmv_est").alias("direct_est"),
                      F.col("n_hashes").alias("d_n")))
    d_hk = (direct_state.groupBy("grp")
            .agg(F.max("h").alias("d_hk"))
            .withColumnRenamed("grp", "event_type"))
    return (merged.join(direct, "event_type")
            .join(m_hk, "event_type").join(d_hk, "event_type")
            .select("event_type",
                    F.round("merged_est", 6).alias("merged_est"),
                    F.round("direct_est", 6).alias("direct_est"),
                    "n_hashes",
                    ((F.col("n_hashes") == F.col("d_n"))
                     & (F.col("m_hk") == F.col("d_hk")))
                    .alias("merge_exact")))


# ---------------------------------------------------------------------------
# HyperLogLog: fixed-size register states, merge-by-max, windowed rollup.

# DuckDB twin of sketches.hll_state's per-key (idx, rho) projection over
# a 48-bit md5-prefix hash column ``h``.
_HLL_IDX_SQL = f"h // {HLL_REST_MOD}"
_HLL_RHO_SQL = (f"CASE WHEN h % {HLL_REST_MOD} = 0 THEN {HLL_MAX_RHO} "
                f"ELSE {HLL_MAX_RHO} - length(bin(h % {HLL_REST_MOD})) END")
# DuckDB twin of sketches.hll_estimate's aggregate over registers ``r``:
# absent registers contribute 2^0 = 1 each.
_HLL_EST_SQL = (f"CAST({HLL_NUMER!r} AS DOUBLE) / "
                f"(sum(1.0 / CAST(CAST(1 AS BIGINT) << r AS DOUBLE)) "
                f"+ CAST({HLL_M} - count(*) AS DOUBLE))")


def _hll_hash_sql(key_expr: str) -> str:
    """DuckDB twin of sketches.kmv_hash (48-bit md5-prefix)."""
    return (f"CAST('0x' || substr(md5({key_expr}), 1, "
            f"{KMV_HEX_DIGITS}) AS BIGINT)")


# Shared by the batch query below and the STREAMING build of the same
# registers (suite/streaming_q.py:stream_hll_distinct_users): both must
# equal this exact register-level answer.
HLL_DISTINCT_USERS_SQL = f"""
WITH h AS (
    SELECT event_type AS grp,
           {_hll_hash_sql("CAST(user_id AS VARCHAR)")} AS h
    FROM events),
st AS (
    SELECT grp, {_HLL_IDX_SQL} AS idx, max({_HLL_RHO_SQL}) AS r
    FROM h GROUP BY grp, idx),
est AS (
    SELECT grp, {_HLL_EST_SQL} AS hll_est,
           CAST(count(*) AS BIGINT) AS registers_used
    FROM st GROUP BY grp),
ex AS (SELECT event_type AS grp,
              CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
       FROM events GROUP BY event_type)
SELECT est.grp AS event_type, round(est.hll_est, 6) AS hll_est,
       est.registers_used, ex.exact_distinct
FROM est JOIN ex USING (grp)
"""


@register("hll_distinct_users", HLL_DISTINCT_USERS_SQL)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via HyperLogLog ({HLL_M} registers,
    deterministic md5 build) next to the exact answer.  The per-group
    state is a FIXED ~1 KiB register array — the bounded-state property
    behind Spark's own approx_count_distinct — built with one map-side
    partial-max aggregate whose shuffle width is the group x register
    grid, never the user cardinality.  The oracle rebuilds every
    register, so the estimate's error is itself gated.
    See operators/sketches.py:hll_state."""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select("event_type",
                      F.col("user_id").cast("string").alias("u"))
    est = sketches.hll_estimate(
        sketches.hll_state(keyed, "event_type", "u"), "event_type")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    return (est.withColumn("hll_est", F.round("hll_est", 6))
            .join(exact, "event_type")
            .select("event_type", "hll_est", "registers_used",
                    "exact_distinct"))


_HLL_STATE_SQL = f"""
    SELECT grp, {_HLL_IDX_SQL} AS idx, max({_HLL_RHO_SQL}) AS r
    FROM (SELECT event_type AS grp,
                 {_hll_hash_sql("CAST(user_id AS VARCHAR)")} AS h
          FROM events WHERE event_id % 2 = {{par}})
    GROUP BY grp, idx"""


@register("hll_merge_equivalence", f"""
WITH s0 AS ({_HLL_STATE_SQL.format(par=0)}),
s1 AS ({_HLL_STATE_SQL.format(par=1)}),
m AS (SELECT grp, idx, max(r) AS r
      FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1)
      GROUP BY grp, idx),
d AS (
    SELECT grp, {_HLL_IDX_SQL} AS idx, max({_HLL_RHO_SQL}) AS r
    FROM (SELECT event_type AS grp,
                 {_hll_hash_sql("CAST(user_id AS VARCHAR)")} AS h
          FROM events)
    GROUP BY grp, idx),
mm AS (
    SELECT COALESCE(m.grp, d.grp) AS grp,
           CAST(count(*) FILTER (
               WHERE m.r IS DISTINCT FROM d.r) AS BIGINT) AS n_mismatch
    FROM m FULL JOIN d ON m.grp = d.grp AND m.idx = d.idx
    GROUP BY 1),
me AS (SELECT grp, {_HLL_EST_SQL} AS est FROM m GROUP BY grp),
de AS (SELECT grp, {_HLL_EST_SQL} AS est FROM d GROUP BY grp)
SELECT me.grp AS event_type,
       round(me.est, 6) AS merged_est,
       round(de.est, 6) AS direct_est,
       (mm.n_mismatch = 0) AS merge_exact
FROM me JOIN de USING (grp) JOIN mm USING (grp)
""")
def hll_merge_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL merge contract, demonstrated and gated: register states
    built independently over two disjoint halves of events merge by
    elementwise max into EXACTLY the single-pass state (max is
    associative/commutative/idempotent) — ``merge_exact`` asserts
    register-level equality via a full outer join of the two states.
    This losslessness is why HLL distinct-counting parallelizes over
    100 TB with no global distinct: per-partition 1 KiB states fold in
    any order, any grouping.  See operators/sketches.py:
    hll_merge_states; the KMV analog is kmv_merge_equivalence."""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select("event_id", "event_type",
                      F.col("user_id").cast("string").alias("u"))
    s0 = sketches.hll_state(
        keyed.where(F.col("event_id") % 2 == 0), "event_type", "u")
    s1 = sketches.hll_state(
        keyed.where(F.col("event_id") % 2 == 1), "event_type", "u")
    merged_state = sketches.hll_merge_states(s0, s1)
    direct_state = sketches.hll_state(keyed, "event_type", "u")
    mism = (merged_state.select("grp", "idx", F.col("r").alias("mr"))
            .join(direct_state.select("grp", "idx", F.col("r").alias("dr")),
                  ["grp", "idx"], "full_outer")
            .groupBy("grp")
            .agg(F.sum((~F.col("mr").eqNullSafe(F.col("dr")))
                       .cast("long")).alias("n_mismatch")))
    merged = sketches.hll_estimate(merged_state, "event_type") \
        .select("event_type", F.round("hll_est", 6).alias("merged_est"))
    direct = sketches.hll_estimate(direct_state, "event_type") \
        .select("event_type", F.round("hll_est", 6).alias("direct_est"))
    return (merged.join(direct, "event_type")
            .join(mism.withColumnRenamed("grp", "event_type"),
                  "event_type")
            .select("event_type", "merged_est", "direct_est",
                    (F.col("n_mismatch") == 0).alias("merge_exact")))


@register("hll_hourly_rollup_daily", f"""
WITH h AS (
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS grp,
           {_hll_hash_sql("CAST(user_id AS VARCHAR)")} AS h
    FROM events),
st AS (
    SELECT grp, {_HLL_IDX_SQL} AS idx, max({_HLL_RHO_SQL}) AS r
    FROM h GROUP BY grp, idx),
est AS (
    SELECT grp, {_HLL_EST_SQL} AS hll_est,
           CAST(count(*) AS BIGINT) AS registers_used
    FROM st GROUP BY grp),
ex AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS grp,
              CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
       FROM events GROUP BY 1)
SELECT est.grp AS day, round(est.hll_est, 6) AS hll_est,
       est.registers_used, ex.exact_distinct
FROM est JOIN ex USING (grp)
""")
def hll_hourly_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch ROLLUP: HLL register states are built once at HOURLY
    granularity, then daily distinct-user estimates are produced by
    re-merging the stored hourly states (elementwise max) — the raw
    events are scanned exactly once.  This is the 100 TB reporting
    pattern sketches exist for: persist fine-grained states, answer any
    coarser window by folding states instead of rescanning the fact
    table.  The oracle computes the DAILY registers directly from the
    raw rows, so the hash match PROVES the hourly->daily rollup is
    lossless (max-associativity), the same contract
    hll_merge_equivalence gates per-register."""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        F.date_format(F.date_trunc("hour", "ts"),
                      "yyyy-MM-dd HH:mm:ss").alias("hr"),
        F.col("user_id").cast("string").alias("u"))
    hourly = sketches.hll_state(keyed, "hr", "u")
    daily_state = (hourly
                   .select(F.substring("grp", 1, 10).alias("grp"),
                           "idx", "r")
                   .groupBy("grp", "idx").agg(F.max("r").alias("r")))
    est = sketches.hll_estimate(daily_state, "day")
    exact = (ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
             .agg(F.countDistinct("user_id").cast("long")
                  .alias("exact_distinct")))
    return (est.withColumn("hll_est", F.round("hll_est", 6))
            .join(exact, "day")
            .select("day", "hll_est", "registers_used", "exact_distinct"))


# Bloom semi-join reduction: the dimension-side predicate that qualifies
# orders whose lineitems we want (selective: one year x one priority).
SEMI_YEAR = 1994
SEMI_PRIORITY = "1-URGENT"

_SEMI_ORDERS = (f"SELECT o_orderkey FROM orders "
                f"WHERE year(CAST(o_orderdate AS DATE)) = {SEMI_YEAR} "
                f"AND o_orderpriority = '{SEMI_PRIORITY}'")


@register("bloom_semijoin_reduction", f"""
WITH q AS ({_SEMI_ORDERS}),
seeds AS (SELECT unnest(generate_series(0, {BLOOM_K - 1})) AS s),
bits AS (SELECT DISTINCT
             {_bloom_pos_sql("CAST(o_orderkey AS VARCHAR)", 's')} AS pos
         FROM q, seeds),
probe AS (
    SELECT l.l_orderkey, l.l_extendedprice,
           (SELECT count(*) FROM seeds
            WHERE {_bloom_pos_sql("CAST(l.l_orderkey AS VARCHAR)", 'seeds.s')}
                  IN (SELECT pos FROM bits)) = {BLOOM_K} AS bloom_pass,
           EXISTS (SELECT 1 FROM q WHERE q.o_orderkey = l.l_orderkey)
               AS true_match
    FROM lineitem l)
SELECT CAST(count(*) AS BIGINT) AS n_probe_rows,
       CAST(count(*) FILTER (WHERE bloom_pass) AS BIGINT) AS n_pass_bloom,
       CAST(count(*) FILTER (WHERE true_match) AS BIGINT) AS n_true_match,
       CAST(count(*) FILTER (WHERE bloom_pass AND NOT true_match)
            AS BIGINT) AS bloom_fp,
       CAST(count(*) FILTER (WHERE bloom_pass) * 10000 // count(*)
            AS BIGINT) AS pass_share_bp,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                FILTER (WHERE true_match) AS DOUBLE) AS matched_revenue
FROM probe
""")
def bloom_semijoin_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom SEMI-JOIN reduction — the runtime-filter pattern engines
    push into scans: qualified orders ({SEMI_YEAR} x {SEMI_PRIORITY})
    fold into an 8 KiB bitmap literal, and the lineitem probe becomes
    whole-stage-codegen'd bit arithmetic ON THE SCAN, discarding ~97%
    of probe rows before any exchange — at 100 TB this is the
    difference between shuffling the full fact table into a join and
    shuffling 3% of it.  No false negatives (every true match passes —
    the bitmap sets all its keys' bits), so prefilter+join == join; the
    false-pass count prices the filter's size, and the matched revenue
    (exact DECIMAL sum) gates end-to-end value correctness.  Same
    collected-sketch rationale as bloom_decontamination: the bitmap is
    bounded by m, never by data volume."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    qualified = (orders
                 .where((F.year(F.col("o_orderdate").cast("date"))
                         == SEMI_YEAR)
                        & (F.col("o_orderpriority") == SEMI_PRIORITY))
                 .select("o_orderkey").distinct())
    bitmap = sketches.bloom_bitmap(sketches.bloom_build(
        qualified.select(F.col("o_orderkey").cast("string").alias("key"))))
    from gcp_serverless_mapreduce_spark.tables import spread_small_scan

    # Spread the projected probe columns (guarded, plan-time no-op at
    # scale): the k md5 probes per row are the CPU-heavy stage and the
    # fixture scan yields 3 tasks on 32 cores; projecting FIRST keeps the
    # spread exchange to the two columns the probe needs (guide §2.3).
    probe = (spread_small_scan(li.select("l_orderkey", "l_extendedprice"))
             .withColumn("bloom_pass", sketches.bloom_hit_expr(
                 F.col("l_orderkey").cast("string"), bitmap))
             .join(F.broadcast(qualified.withColumn("_m", F.lit(1))),
                   li.l_orderkey == qualified.o_orderkey, "left")
             .withColumn("true_match", F.col("_m").isNotNull()))
    return probe.agg(
        F.count(F.lit(1)).alias("n_probe_rows"),
        F.sum(F.col("bloom_pass").cast("long")).alias("n_pass_bloom"),
        F.sum(F.col("true_match").cast("long")).alias("n_true_match"),
        F.sum((F.col("bloom_pass") & ~F.col("true_match")).cast("long"))
        .alias("bloom_fp"),
        F.floor(F.sum(F.col("bloom_pass").cast("long")) * 10000
                / F.count(F.lit(1))).cast("long").alias("pass_share_bp"),
        F.sum(F.when(F.col("true_match"),
                     F.col("l_extendedprice").cast("decimal(18,2)")))
        .cast("double").alias("matched_revenue"))
