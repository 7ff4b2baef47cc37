"""Dedup queries over ``documents``/``embeddings`` with DuckDB oracle twins.

The SQL mirrors operators/dedup.py stage for stage; all hashing is md5 so
hex strings agree byte-for-byte across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup
from ..registry import register
from ..tables import load_table

NUM_PERM = 8
BANDS = 4
ROWS_PER_BAND = 2
# Hot-bucket guard for the LSH pair join: at most this many docs per
# (band, band_hash) bucket enter pair generation (smallest doc ids kept).
# Far above any fixture bucket (results unchanged at sf<=0.1); bounds the
# degenerate boilerplate-corpus bucket at O(cap^2) instead of O(m^2).
MAX_BUCKET = 64
JACCARD_THRESHOLD = 0.8
# Document-frequency cap for the exact-Jaccard inverted-index join: shingles
# in more than this many docs are dropped from the intersection side (the
# denominators keep true set sizes).  Same spirit as MAX_BUCKET — far above
# any fixture df (results unchanged at sf<=0.1), bounds a boilerplate
# shingle's pair blow-up at O(cap^2) instead of O(m^2).
JACCARD_DF_MAX = 128
COSINE_THRESHOLD = 0.40  # fixture embeddings are random; max within-label pair cos ~0.47

# ---- shared SQL fragments -------------------------------------------------

# (doc, shingle) distinct 3-word shingles; [i:i+2] is DuckDB's 1-based
# inclusive slice = 3 elements = Spark's slice(t, i, 3).
_SH_CTE = """
WITH toks AS (
    SELECT doc_id AS doc, string_split_regex(trim(lower(text)), '\\s+') AS t
    FROM documents),
sh AS (
    SELECT DISTINCT doc,
           unnest(list_transform(generate_series(1, len(t) - 2),
                                 i -> array_to_string(t[i:i+2], ' '))) AS shingle
    FROM toks)
"""

_MH_COLS = ", ".join(
    f"min(md5('{s}|' || shingle)) AS mh_{s}" for s in range(NUM_PERM))
_SIG_CTE = _SH_CTE + f""",
sig AS (SELECT doc, {_MH_COLS} FROM sh GROUP BY doc)
"""

_BANDED_SELECTS = " UNION ALL ".join(
    f"SELECT doc, {b} AS band, "
    f"md5(mh_{b * ROWS_PER_BAND} || '|' || mh_{b * ROWS_PER_BAND + 1}) AS band_hash "
    f"FROM sig"
    for b in range(BANDS))


@register("exact_dedup_groups", """
SELECT md5(text) AS content_hash,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS canonical_doc_id
FROM documents
GROUP BY md5(text)
""")
def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content; canonical = min doc_id.
    At 100 TB: one shuffle on the 128-bit hash, near-uniform keys."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.count("*").alias("n_docs"),
             F.min("doc_id").alias("canonical_doc_id"))
    )


@register("minhash_signatures", _SIG_CTE + f"""
SELECT doc AS doc_id, {', '.join(f'mh_{s}' for s in range(NUM_PERM))}
FROM sig
""")
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature (md5-salted permutations, hex-string min).
    Pins the shingle->signature computation cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, NUM_PERM)
    return sig.withColumnRenamed("doc", "doc_id")


@register("minhash_lsh_candidates", _SIG_CTE + f""",
banded_all AS ({_BANDED_SELECTS}),
banded AS (
    SELECT doc, band, band_hash FROM banded_all
    QUALIFY row_number() OVER (PARTITION BY band, band_hash ORDER BY doc)
            <= {MAX_BUCKET})
SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_shared_bands
FROM banded a JOIN banded b
  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc < b.doc
GROUP BY 1, 2
""")
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates: band-hash equi-join (shuffle on the
    band hash; sparse — never O(n^2)), hot buckets capped at {MAX_BUCKET}
    members (mirrored in the oracle's QUALIFY)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, NUM_PERM)
    return dedup.lsh_candidate_pairs(sig, BANDS, ROWS_PER_BAND,
                                     max_bucket=MAX_BUCKET)


@register("ngram_jaccard_dups", _SH_CTE + f""",
sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
shc AS (
    SELECT doc, shingle FROM sh
    QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {JACCARD_DF_MAX}),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
    FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2)
SELECT doc_a, doc_b,
       n_common / (ca.n + cb.n - n_common) AS jaccard
FROM inter JOIN sizes ca ON ca.doc = doc_a
           JOIN sizes cb ON cb.doc = doc_b
WHERE n_common / (ca.n + cb.n - n_common) >= {JACCARD_THRESHOLD}
""")
def ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard >= 0.8 via inverted-index join (ratio of exact
    integers — deterministic cross-engine)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(docs, JACCARD_THRESHOLD, df_max=JACCARD_DF_MAX)


@register("jaccard_prefix_dups", _SH_CTE + f""",
sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2)
SELECT doc_a, doc_b,
       n_common / (ca.n + cb.n - n_common) AS jaccard
FROM inter JOIN sizes ca ON ca.doc = doc_a
           JOIN sizes cb ON cb.doc = doc_b
WHERE n_common / (ca.n + cb.n - n_common) >= {JACCARD_THRESHOLD}
""")
def jaccard_prefix_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= {JACCARD_THRESHOLD} via prefix filtering (SSJoin /
    All-Pairs): candidates only where two docs share a shingle inside
    their rarest-first prefixes, then exact array-intersect verification.
    Same result set as the UNCAPPED inverted-index join — the oracle here
    is the plain exhaustive SQL, which is the point: prefix filtering is
    the lossless 100 TB answer where ``ngram_jaccard_dups``'s df cap is
    the bounded approximation (see operators/dedup.py:
    jaccard_pairs_prefix for the completeness argument)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_pairs_prefix(docs, JACCARD_THRESHOLD)


@register("shingle_novelty_scores", _SH_CTE + """,
first AS (SELECT shingle, MIN(doc) AS first_doc FROM sh GROUP BY shingle)
SELECT sh.doc AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN first.first_doc = sh.doc THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(CAST(SUM(CASE WHEN first.first_doc = sh.doc THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
FROM sh JOIN first USING (shingle)
GROUP BY sh.doc
""")
def shingle_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc shingle novelty (share of the doc's distinct 3-shingles
    first seen in THIS doc, by smallest doc id) — the cheap
    boilerplate/staleness signal a crawl pipeline scores before any
    pairwise dedup.  Inverted-index min-agg + join: a hot shingle costs
    m rows, never m^2, so no df cap is even needed.  See
    operators/dedup.py:shingle_novelty."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.shingle_novelty(docs)


# The LSH candidate-pair set as a reusable fragment (same text as the
# minhash_lsh_candidates oracle, minus the final aggregate's aliasing).
_PAIRS_CTE = _SIG_CTE + f""",
banded_all AS ({_BANDED_SELECTS}),
banded AS (
    SELECT doc, band, band_hash FROM banded_all
    QUALIFY row_number() OVER (PARTITION BY band, band_hash ORDER BY doc)
            <= {MAX_BUCKET}),
pairs AS (
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc < b.doc)
"""

# Connected components over the LSH ``pairs`` CTE, shared by the four
# cluster-consuming oracles (dup_clusters, dedup_resolution_by_source,
# leakage_safe_split_counts, dup_cluster_representatives): symmetric
# edges + recursive reachability; MIN(r) per doc is the cluster label.
# Compose as "WITH RECURSIVE " + _PAIRS_CTE.lstrip().removeprefix("WITH ")
# + _CC_CTE + <query-specific CTEs/SELECT>.
_CC_CTE = """,
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs),
reach(doc, r) AS (
    SELECT src, src FROM edges
    UNION
    SELECT e.src, reach.r FROM reach JOIN edges e ON e.dst = reach.doc)"""


@register("lsh_candidate_precision", _PAIRS_CTE + f""",
sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
shc AS (
    SELECT doc, shingle FROM sh
    QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {JACCARD_DF_MAX}),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
    FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2),
truth AS (
    SELECT doc_a, doc_b
    FROM inter JOIN sizes ca ON ca.doc = doc_a
               JOIN sizes cb ON cb.doc = doc_b
    WHERE n_common / (ca.n + cb.n - n_common) >= {JACCARD_THRESHOLD}),
caught AS (SELECT doc_a, doc_b FROM pairs
           INTERSECT SELECT doc_a, doc_b FROM truth),
m AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_candidates,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM caught) AS n_caught)
SELECT n_candidates, n_true, n_caught,
       CASE WHEN n_candidates > 0
            THEN round(CAST(n_caught AS DOUBLE)
                       / CAST(n_candidates AS DOUBLE), 6) END
         AS lsh_precision,
       CASE WHEN n_true > 0
            THEN round(CAST(n_caught AS DOUBLE)
                       / CAST(n_true AS DOUBLE), 6) END AS lsh_recall
FROM m
""")
def lsh_candidate_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality EVAL (the near-dup analog of ann_recall_eval): how
    well do the banded MinHash-LSH candidates approximate the exact
    Jaccard >= {JACCARD_THRESHOLD} truth set?  One row: candidate/truth/
    intersection counts plus precision and recall, all from the SAME
    capped generators the production queries use, so the reported
    numbers are the deployed configuration's, not an idealization.
    Scale: both pair sets are the bucketed/bounded joins already
    audited; the comparison itself is a pair-keyed join + three scalar
    counts."""
    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, NUM_PERM)
    # Each pair frame feeds BOTH its own count and the intersection
    # join, and deliberately WITHOUT localCheckpoint: the round-6
    # checkpoint variant cut the printed plan 27 -> 7 exchanges but an
    # alternated one-JVM A/B at sf0.1 (round 9) measured it ~40% SLOWER
    # (3.9-5.5 s vs 2.4-2.5 s) — the two materialization barriers
    # serialize pipelines the scheduler otherwise overlaps, and the
    # replayed shingle/minhash stages are cheap.  Exchange count is a
    # proxy; wall time decides.
    cand = dedup.lsh_candidate_pairs(
        sig, BANDS, ROWS_PER_BAND,
        max_bucket=MAX_BUCKET).select("doc_a", "doc_b")
    truth = dedup.jaccard_pairs(
        docs, JACCARD_THRESHOLD,
        df_max=JACCARD_DF_MAX).select("doc_a", "doc_b")
    caught = cand.join(truth, ["doc_a", "doc_b"])
    m = (cand.agg(F.count(F.lit(1)).alias("n_candidates"))
         .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_true")))
         .crossJoin(caught.agg(F.count(F.lit(1)).alias("n_caught"))))
    return m.select(
        "n_candidates", "n_true", "n_caught",
        F.when(F.col("n_candidates") > 0,
               F.round(F.col("n_caught").cast("double")
                       / F.col("n_candidates").cast("double"), 6))
        .alias("lsh_precision"),
        F.when(F.col("n_true") > 0,
               F.round(F.col("n_caught").cast("double")
                       / F.col("n_true").cast("double"), 6))
        .alias("lsh_recall"))


_MH_EQ = " + ".join(
    f"(CASE WHEN sa.mh_{s} = sb.mh_{s} THEN 1 ELSE 0 END)"
    for s in range(NUM_PERM))


@register("minhash_estimate_error", _PAIRS_CTE + f""",
sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
shc AS (
    SELECT doc, shingle FROM sh
    QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {JACCARD_DF_MAX}),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
    FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2),
ex AS (
    SELECT doc_a, doc_b,
           CAST(n_common AS DOUBLE)
           / CAST(ca.n + cb.n - n_common AS DOUBLE) AS jacc
    FROM inter JOIN sizes ca ON ca.doc = doc_a
               JOIN sizes cb ON cb.doc = doc_b)
SELECT p.doc_a, p.doc_b,
       round(CAST({_MH_EQ} AS DOUBLE) / CAST({NUM_PERM} AS DOUBLE), 6)
         AS est_jaccard,
       round(COALESCE(ex.jacc, CAST(0.0 AS DOUBLE)), 6) AS jaccard,
       round(abs(CAST({_MH_EQ} AS DOUBLE) / CAST({NUM_PERM} AS DOUBLE)
                 - COALESCE(ex.jacc, CAST(0.0 AS DOUBLE))), 6) AS abs_err
FROM pairs p
JOIN sig sa ON sa.doc = p.doc_a
JOIN sig sb ON sb.doc = p.doc_b
LEFT JOIN ex ON ex.doc_a = p.doc_a AND ex.doc_b = p.doc_b
""")
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR calibration (completes the dedup eval loop next
    to lsh_candidate_precision, which grades candidacy): for every LSH
    candidate pair, the signature-agreement Jaccard estimate
    (matching components / {NUM_PERM}) against the exact shingle-set
    Jaccard and their absolute error — the number that tells you
    whether {NUM_PERM} permutations suffice before scaling a corpus.
    Pairs with no shared df-capped shingle score exact 0.  Scale: the
    candidate set is the bounded band join; signatures join back by doc
    id; the exact side is the df-capped inverted index — all three
    already-audited shapes."""
    docs = load_table(spark, sf_dir, "documents")
    # sig has THREE consumers (band join + both signature join sides)
    # and NO checkpoint — deliberately, unlike lsh_candidate_precision:
    # A/B at sf0.1 measured the localCheckpoint variant ~45% SLOWER
    # (3.5-4.0 s vs 2.4-2.6 s, alternated in one JVM) because the
    # materialization barrier serializes what the planner otherwise
    # runs as parallel stages; the 14-exchange plan's recomputes are
    # cheaper than the barrier at this shape.
    sig = dedup.minhash_signatures(docs, NUM_PERM)
    cand = dedup.lsh_candidate_pairs(
        sig, BANDS, ROWS_PER_BAND,
        max_bucket=MAX_BUCKET).select("doc_a", "doc_b")
    sa = sig.select(F.col("doc").alias("doc_a"),
                    *[F.col(f"mh_{s}").alias(f"a_mh_{s}")
                      for s in range(NUM_PERM)])
    sb = sig.select(F.col("doc").alias("doc_b"),
                    *[F.col(f"mh_{s}").alias(f"b_mh_{s}")
                      for s in range(NUM_PERM)])
    n_eq = sum((F.col(f"a_mh_{s}") == F.col(f"b_mh_{s}")).cast("int")
               for s in range(NUM_PERM))
    exact = (dedup.jaccard_pairs(docs, threshold=0.0,
                                 df_max=JACCARD_DF_MAX)
             .select("doc_a", "doc_b", F.col("jaccard").alias("jacc")))
    est = F.col("n_eq").cast("double") / F.lit(NUM_PERM).cast("double")
    ex = F.coalesce(F.col("jacc"), F.lit(0.0))
    return (cand.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("n_eq", n_eq)
            .join(exact, ["doc_a", "doc_b"], "left")
            .select("doc_a", "doc_b",
                    F.round(est, 6).alias("est_jaccard"),
                    F.round(ex, 6).alias("jaccard"),
                    F.round(F.abs(est - ex), 6).alias("abs_err")))


@register("dup_clusters", "WITH RECURSIVE "
          + _PAIRS_CTE.lstrip().removeprefix("WITH ") + _CC_CTE + """
SELECT doc AS doc_id, MIN(r) AS cluster_id
FROM reach GROUP BY doc
""")
def dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the LSH candidate
    graph (hash-min label propagation; cluster_id = min reachable doc id
    — the doc a dedup pipeline keeps).  The oracle computes the same
    components with a recursive transitive closure; the Spark side is the
    iterative join/agg fixpoint that scales (see operators/dedup.py:
    dup_clusters)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, NUM_PERM)
    pairs = dedup.lsh_candidate_pairs(sig, BANDS, ROWS_PER_BAND,
                                      max_bucket=MAX_BUCKET)
    return dedup.dup_clusters(pairs)


@register("dup_clusters_diagnostics", "WITH RECURSIVE "
          + _PAIRS_CTE.lstrip().removeprefix("WITH ") + """,
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM pairs),
m AS (SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes FROM edges)
SELECT n_nodes,
       CAST(CEIL(LOG2(GREATEST(n_nodes, 2))) + 8 AS BIGINT) AS cap,
       CAST(1 AS BIGINT) AS rounds_within_cap,
       CAST(1 AS BIGINT) AS converged
FROM m
""")
def dup_clusters_diagnostics(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """One-row run diagnostic of the connected-components fixpoint
    (round-13 verdict task 6): a production dedup job should EMIT the
    iteration telemetry operators/dedup.dup_clusters records in
    CC_STATS, not bury it in a module dict — a cluster pass that edges
    toward its adaptive cap (graph diameter creeping up as a 100 TB
    corpus accretes near-dup chains) must be observable before it
    becomes a RuntimeError.

    -> (n_nodes, cap, rounds_within_cap, converged): node count of the
    LSH candidate graph, the adaptive round cap ceil(log2 n)+8 it
    implies, and two 0/1 invariant flags.  n_nodes and cap are exactly
    reproducible by the oracle from the pair graph; rounds_within_cap
    and converged are structural postconditions (dup_clusters raises
    rather than returning unconverged labels, so a green row proves the
    run ended inside the bound).  The raw measured round count is
    asserted exactly in tests (rounds == ceil(log2 n) on a path graph —
    the doubling worst case)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, NUM_PERM)
    pairs = dedup.lsh_candidate_pairs(sig, BANDS, ROWS_PER_BAND,
                                      max_bucket=MAX_BUCKET)
    dedup.dup_clusters(pairs)  # runs the eager fixpoint; fills CC_STATS
    st = dedup.CC_STATS
    return spark.createDataFrame(
        [(int(st["n_nodes"]), int(st["cap"]),
          int(st["rounds"] <= st["cap"]), int(bool(st["converged"])))],
        "n_nodes long, cap long, rounds_within_cap long, converged long")


_SIMHASH_SUMS = ", ".join(
    f"SUM((((strpos('{dedup.HEX}', substr(m, {b // 4 + 1}, 1)) - 1) "
    f"// {2 ** (b % 4)}) % 2) * 2 - 1) AS s_{b}"
    for b in range(16))
_SIMHASH_VALUE = " + ".join(
    f"(CASE WHEN s_{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(16))


@register("simhash_fingerprints", f"""
WITH toks AS (
    SELECT DISTINCT doc_id AS doc,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
    FROM documents),
m AS (SELECT doc, md5(tok) AS m FROM toks WHERE tok <> ''),
sums AS (SELECT doc, {_SIMHASH_SUMS} FROM m GROUP BY doc)
SELECT doc, CAST({_SIMHASH_VALUE} AS BIGINT) AS simhash FROM sums
""")
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (sign of per-bit +-1 sums over token
    md5 bits) — near-dup docs land on nearby fingerprints."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash16(docs)


# ---- simhash banded near-dup ---------------------------------------------

NEAR_BITS = 60      # fits sum(bit * 2^b) in a signed long; 15 md5 nibbles
NEAR_BANDS = 4      # 15-bit bands -> 2^15 buckets per band
MAX_HAMMING = 3     # pigeonhole-guaranteed at bands - 1

_W = NEAR_BITS // NEAR_BANDS
_NEAR_SUMS = ", ".join(
    f"SUM((((strpos('{dedup.HEX}', substr(m, {b // 4 + 1}, 1)) - 1) "
    f"// {2 ** (b % 4)}) % 2) * 2 - 1) AS s_{b}"
    for b in range(NEAR_BITS))
_NEAR_VALUE = " + ".join(
    f"(CASE WHEN s_{b} > 0 THEN {2 ** b}::BIGINT ELSE 0::BIGINT END)"
    for b in range(NEAR_BITS))
_NEAR_BANDED = " UNION ALL ".join(
    f"SELECT doc, h, {b} AS band, (h >> {b * _W}) & {(1 << _W) - 1} AS bv "
    f"FROM fp"
    for b in range(NEAR_BANDS))


@register("simhash_near_dups", f"""
WITH toks AS (
    SELECT DISTINCT doc_id AS doc,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
    FROM documents),
m AS (SELECT doc, md5(tok) AS m FROM toks WHERE tok <> ''),
sums AS (SELECT doc, {_NEAR_SUMS} FROM m GROUP BY doc),
fp AS (SELECT doc, CAST({_NEAR_VALUE} AS BIGINT) AS h FROM sums),
banded AS ({_NEAR_BANDED}),
bcap AS (
    SELECT * FROM banded
    QUALIFY row_number() OVER (PARTITION BY band, bv
                               ORDER BY doc) <= {MAX_BUCKET}),
cand AS (
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b, a.h AS ha, b.h AS hb
    FROM bcap a JOIN bcap b
      ON a.band = b.band AND a.bv = b.bv AND a.doc < b.doc)
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= {MAX_HAMMING}
""")
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit fingerprints, banded pigeonhole join
    (4 x 15-bit bands; any pair within hamming {MAX_HAMMING} shares an
    exact band), exact bit_count(xor) re-check.  Shuffles only on the
    band value — the simhash analog of the MinHash-LSH candidate plan.
    Degenerate bands are CAPPED at {MAX_BUCKET} docs (smallest ids kept),
    the same contract as the LSH pair join, so an identical-fingerprint
    group under replica-heavy data cannot emit m^2/2 pairs (round 12
    measured 36x wall on 10x data uncapped).  Pairs can be missed under
    the cap, never invented."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_near_dups(docs, MAX_HAMMING, NEAR_BITS, NEAR_BANDS,
                                   max_bucket=MAX_BUCKET)


# ---- embedding near-dup ---------------------------------------------------

# Normalize BEFORE the pair join (similarity.unit_vectors): the join then
# evaluates one fold (the dot product) per pair instead of three.  Both
# engines fold left-to-right seeded 0.0, so sim agrees bit-for-bit.
_FOLD0 = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {terms}), "
          "(acc, x) -> acc + x)")
_NORM_SQL = "sqrt(" + _FOLD0.format(terms="list_transform(v, x -> x * x)") + ")"
_DOT_UNIT = _FOLD0.format(
    terms="list_transform(generate_series(1, 64), i -> a.u[i] * b.u[i])")


@register("embedding_near_dup_pairs", f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, label, v, {_NORM_SQL} AS nrm FROM e),
u AS (SELECT vec_id, label, list_transform(v, x -> x / nrm) AS u
      FROM n WHERE nrm <> 0)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({_DOT_UNIT}, 4) AS sim
FROM u a JOIN u b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_DOT_UNIT} >= {COSINE_THRESHOLD}
""")
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, blocked by label (the blocking key stands
    in for an IVF/LSH bucket at scale — pair join only within blocks)."""
    from ..operators.similarity import blocked_cosine_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return blocked_cosine_pairs(emb, "label", COSINE_THRESHOLD)


# SymSpell fuzzy-match gate: the fixture vocabulary is tiny word soup, so
# (same trick as the PII augmentation in curation_q) both engines
# synthesize the same "user handle" per doc — first token + '_' + id mod
# 200 — and the same deterministic one-char-deletion typo on every third
# doc.  The operator then has real work: map dirty handles back to the
# canonical dictionary at edit distance <= 1.
SYMSPELL_MAX_BUCKET = 64

@register("symspell_handle_match", f"""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                       x -> x <> '') AS toks
    FROM documents),
h AS (SELECT doc_id,
             toks[1] || '_' || CAST(doc_id % 200 AS VARCHAR) AS handle
      FROM t),
p AS (SELECT doc_id, handle,
             2 + doc_id % (len(handle) - 2) AS pos FROM h),
dd AS (SELECT doc_id,
              CASE WHEN doc_id % 3 = 0
                   THEN substr(handle, 1, pos - 1) || substr(handle, pos + 1)
                   ELSE handle END AS dirty
       FROM p),
qs AS (SELECT DISTINCT dirty FROM dd),
ds AS (SELECT DISTINCT handle FROM h),
qv AS (SELECT dirty AS q,
              unnest(list_distinct(list_prepend(dirty,
                  list_transform(generate_series(1, len(dirty)),
                      i -> substr(dirty, 1, i - 1) || substr(dirty, i + 1)))))
                  AS v
       FROM qs),
dv AS (SELECT handle AS d,
              unnest(list_distinct(list_prepend(handle,
                  list_transform(generate_series(1, len(handle)),
                      i -> substr(handle, 1, i - 1) || substr(handle, i + 1)))))
                  AS v
       FROM ds),
dvc AS (SELECT d, v FROM dv
        QUALIFY row_number() OVER (PARTITION BY v ORDER BY d)
                <= {SYMSPELL_MAX_BUCKET}),
cand AS (SELECT DISTINCT q, d FROM qv JOIN dvc USING (v)),
m AS (SELECT q, d, CAST(levenshtein(q, d) AS BIGINT) AS dist
      FROM cand WHERE levenshtein(q, d) <= 1),
n AS (SELECT dirty, COUNT(*) AS n_docs FROM dd GROUP BY dirty)
SELECT m.q AS dirty_handle, m.d AS matched_handle, m.dist,
       CAST(n.n_docs AS BIGINT) AS n_docs
FROM m JOIN n ON n.dirty = m.q
""")
def symspell_handle_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy vocabulary matching (SymSpell deletion-neighborhood join):
    deterministically typo'd handles mapped back to the canonical handle
    dictionary at Levenshtein distance <= 1 — candidates come from an
    equi-join on single-deletion variants (O(total variants) shuffle,
    hot variants capped at {SYMSPELL_MAX_BUCKET}), NEVER a quadratic
    levenshtein cross join."""
    from ..operators.textstats import tokens

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    handle = F.concat(F.element_at(tokens(F.col("text")), 1),
                      F.lit("_"), (did % 200).cast("string"))
    base = docs.select(did, handle.alias("handle"))
    pos = F.lit(2) + did % (F.length("handle") - 2)
    dirty = F.when(
        did % 3 == 0,
        F.concat(F.col("handle").substr(F.lit(1), pos - 1),
                 F.col("handle").substr(pos + 1, F.length("handle")))
    ).otherwise(F.col("handle"))
    dd = base.select(did, dirty.alias("dirty"))
    matches = dedup.symspell_matches(
        dd.select("dirty").distinct(),
        base.select("handle").distinct(),
        "dirty", "handle", max_bucket=SYMSPELL_MAX_BUCKET)
    counts = dd.groupBy("dirty").agg(F.count("*").alias("n_docs"))
    return (matches.join(counts, matches["q"] == counts["dirty"])
            .select(F.col("q").alias("dirty_handle"),
                    F.col("d").alias("matched_handle"),
                    "dist", "n_docs"))


@register("dedup_resolution_by_source", "WITH RECURSIVE "
          + _PAIRS_CTE.lstrip().removeprefix("WITH ") + _CC_CTE + """,
clusters AS (SELECT doc AS doc_id, MIN(r) AS cluster_id
             FROM reach GROUP BY doc),
labeled AS (
    SELECT d.doc_id, d.source, d.n_chars,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN clusters c USING (doc_id)),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY cluster_id
                                 ORDER BY n_chars DESC, doc_id) AS rk
    FROM labeled)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(*) FILTER (WHERE rk = 1) AS BIGINT) AS n_kept,
       CAST(SUM(n_chars) FILTER (WHERE rk = 1) AS BIGINT) AS kept_chars
FROM ranked GROUP BY source
""")
def dedup_resolution_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's RESOLUTION step: after LSH candidate pairs
    and connected-component clustering, keep one representative per
    cluster — the longest document (ties to the smallest doc_id), the
    usual "best quality wins" retention policy — and account kept vs
    total per source.  Completes the near-dup story: signatures →
    candidates → clusters → *resolved corpus*.

    Scale: singleton docs never enter the cluster frame (left join +
    coalesce to self), so the expensive structure stays proportional to
    the DUPLICATED subset; the keep-rank window shuffles on cluster_id,
    whose groups are near-dup cluster sized (bounded by the LSH caps),
    never corpus sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, NUM_PERM)
    pairs = dedup.lsh_candidate_pairs(sig, BANDS, ROWS_PER_BAND,
                                      max_bucket=MAX_BUCKET)
    clusters = dedup.dup_clusters(pairs)
    labeled = (docs.select("doc_id", "source", "n_chars")
               .join(clusters, "doc_id", "left")
               .withColumn("cluster_id",
                           F.coalesce("cluster_id", "doc_id")))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id"))
    kept = F.col("rk") == 1
    return (labeled.withColumn("rk", F.row_number().over(w))
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(kept.cast("long")).alias("n_kept"),
                 F.sum(F.when(kept, F.col("n_chars"))).alias("kept_chars")))


CONTAINMENT_THRESHOLD = 0.9


@register("containment_dups", _SH_CTE + f""",
sizes AS (SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc <> b.doc
    GROUP BY 1, 2)
SELECT doc_a, doc_b, n_common / ca.n AS containment
FROM inter JOIN sizes ca ON ca.doc = doc_a
WHERE n_common / ca.n >= {CONTAINMENT_THRESHOLD}
""")
def containment_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED near-containment pairs (C(A→B) = |A∩B|/|A| >=
    {CONTAINMENT_THRESHOLD}) — quote/subset detection, which Jaccard's
    union denominator misses for short-inside-long pairs.  Exact via
    one-sided prefix filtering (rarest-first probe side); the oracle is
    the plain exhaustive inverted-index SQL.  See operators/dedup.py:
    containment_pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.containment_pairs(docs, CONTAINMENT_THRESHOLD)


@register("leakage_safe_split_counts", "WITH RECURSIVE "
          + _PAIRS_CTE.lstrip().removeprefix("WITH ") + _CC_CTE + """,
clusters AS (SELECT doc, MIN(r) AS cluster_id FROM reach GROUP BY doc),
assigned AS (
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS rep,
           c.doc IS NOT NULL AS clustered
    FROM documents d LEFT JOIN clusters c ON c.doc = d.doc_id),
s AS (
    SELECT doc_id, clustered,
           CASE WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 2) < 'e6'
                    THEN 'train'
                WHEN substr(md5(CAST(rep AS VARCHAR)), 1, 2) < 'f3'
                    THEN 'val'
                ELSE 'test' END AS split
    FROM assigned)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN clustered THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clustered,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM s GROUP BY split
""")
def leakage_safe_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-AWARE train/val/test split: a document's split follows the
    md5 of its near-dup CLUSTER representative (min doc id of its LSH
    connected component; singletons use their own id), so near-duplicate
    documents can never straddle the train/test boundary — the leakage
    mode a plain per-doc hash split (``dataset_split_counts``) permits.
    Spark side: dup_clusters' pointer-doubling CC + one left join + the
    same md5 hex-range rule; the oracle recomputes the components as a
    recursive transitive closure."""
    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, NUM_PERM)
    pairs = dedup.lsh_candidate_pairs(sig, BANDS, ROWS_PER_BAND,
                                      max_bucket=MAX_BUCKET)
    clusters = dedup.dup_clusters(pairs)
    assigned = (docs.select("doc_id")
                .join(clusters, "doc_id", "left")
                .select("doc_id",
                        F.coalesce("cluster_id", "doc_id").alias("rep"),
                        F.col("cluster_id").isNotNull().alias("clustered")))
    h2 = F.substring(F.md5(F.col("rep").cast("string")), 1, 2)
    split = (F.when(h2 < "e6", "train")
             .when(h2 < "f3", "val")
             .otherwise("test"))
    return (assigned
            .select(split.alias("split"), "doc_id", "clustered")
            .groupBy("split")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(F.col("clustered").cast("int")).cast("long")
                 .alias("n_clustered"),
                 F.min("doc_id").alias("min_doc_id"),
                 F.max("doc_id").alias("max_doc_id")))


# Report spans 5+: with a 31-word fixture vocabulary (and boilerplate at
# corpus scale) a shared 3-gram is noise — at sf0.1 the 3-level alone
# emits ~1.1M pairs, none of them duplication signal.  The output of a
# substring profile must be CANDIDATES, not the cross product.
REPORT_SPANS = (5, 8, 13)
SPAN_LIST = ", ".join(str(n) for n in REPORT_SPANS)


@register("max_shared_span_pairs", f"""
WITH toks AS (
    SELECT doc_id AS doc, string_split_regex(trim(lower(text)), '\\s+') AS t
    FROM documents),
g AS (
    SELECT DISTINCT doc, n.n AS span,
           unnest(list_transform(generate_series(1, len(t) - n.n + 1),
                                 i -> array_to_string(t[i:i+n.n-1], ' ')))
               AS gram
    FROM toks, (SELECT unnest([{SPAN_LIST}]) AS n) n
    WHERE len(t) >= n.n),
capped AS (
    SELECT doc, span, gram FROM g
    QUALIFY COUNT(*) OVER (PARTITION BY span, gram) <= {JACCARD_DF_MAX}),
p AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, a.span
    FROM capped a
    JOIN capped b ON a.span = b.span AND a.gram = b.gram
                 AND a.doc < b.doc),
cand AS (SELECT doc_a, doc_b FROM p GROUP BY doc_a, doc_b),
pos AS (
    SELECT doc, i.i AS i, t[i.i] AS tok
    FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) i),
m AS (
    SELECT c.doc_a, c.doc_b, pa.i AS ia, pb.i AS ib
    FROM cand c
    JOIN pos pa ON pa.doc = c.doc_a
    JOIN pos pb ON pb.doc = c.doc_b AND pb.tok = pa.tok),
r AS (
    SELECT doc_a, doc_b, ia - ib AS diag,
           ia - row_number() OVER (PARTITION BY doc_a, doc_b, ia - ib
                                   ORDER BY ia) AS grp
    FROM m),
runs AS (
    SELECT doc_a, doc_b, COUNT(*) AS run_len
    FROM r GROUP BY doc_a, doc_b, diag, grp)
SELECT doc_a, doc_b, CAST(MAX(run_len) AS BIGINT) AS max_span
FROM runs GROUP BY doc_a, doc_b
""")
def max_shared_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-granularity duplication profile: per candidate pair,
    the EXACT length of the longest verbatim shared word n-gram — the
    distributed stand-in for exact-substring dedup (Lee et al. 2022),
    whose suffix arrays don't shard.  Candidate DISCOVERY is the
    df-capped ({SPAN_LIST}) ladder index (bounds the pair set — the
    quadratic danger at scale); each discovered pair is then REFINED to
    its true span by a log(len) binary search over in-row gram sets
    (round-6 verdict item 4 — the ladder's "≥ n" became the exact
    maximum).  The oracle computes the same refinement independently
    as a diagonal-run fold over matching token positions (LCS run
    length per diagonal), so the two different exact algorithms must
    agree pair-for-pair.  See operators/dedup.py:
    max_shared_span_exact."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.max_shared_span_exact(docs, ns=REPORT_SPANS,
                                       df_max=JACCARD_DF_MAX)


@register("dup_cluster_representatives", "WITH RECURSIVE "
          + _PAIRS_CTE.lstrip().removeprefix("WITH ") + _CC_CTE + """,
clusters AS (SELECT doc AS doc_id, MIN(r) AS cluster_id
             FROM reach GROUP BY doc),
uq AS (
    SELECT doc_id,
           len(list_distinct(list_filter(
               string_split_regex(trim(lower(text)), '\\s+'),
               x -> x <> ''))) AS n_uniq_tokens
    FROM documents),
mem AS (
    SELECT c.cluster_id, c.doc_id, uq.n_uniq_tokens,
           COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members,
           row_number() OVER (PARTITION BY c.cluster_id
                              ORDER BY uq.n_uniq_tokens DESC, c.doc_id)
               AS rn
    FROM clusters c JOIN uq ON uq.doc_id = c.doc_id)
SELECT cluster_id, doc_id AS rep_doc_id,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(n_uniq_tokens AS BIGINT) AS rep_uniq_tokens
FROM mem WHERE rn = 1
""")
def dup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH doc survives dedup: per near-dup cluster (connected
    components over the LSH candidate graph, as in dup_clusters), the
    QUALITY-chosen representative — highest distinct-token count, ties
    to the smallest doc_id — instead of the naive min-id keeper.  This
    is the canonical-selection step of a production dedup pass: cluster
    membership comes from the audited pointer-doubling CC, the quality
    signal is one in-row projection, and the selection is a per-cluster
    window over the (small) clustered-doc set — no new shuffle shape
    beyond the CC itself."""
    from pyspark.sql import Window

    from ..operators import textstats

    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, NUM_PERM)
    pairs = dedup.lsh_candidate_pairs(sig, BANDS, ROWS_PER_BAND,
                                      max_bucket=MAX_BUCKET)
    clusters = dedup.dup_clusters(pairs)
    uq = docs.select(
        "doc_id",
        F.size(F.array_distinct(textstats.tokens(F.col("text"))))
        .cast("long").alias("n_uniq_tokens"))
    mem = clusters.join(uq, "doc_id")
    by_cluster = Window.partitionBy("cluster_id")
    pick = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_uniq_tokens"), F.asc("doc_id"))
    return (mem
            .withColumn("n_members", F.count("*").over(by_cluster))
            .withColumn("rn", F.row_number().over(pick))
            .filter(F.col("rn") == 1)
            .select("cluster_id", F.col("doc_id").alias("rep_doc_id"),
                    F.col("n_members").cast("long").alias("n_members"),
                    F.col("n_uniq_tokens").alias("rep_uniq_tokens")))


@register("soft_dedup_weights", "WITH RECURSIVE "
          + _PAIRS_CTE.lstrip().removeprefix("WITH ") + _CC_CTE + """,
clusters AS (SELECT doc AS doc_id, MIN(r) AS cluster_id
             FROM reach GROUP BY doc),
labeled AS (
    SELECT d.doc_id, d.source, d.n_chars,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN clusters c USING (doc_id)),
cs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS csize
       FROM labeled GROUP BY cluster_id)
SELECT l.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE csize > 1) AS BIGINT)
           AS n_in_dup_clusters,
       round(SUM(1.0 / csize), 6) AS effective_docs,
       round(SUM(CAST(n_chars AS DOUBLE) / csize), 4) AS effective_chars
FROM labeled l JOIN cs USING (cluster_id)
GROUP BY l.source
""")
def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication (SoftDeDup, She et al. 2024): instead of
    DROPPING near-duplicates, every document gets sampling weight
    1/|its near-dup cluster| — duplicates down-weight rather than
    vanish.  Per source: raw vs effective (weight-summed) corpus size
    in docs and chars, plus how many docs sit in multi-doc clusters.
    Same LSH-candidate + pointer-doubling cluster frame as
    dedup_resolution_by_source; the weight join adds one
    cluster-id-keyed size aggregate (cluster-bounded groups, never
    corpus-wide)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, NUM_PERM)
    pairs = dedup.lsh_candidate_pairs(sig, BANDS, ROWS_PER_BAND,
                                      max_bucket=MAX_BUCKET)
    clusters = dedup.dup_clusters(pairs)
    labeled = (docs.select("doc_id", "source", "n_chars")
               .join(clusters, "doc_id", "left")
               .withColumn("cluster_id",
                           F.coalesce("cluster_id", "doc_id")))
    cs = (labeled.groupBy("cluster_id")
          .agg(F.count(F.lit(1)).cast("long").alias("csize")))
    return (labeled.join(cs, "cluster_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum((F.col("csize") > 1).cast("long")).cast("long")
                 .alias("n_in_dup_clusters"),
                 F.round(F.sum(F.lit(1.0) / F.col("csize")), 6)
                 .alias("effective_docs"),
                 F.round(F.sum(F.col("n_chars").cast("double")
                               / F.col("csize")), 4)
                 .alias("effective_chars")))


INC_MOD = 3


# Shared oracle for BOTH faces of incremental-ingest dedup: the batch
# operator (incremental_dedup_new_docs) and its streaming twin
# (stream_dedup_new_docs) produce the identical per-new-doc decision
# frame, so one SQL twin gates both.
_INC_DEDUP_ORACLE = _SIG_CTE + f""",
bd AS ({_BANDED_SELECTS}),
nb AS (SELECT doc, band, band_hash FROM bd WHERE doc % {INC_MOD} = 0),
ob AS (SELECT doc, band, band_hash FROM bd WHERE doc % {INC_MOD} <> 0
       QUALIFY row_number() OVER (PARTITION BY band, band_hash
                                  ORDER BY doc) <= {MAX_BUCKET}),
np AS (
    SELECT nb.doc, CAST(COUNT(DISTINCT ob.doc) AS BIGINT)
               AS n_near_partners
    FROM nb JOIN ob ON nb.band = ob.band AND nb.band_hash = ob.band_hash
    GROUP BY nb.doc),
oh AS (SELECT DISTINCT md5(text) AS h FROM documents
       WHERE doc_id % {INC_MOD} <> 0),
ex AS (
    SELECT d.doc_id, (oh.h IS NOT NULL) AS exact_dup
    FROM (SELECT doc_id, md5(text) AS h FROM documents
          WHERE doc_id % {INC_MOD} = 0) d
    LEFT JOIN oh USING (h))
SELECT e.doc_id, e.exact_dup,
       COALESCE(np.n_near_partners, 0) AS n_near_partners,
       e.exact_dup OR COALESCE(np.n_near_partners, 0) > 0 AS is_dup
FROM ex e LEFT JOIN np ON np.doc = e.doc_id
"""


@register("incremental_dedup_new_docs", _INC_DEDUP_ORACLE)
def incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup (operators/dedup.incremental_dedup):
    the NEW batch (doc_id % {INC_MOD} = 0) screens against the EXISTING
    corpus only — exact via content-md5 fingerprint probe, near via LSH
    band collisions with the old side of each bucket capped at
    {MAX_BUCKET} — the steady-state daily-crawl shape where the old×old
    join never happens."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.incremental_dedup(docs, INC_MOD, NUM_PERM, BANDS,
                                   ROWS_PER_BAND, max_bucket=MAX_BUCKET)


@register("stream_dedup_new_docs", _INC_DEDUP_ORACLE)
def stream_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING face of incremental-ingest dedup (round 12) — the
    last batch-only steady-state ingest shape, now a stream: arriving
    new documents flow through readStream -> a MAP-ONLY fingerprint +
    band-key stage (content md5 + row-local LSH band hashes,
    operators/dedup.inline_band_hashes) -> per-micro-batch broadcast
    probes of the OLD corpus's fingerprint and band indexes
    (stream-static left joins, the stream_static_enrich topology) ->
    an append sink of per-(doc, band) probe rows; the cross-band
    DISTINCT-partner fold happens batch-side over the sink
    (stream_ivf_cell_routing's pattern — an append-mode stateless
    stream must not carry an aggregation).

    The streaming stage holds NO state and no exchange before the
    sink (pinned by tests/test_streaming_dedup.py): at 100 TB/day the
    stream pays one row-local pass per arriving doc plus two
    broadcast-hash probes against indexes the batch side maintains —
    never a re-dedup of the old corpus, never old x old.  Decisions
    are hash-gated by the same oracle as incremental_dedup_new_docs
    (identical output frame by construction)."""
    from ..streaming import pipeline

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % INC_MOD != 0)
    # Static probe indexes, materialized ONCE: a stream-static join
    # re-executes the static side every micro-batch, and these carry
    # the minhash aggregation / bucket-cap window (same localCheckpoint
    # rationale as stream_events_rate's indexed frame).  timed_batch_side:
    # this build is the bulk of the query's wall-vs-trigger-compute gap
    # (3.2 of 4.3 s at sf0.1) — batch-side work a steady-state deployment
    # amortizes across ingest batches, timed so perfbench reports it as
    # ``streaming.batch_side_share`` instead of unexplained overhead.
    with pipeline.timed_batch_side():
        old_h = (old.select(F.md5("text").alias("h")).distinct()
                 .withColumn("_seen", F.lit(1)).localCheckpoint())
        ob = dedup.banded_signatures(
            dedup.minhash_signatures(old, NUM_PERM), BANDS, ROWS_PER_BAND,
            max_bucket=MAX_BUCKET).localCheckpoint()

    new_stream = (pipeline.stream_table(spark, sf_dir, "documents")
                  .filter(F.col("doc_id") % INC_MOD == 0))
    routed = dedup.incremental_dedup_route(
        new_stream, old_h, ob, NUM_PERM, BANDS, ROWS_PER_BAND)
    rows = pipeline.run_available_now(
        routed, "stream_dedup_new_docs_sink", mode="append",
        no_data_batch=False)
    return dedup.incremental_dedup_finalize(rows)


# Exact-substring dedup discard manifest: discovery rungs must be >=
# the drop threshold (a MIN_DROP_SPAN-token run always contains a
# MIN_DROP_SPAN-gram), so the 8/13 rungs are a sound discovery filter.
MIN_DROP_SPAN = 8
_DROP_SPAN_LIST = "8, 13"


@register("exact_substring_discard_manifest", f"""
WITH toks AS (
    SELECT doc_id AS doc, string_split_regex(trim(lower(text)), '\\s+') AS t
    FROM documents),
g AS (
    SELECT DISTINCT doc, n.n AS span,
           unnest(list_transform(generate_series(1, len(t) - n.n + 1),
                                 i -> array_to_string(t[i:i+n.n-1], ' ')))
               AS gram
    FROM toks, (SELECT unnest([{_DROP_SPAN_LIST}]) AS n) n
    WHERE len(t) >= n.n),
capped AS (
    SELECT doc, span, gram FROM g
    QUALIFY COUNT(*) OVER (PARTITION BY span, gram) <= {JACCARD_DF_MAX}),
cand AS (
    SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
    FROM capped a
    JOIN capped b ON a.span = b.span AND a.gram = b.gram
                 AND a.doc < b.doc),
pos AS (
    SELECT doc, i.i AS i, t[i.i] AS tok
    FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) i),
m AS (
    SELECT c.doc_a, c.doc_b, pa.i AS ia, pb.i AS ib
    FROM cand c
    JOIN pos pa ON pa.doc = c.doc_a
    JOIN pos pb ON pb.doc = c.doc_b AND pb.tok = pa.tok),
r AS (
    SELECT doc_a, doc_b, ib, ia - ib AS diag,
           ia - row_number() OVER (PARTITION BY doc_a, doc_b, ia - ib
                                   ORDER BY ia) AS grp
    FROM m),
rg AS (
    SELECT DISTINCT doc_b AS doc_id,
           MIN(ib) - 1 AS s, MIN(ib) - 1 + COUNT(*) AS e
    FROM r GROUP BY doc_a, doc_b, diag, grp
    HAVING COUNT(*) >= {MIN_DROP_SPAN}),
o AS (
    SELECT doc_id, s, e,
           MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) AS pme
    FROM rg),
f AS (
    SELECT doc_id, s, e,
           CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS brk
    FROM o),
gg AS (
    SELECT doc_id, s, e,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS grp2
    FROM f)
SELECT doc_id, CAST(MIN(s) AS BIGINT) AS range_start,
       CAST(MAX(e) AS BIGINT) AS range_end,
       CAST(MAX(e) - MIN(s) AS BIGINT) AS n_tokens
FROM gg GROUP BY doc_id, grp2
""")
def exact_substring_discard_manifest(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Exact-substring dedup upgraded from a REPORT to a DISCARD
    MANIFEST (round-12 frontier; Lee et al. 2022 ExactSubstr
    semantics): per document, the merged 0-based token ranges to DROP
    so one occurrence (the lowest-doc_id holder) of every >=
    {MIN_DROP_SPAN}-token verbatim duplicated run survives.  Discovery
    is the df-capped ladder inverted index restricted to rungs >=
    the drop threshold; refinement walks matching-token diagonals per
    bounded candidate pair (Arrow kernel); the per-doc interval sweep
    merges ranges from all partners.  The oracle derives the same
    ranges via the diagonal-run SQL fold, so the kernel and SQL
    algorithms must agree range for range.  See operators/dedup.
    substring_discard_manifest."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.substring_discard_manifest(
        docs, min_len=MIN_DROP_SPAN, ns=(8, 13), df_max=JACCARD_DF_MAX)
