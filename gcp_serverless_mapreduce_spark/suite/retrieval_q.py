"""Retrieval / corpus-release queries with DuckDB oracle twins: BM25
lexical scoring, RAG-style overlapping chunking, and deterministic
train/val/test split accounting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import NONEMPTY_TOKENS_SQL, TOKENS_SQL
from ..functions.vectors import NORM_SQL, dot_sql
from ..operators import curation, retrieval
from ..registry import register
from ..tables import load_table

QUERY_TERMS = ["vector", "join", "scan"]
CHUNK_WORDS = 40
CHUNK_STRIDE = 30

_QL = ", ".join(f"'{t}'" for t in QUERY_TERMS)

_BM25_SQL = f"""
WITH toks AS (
    SELECT doc_id AS doc,
           {TOKENS_SQL} AS t
    FROM documents),
lens AS (SELECT doc, len(t) AS dl FROM toks),
stats AS (SELECT COUNT(*) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
          FROM lens),
postings AS (
    SELECT doc, unnest(list_filter(t, x -> x IN ({_QL}))) AS term
    FROM toks),
tf AS (SELECT doc, term, COUNT(*) AS tf FROM postings GROUP BY doc, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
    SELECT tf.doc, lens.dl,
           ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
           * CAST(tf.tf AS DOUBLE) * ({retrieval.K1} + 1.0)
           / (CAST(tf.tf AS DOUBLE)
              + {retrieval.K1} * (1.0 - {retrieval.B}
                                  + {retrieval.B} * lens.dl / stats.avgdl))
               AS c
    FROM tf JOIN df USING (term)
            JOIN lens ON lens.doc = tf.doc
            CROSS JOIN stats)
SELECT doc AS doc_id, MAX(dl) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
       round(SUM(c), 6) AS score
FROM scored GROUP BY doc
"""


@register("bm25_doc_scores", _BM25_SQL)
def bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 of every document against the fixed query {QUERY_TERMS}
    (Lucene IDF form, k1={retrieval.K1}, b={retrieval.B}).  Postings are
    filtered to query terms BEFORE the explode reaches any exchange; df
    and the N/avgdl scalar broadcast; scores rounded to 6 decimals so the
    ln() last-ulp gap between libm and the JVM can't reach the hash.  See
    operators/retrieval.py."""
    docs = load_table(spark, sf_dir, "documents")
    return retrieval.bm25_scores(docs, QUERY_TERMS)


@register("doc_overlapping_chunks", f"""
WITH toks AS (
    SELECT doc_id,
           {NONEMPTY_TOKENS_SQL} AS t
    FROM documents),
starts AS (
    SELECT doc_id, t,
           unnest(generate_series(0, len(t) - 1, {CHUNK_STRIDE})) AS start
    FROM toks WHERE len(t) > 0)
SELECT doc_id, CAST(start // {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
       CAST(len(t[start + 1:start + {CHUNK_WORDS}]) AS BIGINT)
           AS n_chunk_tokens,
       md5(array_to_string(t[start + 1:start + {CHUNK_WORDS}], ' '))
           AS chunk_hash
FROM starts
""")
def doc_overlapping_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking: {CHUNK_WORDS}-token windows every {CHUNK_STRIDE}
    tokens ({CHUNK_WORDS - CHUNK_STRIDE}-token overlap), emitted as
    md5(chunk) + token count — map-only, no shuffle; see
    operators/curation.py:overlapping_chunks."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.overlapping_chunks(docs, CHUNK_WORDS, CHUNK_STRIDE)


@register("dataset_split_counts", """
WITH s AS (
    SELECT source, doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                    THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3'
                    THEN 'val'
                ELSE 'test' END AS split
    FROM documents)
SELECT source, split, COUNT(*) AS n_docs,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM s GROUP BY source, split
""")
def dataset_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test assignment (~90/5/5 via
    md5 hex ranges) with per-source accounting — split membership is a
    pure function of doc_id, immune to repartitioning and appends; see
    operators/curation.py:split_assignment."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.split_assignment(docs)


# ---- hybrid lexical+vector retrieval (RRF) --------------------------------

TOP_N_PER_RANKER = 100
HYBRID_TOP = 50
PROBE_VEC_ID = 0


_HYBRID_SQL = f"""
WITH bm AS ({_BM25_SQL}),
lex AS (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
    FROM bm
    QUALIFY rank <= {TOP_N_PER_RANKER}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, {NORM_SQL} AS nrm FROM e),
uv AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u
       FROM n WHERE nrm <> 0),
p AS (SELECT u AS pu FROM uv WHERE vec_id = {PROBE_VEC_ID}),
sims AS (
    SELECT vec_id AS doc_id, round({dot_sql('u', 'p.pu', 64)}, 4) AS sim
    FROM uv CROSS JOIN p
    WHERE vec_id <> {PROBE_VEC_ID}),
vec AS (
    SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS rank
    FROM sims
    QUALIFY rank <= {TOP_N_PER_RANKER}),
fused AS (
    SELECT doc_id, SUM(1.0 / (60 + CAST(rank AS DOUBLE))) AS rrf_score,
           CAST(COUNT(*) AS BIGINT) AS n_rankers
    FROM (SELECT * FROM lex UNION ALL SELECT * FROM vec)
    GROUP BY doc_id)
SELECT doc_id, round(rrf_score, 6) AS rrf_score, n_rankers,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT)
           AS hybrid_rank
FROM fused
QUALIFY hybrid_rank <= {HYBRID_TOP}
"""


@register("hybrid_rrf_topk", _HYBRID_SQL)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical ranking fused with an
    embedding-cosine ranking (probe = vector {PROBE_VEC_ID}) by
    reciprocal-rank fusion, top {HYBRID_TOP}.  Both input rankings are
    top-{TOP_N_PER_RANKER}-bounded and tie-broken on the id over QUANTIZED
    scores (6dp BM25 / 4dp cosine), so the fused order is deterministic
    cross-engine; the fusion sum itself is 1-2 exact IEEE reciprocals.
    See operators/retrieval.py:rrf_fuse."""
    from pyspark.sql import Window

    from ..operators.similarity import unit_vectors
    from ..functions.vectors import dot

    docs = load_table(spark, sf_dir, "documents")
    # orderBy().limit() = TakeOrderedAndProject (per-partition top-N +
    # driver merge, no global sort); the rank window then covers only the
    # N survivors.
    lex_w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    lex = (retrieval.bm25_scores(docs, QUERY_TERMS)
           .select("doc_id", "score")
           .orderBy(F.col("score").desc(), F.col("doc_id"))
           .limit(TOP_N_PER_RANKER)
           .withColumn("rank", F.row_number().over(lex_w))
           .select("doc_id", "rank"))

    emb = load_table(spark, sf_dir, "embeddings")
    units = (unit_vectors(emb).filter(F.col("unit").isNotNull())
             .select("vec_id", "unit"))
    probe = (units.filter(F.col("vec_id") == PROBE_VEC_ID)
             .select(F.col("unit").alias("pu")))
    vec_w = Window.orderBy(F.col("sim").desc(), F.col("doc_id"))
    vec = (units.filter(F.col("vec_id") != PROBE_VEC_ID)
           .crossJoin(F.broadcast(probe))
           .select(F.col("vec_id").alias("doc_id"),
                   F.round(dot(F.col("unit"), F.col("pu")), 4).alias("sim"))
           .orderBy(F.col("sim").desc(), F.col("doc_id"))
           .limit(TOP_N_PER_RANKER)
           .withColumn("rank", F.row_number().over(vec_w))
           .select("doc_id", "rank"))

    fused = retrieval.rrf_fuse([lex, vec])
    hyb_w = Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
    return (fused
            .orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
            .limit(2 * TOP_N_PER_RANKER)
            .withColumn("hybrid_rank",
                        F.row_number().over(hyb_w).cast("long"))
            .filter(F.col("hybrid_rank") <= HYBRID_TOP)
            .select("doc_id", F.round("rrf_score", 6).alias("rrf_score"),
                    "n_rankers", "hybrid_rank"))


# ---- weighted sampling -----------------------------------------------------

SAMPLE_N = 100

_HEX_FOLD = ("list_reduce(list_prepend(CAST(0 AS BIGINT), "
             "list_transform(generate_series(1, 13), "
             "i -> CAST(strpos('0123456789abcdef', "
             "substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT))), "
             "(acc, x) -> acc * 16 + x)")


@register("weighted_sample_bychars", f"""
WITH keyed AS (
    SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
           round(-ln((CAST({_HEX_FOLD} AS DOUBLE) + 0.5) / {float(16 ** 13)})
                 / CAST(n_chars AS DOUBLE), 9) AS samp_key
    FROM documents)
SELECT doc_id, weight, samp_key,
       CAST(row_number() OVER (ORDER BY samp_key, doc_id) AS BIGINT)
           AS samp_rank
FROM keyed
QUALIFY samp_rank <= {SAMPLE_N}
""")
def weighted_sample_bychars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sample of {SAMPLE_N} docs with
    inclusion odds ∝ n_chars: md5-derived uniform per id, keys quantized
    to 9dp + id tie-break so cross-engine ln() ulps can't flip a
    boundary membership; Spark side is a TakeOrdered top-n, never a
    global sort.  See operators/curation.py:weighted_sample."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.weighted_sample(docs, SAMPLE_N)


PER_SOURCE_N = 3


@register("weighted_sample_per_source", f"""
WITH keyed AS (
    SELECT source, doc_id, CAST(n_chars AS BIGINT) AS weight,
           round(-ln((CAST({_HEX_FOLD} AS DOUBLE) + 0.5) / {float(16 ** 13)})
                 / CAST(n_chars AS DOUBLE), 9) AS samp_key
    FROM documents)
SELECT source, doc_id, weight, samp_key,
       CAST(row_number() OVER (PARTITION BY source
                               ORDER BY samp_key, doc_id) AS BIGINT)
           AS samp_rank
FROM keyed
QUALIFY samp_rank <= {PER_SOURCE_N}
""")
def weighted_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE weighted sample (the distributed per-key reservoir):
    top {PER_SOURCE_N} docs per source under the same quantized
    Efraimidis-Spirakis key as the global sample — one exchange on the
    source key, rank windows bounded by group size, no global sort.
    See operators/curation.py:weighted_sample_per_group."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.weighted_sample_per_group(docs, PER_SOURCE_N)
