"""Lexical retrieval scoring over the ``documents`` corpus — BM25, the
inverted-index ranking function a training-data pipeline needs for
query-targeted corpus selection (and the lexical half of hybrid
lexical+vector retrieval, whose vector half lives in
operators/similarity.py).

Scale design: the plan is explode → per-(doc, term) count → joins.  Only
rows whose token IS a query term survive the explode filter (the query
set is a tiny literal array), so the shuffle carries |matching postings|
rows, never the corpus token stream.  The per-term document frequencies
(|Q| rows) and the global N/avgdl scalar broadcast; the per-doc length
frame is corpus-sized and shuffle-joins on the doc id the postings
aggregate already partitioned by.

Cross-engine determinism: tf, df, N, |D| are exact integers; avgdl is one
double division of two exact integers; IDF is ``ln`` of a double (libm vs
JVM ``Math.log`` may differ in the last ulp, ~1e-16 relative), so final
scores are rounded to 6 decimals — fifteen orders of magnitude above the
noise — and the output carries no rank computed from raw doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

K1 = 1.2
B = 0.75


def bm25_scores(docs: DataFrame, query_terms: list[str]) -> DataFrame:
    """-> (doc_id, n_tokens, n_hit_terms, score): Okapi BM25 of every doc
    containing >= 1 query term, rounded to 6 decimals.

    score(D) = sum_t  IDF(t) * tf * (k1+1) / (tf + k1*(1 - b + b*|D|/avgdl))
    IDF(t)   = ln( (N - df + 0.5) / (df + 0.5) + 1 )        (Lucene form)
    """
    from ..tables import spread_small_scan
    # Guarded spread before the tokenize (single-row-group scans would
    # otherwise serialize it on one core); see tables.spread_small_scan.
    toks = (spread_small_scan(docs)
            .select(F.col("doc_id").alias("doc"),
                    tokens(F.col("text")).alias("t")))
    lens = toks.select("doc", F.size("t").alias("dl"))
    # one broadcast-scalar frame: corpus size and average doc length
    stats = lens.agg(F.count("*").alias("n_docs"),
                     (F.sum("dl") / F.count("*")).alias("avgdl"))
    q = F.array(*[F.lit(t) for t in query_terms])
    postings = (toks
                .select("doc", F.explode(
                    F.filter("t", lambda tok: F.array_contains(q, tok)))
                    .alias("term"))
                .groupBy("doc", "term").agg(F.count("*").alias("tf")))
    df_ = postings.groupBy("term").agg(F.count("*").alias("df"))
    # df_ (|Q| rows) and stats (1 row) broadcast; the doc-length frame is
    # corpus-sized so it shuffle-joins on the doc id the postings agg
    # already partitioned by.
    scored = (postings
              .join(F.broadcast(df_), "term")
              .join(lens, "doc")
              .crossJoin(F.broadcast(stats)))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    tf = F.col("tf").cast("double")
    contrib = (idf * tf * (K1 + 1.0)
               / (tf + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl"))))
    return (scored
            .withColumn("c", contrib)
            .groupBy("doc")
            .agg(F.max("dl").alias("n_tokens"),
                 F.count("*").cast("long").alias("n_hit_terms"),
                 F.round(F.sum("c"), 6).alias("score"))
            .withColumnRenamed("doc", "doc_id"))


RRF_K = 60


def rrf_fuse(rankings: list[DataFrame], k: int = RRF_K) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buettcher 2009):
    rrf(d) = sum over rankers of 1 / (k + rank_r(d)), ignoring rankers
    that did not retrieve d.

    Each input frame carries (doc_id, rank) with DENSE, deterministic
    integer ranks (the caller must tie-break on the id — raw float-score
    ordering is not a contract).  Fusion itself is exact: each reciprocal
    is one correctly-rounded IEEE division and the per-doc sum is over a
    fixed, tiny ranker count, re-ordered identically on any engine via
    the outer union-aggregate.  Scale: |rankers| unioned rank frames
    (already top-N-bounded upstream) → one aggregate on the doc id.
    """
    tagged = [r.select(F.col("doc_id"),
                       (F.lit(1.0) / (F.lit(k) + F.col("rank").cast("double")))
                       .alias("rr"))
              for r in rankings]
    un = tagged[0]
    for t in tagged[1:]:
        un = un.unionByName(t)
    return (un.groupBy("doc_id")
            .agg(F.sum("rr").alias("rrf_score"),
                 F.count("*").cast("long").alias("n_rankers")))
