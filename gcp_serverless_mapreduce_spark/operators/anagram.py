"""The anagram pipeline — the reference's one real query, as one declarative
DataFrame chain (SURVEY §3.1 steps 2-7).

Reference topology (7 Cloud Functions + 6 Pub/Sub topics + N+1 Redis):
  Splitter(split.go) -> Mapper(map.go) -> Combiner(combine.go) ->
  Shuffler(shuffle.go) -> Controller barrier(controller.go) -> Reducer(reduce.go)

Spark replaces the Combiner (A1) with HashAggregate's partial phase, the
Shuffler+Redis (X2-X4) with the Exchange node, and the Controller barrier
(C1) with the synchronous stage boundary — all implicit in one ``groupBy``.

Scale: the single shuffle is keyed on the anagram signature.  Word-frequency
keys are Zipfian but the *per-doc distinct* (P4) runs before the shuffle
(exactly the reference's "improve performance later" optimization,
split.go:19-21), bounding any key's row count by the document count — with
AQE skew-join/partition-coalescing on top, this plan survives 100×.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    anagram_signature,
    strip_gutenberg,
    words,
)


def tokenize_documents(docs: DataFrame,
                       doc_col: str = "doc_id",
                       text_col: str = "text",
                       gutenberg: bool = False) -> DataFrame:
    """Splitter+Mapper word stages (P1-P8): text -> one row per *distinct
    kept word per document*: (doc_col, word), the word lower-cased,
    edge-trimmed, letters only and not a stop word.

    Per-document distinct scope matters: the reference dedups within one
    book only (split.go:119-133), not globally — two documents both emit a
    shared word.  Because the scope is one row's array, the dedup happens
    *inside the row* before the explode: zero shuffle, where an
    explode-then-``distinct()`` plan would exchange every token.  The
    pipeline's only shuffle stays the signature groupBy.
    """
    text = F.col(text_col)
    if gutenberg:
        text = strip_gutenberg(text)
    return docs.select(F.col(doc_col), F.explode(words(text)).alias("word"))


def group_anagrams(mapped: DataFrame, min_group_size: int = 2) -> DataFrame:
    """Combine+Shuffle+Reduce stages (A1-A4): one hash aggregation.

    - map-side partial agg = the Combiner (combine.go:30-38), automatic in
      HashAggregateExec;
    - ``collect_set`` = the Redis list union + reduce-side dedup
      (shuffle.go:112, reduce.go:102-115);
    - ``sort_array`` = per-group value sort (reduce.go:88);
    - size filter = HAVING len > 1 (reduce.go:86).
    -> (sorted_word, anagrams array<string>, n_anagrams)
    """
    return (
        mapped.groupBy("sorted_word")
        .agg(F.sort_array(F.collect_set("word")).alias("anagrams"))
        .filter(F.size("anagrams") >= min_group_size)
        .withColumn("n_anagrams", F.size("anagrams"))
    )


def anagram_pipeline(docs: DataFrame,
                     doc_col: str = "doc_id",
                     text_col: str = "text",
                     gutenberg: bool = False,
                     min_group_size: int = 2) -> DataFrame:
    """End-to-end: documents -> anagram groups of at least
    ``min_group_size`` words.

    Flagship query for ``__spark_entry__.entry`` over the ``documents``
    fixture table; with ``gutenberg=True`` it is the exact reference job
    over a text corpus (compose with sources.read_gutenberg_corpus).
    """
    tokens = tokenize_documents(docs, doc_col, text_col, gutenberg)
    mapped = tokens.select(
        anagram_signature(F.col("word")).alias("sorted_word"), "word")
    return group_anagrams(mapped, min_group_size)
