"""PySpark-native analytics engine with the query/data-processing
capabilities of camwhite18/gcp-serverless-mapreduce, re-expressed Spark-first.

The reference is a serverless (Cloud Functions + Pub/Sub + Redis) MapReduce
that finds anagrams in Project Gutenberg books.  This package re-expresses
every one of its dataflow operators (SURVEY.md §2) as declarative DataFrame
plans so Catalyst/AQE/Tungsten pick the physical strategy, and extends the
engine with the relational + LLM-data-pipeline surface a 100 TB deployment
needs (joins, windows, dedup, similarity search, text analysis, streaming).

Layout
------
- ``session``    : tuned SparkSession factory (AQE, Arrow, shuffle sizing)
- ``tables``     : fixture-table loaders (handles TIMESTAMP(NANOS) parquet)
- ``functions``  : scalar expression library (text normalization, hashing,
                   vector math) — built-in-function compositions, no UDFs in
                   the hot path
- ``operators``  : DataFrame -> DataFrame operators (anagram pipeline,
                   relational queries, dedup, similarity, text stats,
                   multimodal plumbing)
- ``sources``    : file-format readers/writers (Gutenberg text corpus S1-S6)
- ``streaming``  : Structured Streaming variant of the pipeline (C1 barrier
                   semantics via watermark-closed windows)
"""

__version__ = "0.1.0"
