"""End-to-end pipeline goldens (FIXTURES.md §A2-A4; map_test.go:21-44,
combine_test.go:21-49, reduce_test.go:38-42) plus a corpus round-trip with
Latin-1 bytes and per-file distinct scope."""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import __spark_entry__

from gcp_serverless_mapreduce_spark.functions.text import anagram_signature
from gcp_serverless_mapreduce_spark.operators.anagram import (
    anagram_pipeline,
    group_anagrams,
    tokenize_documents,
)
from gcp_serverless_mapreduce_spark.sources.text import (
    format_anagram_lines,
    read_gutenberg_corpus,
)


def test_mapper_golden(spark):
    # ["the","quick","brown","fox","quick"] => {cikqu:[quick], bnorw:[brown],
    # fox:[fox]} — stop word dropped, dup collapsed (map_test.go:21-44).
    docs = spark.createDataFrame([(1, "the quick brown fox quick")],
                                 ["doc_id", "text"])
    mapped = tokenize_documents(docs).select(
        anagram_signature(F.col("word")).alias("sorted_word"), "word")
    got = {r["sorted_word"]: r["word"] for r in mapped.collect()}
    assert got == {"cikqu": "quick", "bnorw": "brown", "fox": "fox"}


def test_combiner_reducer_golden(spark):
    # [(acer,care),(artp,part),(acer,race),(acer,care),(artp,trap)]
    # => acer:[care,race], artp:[part,trap] (combine_test.go:21-49), and the
    # HAVING>1 + sort + format of reduce_test.go:38-42.
    mapped = spark.createDataFrame(
        [("acer", "care"), ("artp", "part"), ("acer", "race"),
         ("acer", "care"), ("artp", "trap"), ("fox", "fox")],
        ["sorted_word", "word"],
    )
    grouped = group_anagrams(mapped)
    got = {r["sorted_word"]: r["anagrams"] for r in grouped.collect()}
    # "fox" group has a single member -> dropped by HAVING (reduce.go:86)
    assert got == {"acer": ["care", "race"], "artp": ["part", "trap"]}
    lines = sorted(r["value"] for r in format_anagram_lines(grouped).collect())
    assert lines == ["acer: care race", "artp: part trap"]


def test_corpus_pipeline(spark, tmp_path):
    # Two files sharing words (per-file distinct scope), one with a Gutenberg
    # header and a Latin-1 byte (0xE7 = ç) to pin the ISO-8859-1 decode.
    f1 = tmp_path / "book1.txt"
    f1.write_bytes(
        b"junk *** START OF THIS PROJECT GUTENBERG EBOOK ***\n"
        b"race care the race acted \xe7a\n"
        b"End of the Project Gutenberg EBook trailing junk"
    )
    f2 = tmp_path / "book2.txt"
    f2.write_bytes(b"care race cedar raced traced")
    (tmp_path / "ignored.dat").write_bytes(b"race care")  # suffix-filtered (S1)

    corpus = read_gutenberg_corpus(spark, str(tmp_path))
    assert corpus.count() == 2  # .dat excluded
    # Latin-1 decode survived: ça present in book1's raw content
    c1 = corpus.filter(F.col("path").endswith("book1.txt")).first()["content"]
    assert "ça" in c1

    result = anagram_pipeline(corpus, doc_col="path", text_col="content",
                              gutenberg=True)
    got = {r["sorted_word"]: r["anagrams"] for r in result.collect()}
    assert got["acer"] == ["care", "race"]  # union across both files, deduped
    assert got["acder"] == ["cedar", "raced"]
    assert "acdert" not in got or got["acdert"] == ["traced"]  # singleton dropped
    assert "acdert" not in got


def test_tokenize_documents_emits_kept_words_per_doc(spark):
    # One row per distinct normalized word per document: case, edge
    # punctuation, stop words and words with digits are handled before
    # the explode, and a word shared by two documents is emitted twice.
    docs = spark.createDataFrame(
        [(1, "Race race, RACE! the 1a"), (2, "care race")],
        ["doc_id", "text"])
    got = sorted(map(tuple, tokenize_documents(docs).collect()))
    assert got == [(1, "race"), (2, "care"), (2, "race")]


def test_documents_flagship(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # The synthetic vocabulary (31 distinct words) contains no anagram pairs,
    # so the reference-faithful HAVING>1 variant is legitimately empty...
    assert anagram_pipeline(docs).count() == 0
    # ...and the flagship entry() variant keeps all signature groups.
    rows = anagram_pipeline(docs, min_group_size=1).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["anagrams"] == sorted(set(r["anagrams"]))
        assert r["n_anagrams"] >= 1


# "listen", "silent" and "enlist" separated by U+0085 (NEL) and U+00A0
# (NBSP): Go's strings.Fields (split.go:68) splits on both, Java's and
# RE2's ``\s`` on neither.
GO_SPACED = "listen\x85silent\xa0enlist"


def test_go_fields_separators_split_words(spark):
    docs = spark.createDataFrame([(1, GO_SPACED)], ["doc_id", "text"])
    got = [(r["sorted_word"], r["anagrams"])
           for r in anagram_pipeline(docs).collect()]
    assert got == [("eilnst", ["enlist", "listen", "silent"])]


def test_go_fields_separators_duckdb_twin(spark, tmp_path):
    # The DuckDB twin splits on the same eight characters as the engine.
    text = f"{GO_SPACED}\x0btinsel inlets"
    pq.write_table(pa.table({"doc_id": [1], "text": [text]}),
                   tmp_path / "documents.parquet")
    rows = __spark_entry__.queries()["anagram_pairs"](
        spark, str(tmp_path)).collect()
    got = [(r["sorted_word"], r["anagrams"], r["n_anagrams"]) for r in rows]
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"'{tmp_path}/documents.parquet'")
    want = con.execute(__spark_entry__.oracle_sql()["anagram_pairs"]).fetchall()
    assert got == want == [("eilnst", "enlist inlets listen silent tinsel", 5)]
