"""r16: Python kernel tokenization is JVM-EXACT, not just ASCII-equivalent.

Round 15 left the Arrow kernels tokenizing with Python ``str.split()``,
which differs from the declared ``split(trim(lower(text)), '\\s+')``
semantics on leading/trailing non-space whitespace (JVM keeps the empty
token), Unicode whitespace (Python splits NBSP/U+2028, Java/RE2 ``\\s``
does not) and potentially non-ASCII case folds.
``operators.dedup.py_tokens`` now reproduces the JVM
semantics exactly; these pins hold every kernel/expression-twin pair to
equality ON the divergent inputs the r15 pins omitted.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.operators import dedup
from tests.dedup_twins import (TOKS_SQL, inline_band_hashes_expr,
                               ladder_tagged_grams_expr, shingle_array_expr)

# Exactly the classes of text where str.split() and the JVM expression
# disagree: leading tab, trailing newline, CR/LF + trailing tab mix,
# vertical tab (split by BOTH — x0b is in Java \s), NBSP and U+2028
# LINE SEPARATOR (split by str.split, NOT by Java \s), Turkish dotted
# capital I and dotless i, sharp s / capital sharp s, Greek final
# sigma, plus plain-space padding (trimmed by both).
UNICODE_ROWS = [
    (9101, "\ta b c d e f g h i"),
    (9102, "a b c d e f g h i\n"),
    (9103, "\r\na b c d e f g h i \t"),
    (9104, "a\x0bb c d e f g h i"),
    (9105, "a\u00a0b c d e f g h i"),
    (9106, "a\u2028b c d e f g h i"),
    (9107, " a b c d e f g h i "),
    (9108, "İstanbul ı I b c d e f g"),
    (9109, "straße STRAẞE ΣΟΦΟΣ c d e"),
    (9110, "  a b c d e f g h i  "),
    (9111, ""),
    (9112, None),
]
SCHEMA = "doc_id long, text string"


def test_py_tokens_matches_tokens_col(spark):
    """The helper itself == split(trim(lower(text)), '\\s+') per row."""
    df = spark.createDataFrame(UNICODE_ROWS, SCHEMA)
    got = {r["doc_id"]: r["t"]
           for r in df.select("doc_id",
                              dedup.tokens_col().alias("t")).collect()}
    for doc_id, text in UNICODE_ROWS:
        if text is None:
            assert got[doc_id] is None
        else:
            assert got[doc_id] == dedup.py_tokens(text), (doc_id, text)


def test_shingle_kernel_matches_expr_twin_unicode(spark):
    df = spark.createDataFrame(UNICODE_ROWS, SCHEMA)
    both = df.select(
        "doc_id",
        F.sort_array(dedup.shingle_array(3)).alias("k"),
        F.sort_array(shingle_array_expr(3)).alias("x"))
    for r in both.collect():
        assert r["k"] == r["x"], r["doc_id"]


def test_inline_band_hashes_match_expr_twin_unicode(spark):
    df = spark.createDataFrame(UNICODE_ROWS, SCHEMA)
    both = df.select(
        "doc_id",
        dedup.inline_band_hashes().alias("k"),
        inline_band_hashes_expr().alias("x"))
    for r in both.collect():
        assert r["k"] == r["x"], r["doc_id"]


def test_ladder_kernel_matches_expr_twin_unicode(spark):
    df = spark.createDataFrame(UNICODE_ROWS, SCHEMA)
    both = df.select(
        "doc_id",
        dedup.ladder_tagged_grams((3, 5)).alias("k"),
        ladder_tagged_grams_expr((3, 5)).alias("x"))
    for r in both.collect():
        k = [(s["span"], s["gram"]) for s in r["k"]]
        x = [(s["span"], s["gram"]) for s in r["x"]]
        assert k == x, r["doc_id"]


def test_repetition_kernel_matches_old_hof_unicode(spark):
    from gcp_serverless_mapreduce_spark.suite.textstats_q import (
        _repetition_stats_kernel,
    )
    from tests.test_r15_batch2 import _old_repetition_stats

    docs = spark.createDataFrame(UNICODE_ROWS, SCHEMA)
    kernel = _repetition_stats_kernel()
    got = {
        r["doc_id"]: (r["st"]["n_tokens"], r["st"]["n_distinct"],
                      r["st"]["top_bg"], r["st"]["n_bg"])
        for r in (docs.select("doc_id", kernel(F.col("text")).alias("st"))
                  .filter(F.col("st.n_tokens") >= 2).collect())
    }
    want = _old_repetition_stats(spark, UNICODE_ROWS)
    assert got == want


def test_word_bigrams_udtf_matches_oracle_tokens(spark):
    """UDTF bigrams == bigrams built from the JVM token expression
    (the oracle's unfiltered split keeps empty tokens)."""
    from gcp_serverless_mapreduce_spark.functions.udtfs import register_udtfs

    df = spark.createDataFrame(UNICODE_ROWS, SCHEMA)
    df.createOrReplaceTempView("unicode_docs_udtf")
    register_udtfs(spark)
    got = sorted(
        (r["bigram"],) for r in spark.sql(
            "SELECT b.bigram FROM unicode_docs_udtf, "
            "LATERAL word_bigrams(text) AS b").collect())
    toks = dedup.tokens_col()
    want = sorted(
        (r["bigram"],) for r in df.select(
            F.explode(F.when(
                F.size(toks) >= 2,
                F.expr("transform(sequence(1, "
                       f"size({TOKS_SQL}) - 1), "
                       f"i -> concat_ws(' ', slice("
                       f"{TOKS_SQL}, i, 2)))"))
              .otherwise(F.array().cast("array<string>"))).alias("bigram"))
        .collect())
    assert got == want
