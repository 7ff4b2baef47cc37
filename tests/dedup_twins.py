"""Column-expression twins of the dedup Arrow kernels.

``operators/dedup.py`` computes shingles, inline LSH band hashes and the
span-ladder grams in Arrow-batched pandas UDFs.  The interpreted
expression forms below are the references those kernels are pinned
against: same tokenization (``split(trim(lower(text)), '\\s+')``, empty
tokens kept), same NULL branch (``size(NULL) = -1`` guards to an empty
array), same results element for element.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.functions.text import tokens

TOKS_SQL = "split(trim(lower(text)), '\\\\s+')"


def shingle_array_expr(k: int):
    """Expression twin of ``dedup.shingle_array(k)``.  Guard: Spark's
    sequence(1, n) DESCENDS when n < 1, so short docs need the explicit
    empty array (DuckDB's generate_series is empty there)."""
    shingles = F.when(
        F.size(tokens(F.col("text"))) >= k,
        F.expr(
            f"transform(sequence(1, size({TOKS_SQL}) - {k - 1}), "
            f"i -> concat_ws(' ', slice({TOKS_SQL}, i, {k})))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(shingles)


def inline_band_hashes_expr(num_perm: int = 8, bands: int = 4,
                            rows_per_band: int = 2):
    """Expression twin of ``dedup.inline_band_hashes``: ONE SQL
    expression with a UNIQUE lambda variable name per transform.
    Unique names are load-bearing: Spark 4.1 mis-binds same-named
    Python-lambda variables when several higher-order functions land in
    one projection over a nested-lambda collection (all PySpark lambdas
    are named ``x``; 8 ``F.transform`` minhash columns in one select all
    returned the min of the WRONG salted hash set, while the identical
    SQL with ``x0..x7`` is correct)."""
    toks = TOKS_SQL

    def sh(var: str) -> str:
        return (f"array_distinct(IF(size({toks}) >= 3, "
                f"transform(sequence(1, size({toks}) - 2), "
                f"{var} -> concat_ws(' ', slice({toks}, {var}, 3))), "
                f"CAST(array() AS ARRAY<STRING>)))")

    def mh(s: int) -> str:
        return (f"array_min(transform({sh(f'i{s}')}, "
                f"x{s} -> md5(concat('{s}|', x{s}))))")

    bands_sql = ", ".join(
        "md5(concat_ws('|', "
        + ", ".join(mh(b * rows_per_band + r) for r in range(rows_per_band))
        + "))"
        for b in range(bands))
    return F.expr(f"IF(size({sh('ig')}) > 0, array({bands_sql}), "
                  f"CAST(array() AS ARRAY<STRING>))")


def ladder_tagged_grams_expr(ns: tuple[int, ...]):
    """Expression twin of ``dedup.ladder_tagged_grams(ns)``.  NB:
    transform() lambdas must stay single-parameter — a second parameter
    is interpreted as the ELEMENT INDEX by Spark."""
    toks = tokens(F.col("text"))

    def _tagged(n: int):
        grams_n = F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n))))
        return F.when(
            F.size(toks) >= n,
            F.transform(grams_n,
                        lambda g: F.struct(
                            F.lit(n).alias("span"), g.alias("gram")))
        ).otherwise(F.array().cast("array<struct<span:int,gram:string>>"))

    ladder = F.flatten(F.array(*[_tagged(n) for n in ns]))
    return F.when(F.size(toks) >= min(ns), ladder).otherwise(
        F.array().cast("array<struct<span:int,gram:string>>"))
