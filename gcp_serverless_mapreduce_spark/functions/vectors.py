"""Vector math over ``array<float>`` embedding columns — pure built-in
higher-order functions (JVM-side, codegen'd); no Python in the hot path.

All arithmetic is widened to double *before* accumulation and folds run
left-to-right, which is also how the DuckDB oracle evaluates its explicit
fold — keeping cross-engine results bit-identical (verified in
tools/check_parity.py rather than assumed).  That DuckDB fold is written
here too (:func:`fold_sum_sql`, :func:`dot_sql`, ``NORM_SQL``), and
the queries take it from here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Left-to-right fold of elementwise products, in double."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def fold_sum_sql(terms: str) -> str:
    """DuckDB twin of :func:`dot`'s fold: the DOUBLE list ``terms`` added
    left to right, seeded 0.0."""
    return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {terms}), "
            "(acc, x) -> acc + x)")


def dot_sql(a: str, b: str, dim: int) -> str:
    """DuckDB twin of :func:`dot` over the first ``dim`` dimensions."""
    return fold_sum_sql(
        f"list_transform(generate_series(1, {dim}), i -> {a}[i] * {b}[i])")


# DuckDB |v| of the DOUBLE list column ``v``: the root of the folded squares.
NORM_SQL = "sqrt(" + fold_sum_sql("list_transform(v, x -> x * x)") + ")"
