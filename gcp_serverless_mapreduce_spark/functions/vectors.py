"""Vector math over ``array<float>`` embedding columns — pure built-in
higher-order functions (JVM-side, codegen'd); no Python in the hot path.

All arithmetic is widened to double *before* accumulation and folds run
left-to-right, which is also how the DuckDB oracle evaluates its explicit
fold — keeping cross-engine results bit-identical (verified in
tools/check_parity.py rather than assumed).
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

