"""Scalar expression library — compositions of built-in pyspark.sql.functions.

Everything here returns Column expressions that stay JVM-side (whole-stage
codegen); no row-at-a-time Python UDFs.
"""

from .text import (  # noqa: F401
    STOPWORDS,
    anagram_signature,
    strip_gutenberg,
    words,
)
from .vectors import dot  # noqa: F401
from .hashing import fnv32a, md5_long, minhash_expr  # noqa: F401
