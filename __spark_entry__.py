"""Entry-point contract of the engine (PySpark target).

``entry(spark)`` is the flagship smoke query.  Each ``queries()[name]``
has a DuckDB twin ``oracle_sql()[name]``; ``tools/check_parity.py`` and
perfbench's ``query_mix`` compare the two (row-count + schema +
order-insensitive values).

Implementation lives in ``gcp_serverless_mapreduce_spark``; this module is
the thin adapter that callers import.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gcp_serverless_mapreduce_spark import suite  # noqa: E402
from gcp_serverless_mapreduce_spark.session import apply_runtime_confs  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference's anagram pipeline (SURVEY §3.1) over
    the sf0.001 ``documents`` table — tokenize, per-doc distinct, normalize,
    anagram-signature group (all signature groups, so the smoke check sees
    rows; the synthetic vocabulary has no true anagram pairs)."""
    apply_runtime_confs(spark)
    return suite.anagram_groups(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return suite.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for each queries() entry."""
    return suite.oracle_sql()
