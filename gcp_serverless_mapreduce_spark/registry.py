"""Query registry behind ``__spark_entry__.queries()`` / ``oracle_sql()``.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with the
ANSI-SQL twin DuckDB runs over the same parquet fixtures — the parity
gate (``tools/check_parity.py``: row-count + schema + order-insensitive
values).  Registry order is module import order (``suite/__init__.py``).

Conventions that keep the two engines hash-identical:
- every computed column aliased identically on both sides;
- set-valued results emitted as sorted, space-joined STRINGs;
- counts cast to BIGINT on both sides;
- money aggregates computed in DECIMAL (exact, order-independent) and cast
  to DOUBLE at the end — never raw double summation, whose value depends on
  partition order;
- temporal outputs formatted to strings (engine-native rendering differs).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

# name -> (spark_fn, oracle_sql | None)
_REGISTRY: dict[str, tuple[SparkQuery, str | None]] = {}


def register(name: str, oracle: str | None):
    """Decorator: add a query + its DuckDB oracle twin to the registry.

    ``oracle=None`` registers a rows-only query (for genuinely
    non-SQL-expressible operators — the parity gate records a weaker check).
    """
    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = (fn, oracle)
        return fn
    return deco


def queries() -> dict[str, SparkQuery]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}
