"""Query registry behind ``__spark_entry__.queries()`` / ``oracle_sql()``.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with the
ANSI-SQL twin DuckDB runs over the same parquet fixtures — the parity
gate (``tools/check_parity.py``: row-count + schema + order-insensitive
values).  Registry order is module import order (``suite/__init__.py``).

There are two ways to register a query:
- :func:`register_sql` takes one SQL text that runs unchanged on both
  engines: Spark runs it with ``spark.sql`` over temp views of the
  fixture tables it names, DuckDB runs it as the twin.  Parity then
  compares two engines on one text.
- the :func:`register` decorator pairs a DataFrame builder with its twin,
  for queries that use a surface the shared text cannot reach (operators,
  UDFs, streaming, hints) or DuckDB-only SQL.

Conventions that keep the two engines hash-identical:
- every computed column aliased identically on both sides;
- set-valued results emitted as sorted, space-joined STRINGs;
- counts cast to BIGINT on both sides;
- money aggregates computed in DECIMAL (exact, order-independent) and cast
  to DOUBLE at the end — never raw double summation, whose value depends on
  partition order;
- temporal outputs formatted to strings (engine-native rendering differs);
- the whitespace token split, the stop list and the left-to-right double
  fold come from ``functions/`` (``functions.text``, ``functions.vectors``)
  in both their Spark and their DuckDB forms, never a copy.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .tables import TABLE_NAMES, register_views

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


# A fixture table named after FROM or JOIN in a query text.
_TABLE_REF = re.compile(r"\b(?:FROM|JOIN)\s+(\w+)", re.IGNORECASE)


def register_sql(name: str, text: str) -> None:
    """Register ``text`` as both sides of query ``name``.

    The Spark callable makes the fixture tables the text reads from
    ``sf_dir`` into temp views, and only those, then returns
    ``spark.sql(text)``.  Temp views are session-global, but ``spark.sql``
    resolves them when it is called, so each returned DataFrame keeps the
    tables of its own ``sf_dir``.
    """
    named = {m.lower() for m in _TABLE_REF.findall(text)}
    tables = [t for t in TABLE_NAMES if t in named]

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir, tables)
        return spark.sql(text)

    register(name, text)(run)


def queries() -> dict[str, SparkQuery]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}
