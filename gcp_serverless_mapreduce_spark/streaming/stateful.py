"""Custom stateful streaming operator via ``applyInPandasWithState`` —
the arbitrary-state API the reference's Redis-backed accumulation maps to.

The reference keeps running per-key state in Redis lists across function
invocations (shuffle.go:104-116) and flushes it when the controller
barrier opens (reduce.go:20-99).  Structured Streaming's analog is
grouped state: state lives in the checkpointed state store per key,
batches update it, and the operator decides what to emit.  At 100 TB the
state store shards by key across executors exactly like the N Redis
instances — minus the hand-rolled barrier.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"
STATE_SCHEMA = "n long, cents long"


def running_user_totals(events: DataFrame) -> DataFrame:
    """Streaming running (count, value-sum) per user, kept in grouped
    state; emits the updated totals for every user seen in a batch.

    The value sum accumulates in integer CENTS (each 2-dp row value
    converts exactly; integer addition is associative), not floats —
    the rows of a group arrive in shuffle order, and a float running
    sum would make the emitted total depend on that order.  The exact
    cents total divided by 100.0 equals DuckDB's DECIMAL(14,2) sum cast
    to DOUBLE bit-for-bit, which is what lets the driver hash-gate this
    operator (suite/streaming_q.py::stream_user_totals_stateful)."""

    def update(key: Any, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "total_value": [cents / 100.0]})

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, OUTPUT_SCHEMA, STATE_SCHEMA, "update",
            GroupStateTimeout.NoTimeout)
    )
