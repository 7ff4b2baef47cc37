"""Custom Python Data Sources (Spark 4 `pyspark.sql.datasource` API):
a partitioned, filter-pushing batch reader and a streaming reader with
offset management over the events fixture.

This is the modern extension point for sources Spark has no built-in
connector for (internal services, bespoke formats, feature stores).  The
readers demonstrate what a scale-correct source must do:

- **Split planning** (`partitions()`): splits own disjoint parquet ROW
  GROUPS (batch) or row ranges resolved to row groups via footer
  metadata (streaming) — each split decodes ONLY its own bytes, and
  executors read in parallel with no driver materialization.
- **Filter pushdown** (`pushFilters()`): `EqualTo(event_type, v)` is
  absorbed into the scan (applied per Arrow table at the source, before
  rows ever reach Spark) and removed from the Spark-side plan;
  everything else is returned as unsupported so Spark re-applies it.
  The binding is per-scan and immutable (never cleared), so AQE
  re-planning and repeated partitions() calls keep the filter.  KNOWN
  UPSTREAM LIMITATION (Spark 4.1, verified by repro in
  tests/test_policy_and_formats.py): two scans of the SAME load()
  result with different filters share one Python relation JVM-side,
  and the second scan's planning overwrites the first's read
  function + partitions — each planning correctly binds its own
  filter (traced), but only one survives, so a self-join of one
  loaded frame mixing filtered/unfiltered branches returns wrong
  rows.  Workaround: call load() once per differently-filtered use;
  each load() gets its own relation and plans independently.
- **Arrow-batch emission** (`read()` yields `pyarrow.RecordBatch`):
  columnar transfer, no per-row Python objects.

Timestamps are surfaced as epoch-microsecond BIGINTs (`ts_us`) — the
tz-free wire encoding — and converted to TIMESTAMP by the caller, so the
source contract is independent of the session timezone and of parquet's
NTZ/LTZ flavor drift (the round-4 fixture regression this repo's
`tables.load_table` normalizes).

Maps to the reference's landing-zone ingestion surface
(storage/client.go:67-101) generalized to pluggable connectors.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql.datasource import (DataSource, DataSourceReader, EqualTo,
                                    InputPartition)

N_PARTITIONS = 8

SCHEMA = ("event_id bigint, ts_us bigint, user_id bigint, "
          "event_type string, value double, props string")


def _to_arrow(tbl):
    """Shared wire projection for batch + streaming readers (one place,
    so the two sources cannot drift on the schema or ts encoding)."""
    import pyarrow as pa
    return pa.table({
        "event_id": tbl["event_id"].cast(pa.int64()),
        "ts_us": tbl["ts"].cast(pa.timestamp("us")).cast(pa.int64()),
        "user_id": tbl["user_id"].cast(pa.int64()),
        "event_type": tbl["event_type"].cast(pa.string()),
        "value": tbl["value"].cast(pa.float64()),
        "props": tbl["props"].cast(pa.string()),
    })


class EventsDataSource(DataSource):
    """`spark.read.format("events_pyds").option("path", ...)`."""

    @classmethod
    def name(cls) -> str:
        return "events_pyds"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> "EventsReader":
        return EventsReader(self.options)


class EventsReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("events_pyds: 'path' option is required")
        self.n_parts = int(options.get("partitions", N_PARTITIONS))
        self.type_eq: str | None = None

    def pushFilters(self, filters):
        # Bind the absorbed filter for THIS scan build.  Spark creates a
        # reader per planned scan (DataSource.reader() -> pushFilters?
        # -> partitions() -> read()), so binding is per-scan state; it
        # is NEVER cleared afterwards — the earlier consume-once
        # clearing in partitions() returned unfiltered rows for a scan
        # whose filter Spark had already pruned whenever partitions()
        # ran twice (self-join of the same relation, plan re-execution).
        # pushFilters can run more than once per scan while Spark
        # iterates on the plan: last call wins, and absorbing at most
        # one EqualTo keeps the binding unambiguous.
        self.type_eq = None
        for f in filters:
            if (isinstance(f, EqualTo) and tuple(f.attribute) == ("event_type",)
                    and isinstance(f.value, str) and self.type_eq is None):
                self.type_eq = f.value
            else:
                yield f  # unsupported -> Spark re-applies it

    def partitions(self):
        # The bound filter rides into every InputPartition value, so
        # repeated partitions() calls (re-planning, multiple scans of a
        # cached reader) all see the same, correct binding.
        return [InputPartition((i, self.type_eq))
                for i in range(self.n_parts)]

    def read(self, partition) -> Iterator:
        """Decode ONLY this split's row groups (group g belongs to split
        g mod n_parts) — no split ever decodes another split's bytes."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        split, type_eq = partition.value
        pf = pq.ParquetFile(self.path)
        for g in range(split, pf.metadata.num_row_groups, self.n_parts):
            tbl = pf.read_row_group(g)
            if type_eq is not None:
                tbl = tbl.filter(pc.equal(tbl["event_type"], type_eq))
            yield from _to_arrow(tbl).to_batches()


def register(spark) -> None:
    """Idempotent registration of the custom batch source."""
    spark.dataSource.register(EventsDataSource)


# ---------------------------------------------------------------------------
# Custom STREAMING Python Data Source: micro-batch replay with real
# offset management (initialOffset / latestOffset / partitions / commit)
# — the full streaming-connector contract a Kafka/queue source
# implements, here replaying the events fixture in file order.

from pyspark.sql.datasource import DataSourceStreamReader

STREAM_ROWS_PER_TRIGGER = 2500
STREAM_PARTS = 4


class EventsStreamDataSource(DataSource):
    """`spark.readStream.format("events_stream_pyds")`."""

    @classmethod
    def name(cls) -> str:
        return "events_stream_pyds"

    def schema(self) -> str:
        return SCHEMA

    def streamReader(self, schema) -> "EventsStreamReader":
        return EventsStreamReader(self.options)


class EventsStreamReader(DataSourceStreamReader):
    """Offsets are row positions in file order: each trigger advances
    the high offset by ``rowsPerTrigger`` until the fixture is exhausted,
    then the stream idles (completion is observed from the sink, as with
    the rate-replay source).  Each micro-batch's row range splits into
    ``STREAM_PARTS`` contiguous sub-ranges; executors resolve their
    range to parquet row groups via footer metadata and decode only the
    overlapping groups.

    Restart safety: a fresh reader starts at ``_pos = 0``, but Spark
    replans the pending checkpointed batch through ``partitions()`` (and
    acknowledges finished ones through ``commit()``) — both raise
    ``_pos`` to the checkpointed offset, so ``latestOffset`` never
    proposes progress below what a previous run committed and no
    committed row is re-emitted.  (If a run ends exactly on a committed
    boundary, ``latestOffset`` may briefly return values below the
    checkpoint; those yield empty ranges — guarded in ``partitions()``
    — never duplicates.)"""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("events_stream_pyds: 'path' option is required")
        self.rows_per_trigger = int(
            options.get("rowsPerTrigger", STREAM_ROWS_PER_TRIGGER))
        self.n_parts = int(options.get("partitions", STREAM_PARTS))
        import pyarrow.parquet as pq
        self.total = pq.ParquetFile(self.path).metadata.num_rows
        self._pos = 0

    def initialOffset(self) -> dict:
        return {"row": 0}

    def latestOffset(self) -> dict:
        self._pos = min(self._pos + self.rows_per_trigger, self.total)
        return {"row": self._pos}

    def partitions(self, start: dict, end: dict):
        # Re-learn committed progress (restart safety, see class doc).
        self._pos = max(self._pos, end["row"])
        lo, hi = start["row"], end["row"]
        if hi <= lo:
            return [InputPartition((lo, lo))]
        step = max(1, -(-(hi - lo) // self.n_parts))
        return [InputPartition((p, min(p + step, hi)))
                for p in range(lo, hi, step)]

    def commit(self, end: dict) -> None:
        # Nothing to acknowledge upstream (replay source); still absorb
        # the committed offset for restart monotonicity.
        self._pos = max(self._pos, end["row"])

    def read(self, partition) -> Iterator:
        import pyarrow.parquet as pq
        lo, hi = partition.value
        if hi <= lo:
            return
        pf = pq.ParquetFile(self.path)
        md = pf.metadata
        g_lo = 0
        for g in range(md.num_row_groups):
            g_hi = g_lo + md.row_group(g).num_rows
            if g_hi > lo and g_lo < hi:  # overlap: decode just this group
                tbl = pf.read_row_group(g)
                s, e = max(lo, g_lo) - g_lo, min(hi, g_hi) - g_lo
                yield from _to_arrow(tbl.slice(s, e - s)).to_batches()
            g_lo = g_hi
            if g_lo >= hi:
                break


def register_stream(spark) -> None:
    spark.dataSource.register(EventsStreamDataSource)
