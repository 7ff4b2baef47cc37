"""Outside-in tracing for the benchmark.

Everything here observes the program from the benchmark's side: wrappers
around public functions of each layer, one Spark job group per operation,
a harvest of Spark's status store, SQL metrics and codegen counters after
each operation, and a ``StreamingQueryListener``.  Spans stay in memory and
are written out when the run ends.

With tracing off, :class:`Tracer` only times operations; nothing is
wrapped, no plan is forced and nothing is harvested inside the timed loop.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import re
import statistics
import sys
import threading
import time
from contextlib import contextmanager

PKG = "gcp_serverless_mapreduce_spark"

# (module, function, layer): the public calls a span is recorded around.
WRAPPED = [
    ("tables", "load_table", "tables"),
    ("tables", "spread_small_scan", "tables"),
    ("sources.text", "read_gutenberg_corpus", "sources"),
    ("sources.text", "write_anagram_sink", "sources"),
    ("operators.anagram", "anagram_pipeline", "operators"),
    ("streaming.pipeline", "run_available_now", "streaming"),
    ("streaming.pipeline", "run_available_now_mapped", "streaming"),
    ("streaming.pipeline", "run_rate_replay", "streaming"),
]

PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
# the explode of per-document distinct words feeding the partial aggregate
GENERATE_NODE = re.compile(r"^Generate")
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


class Span:
    __slots__ = ("id", "parent", "op", "name", "layer", "t0", "t1", "attrs")

    def __init__(self, id_, parent, op, name, layer, t0, t1=0.0, attrs=None):
        self.id, self.parent, self.op = id_, parent, op
        self.name, self.layer, self.t0, self.t1 = name, layer, t0, t1
        self.attrs = attrs or {}

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._op_id = 0
        self.ops: list = []
        self.harvest_s = 0.0
        self.listener = None
        self.spark = None
        self._job_seen = -1
        self._exec_seen = -1
        self._codegen = (0, 0)
        self._run_stats_seen = 0

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled or not self._stack:
            yield None
            return
        s = Span(next(self._ids), self._stack[-1].id, self._op_id, name,
                 layer, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()

    @contextmanager
    def op(self, op):
        """Time one operation; with tracing on, it is the root span, runs
        under its own job group and is harvested after it ends."""
        self._op_id += 1
        root = None
        if self.enabled:
            self.spark.sparkContext.setJobGroup(f"op-{self._op_id}", op.name)
            root = Span(next(self._ids), None, self._op_id, op.name, "op",
                        time.time())
            self.spans.append(root)
            self._stack.append(root)
        op.t0 = time.time()
        p0 = time.perf_counter()
        try:
            yield op
        finally:
            op.wall_s = time.perf_counter() - p0
            op.t1 = time.time()
            self.ops.append(op)
            if root is not None:
                root.t1 = op.t1
                self._stack.pop()
                h0 = time.perf_counter()
                self.harvest(op, root)
                self.harvest_s += time.perf_counter() - h0

    def force_plan(self, df) -> None:
        """Plan before executing, so planning is timed on its own.  An
        action on this same DataFrame (``df.collect()``) reuses its
        QueryExecution, so no work is added; an action on a DataFrame
        derived from it would plan again."""
        if self.enabled:
            df._jdf.queryExecution().executedPlan()

    def start_timing(self) -> None:
        """Forget warm-up work: metrics and harvests see only what
        follows."""
        self.ops.clear()
        self.spans.clear()
        self.harvest_s = 0.0
        if self.enabled:
            self._job_seen = self._max_job_id()
            self._exec_seen = self._max_exec_id()
            self._codegen = self._codegen_counts()
            self._run_stats_seen = len(self._run_stats())
            self.listener.drain()

    # -- instrumentation -------------------------------------------------
    def install(self) -> None:
        """Wrap each function of WRAPPED wherever the package bound it."""
        import importlib

        if not self.enabled:
            return
        for mod, fname, layer in WRAPPED:
            orig = getattr(importlib.import_module(f"{PKG}.{mod}"), fname)
            wrapper = self._wrap(orig, fname, layer)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG) and \
                        getattr(m, fname, None) is orig:
                    setattr(m, fname, wrapper)

    def _wrap(self, fn, fname: str, layer: str):
        from importlib import import_module

        tables = import_module(f"{PKG}.tables")

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(fname, layer) as s:
                memo = getattr(tables, "_TABLE_CACHE", None)
                n0 = len(memo) if memo is not None else None
                out = fn(*args, **kwargs)
                if s is not None:
                    if fname == "load_table":
                        s.attrs["table"] = args[2] if len(args) > 2 else ""
                        s.attrs["hit"] = n0 is not None and len(memo) == n0
                    elif fname == "spread_small_scan":
                        s.attrs["added"] = out is not args[0]
                    elif fname == "write_anagram_sink":
                        s.attrs["files"] = sum(
                            1 for p in os.listdir(args[1])
                            if p.startswith("part-"))
                return out
        return wrapper

    def attach(self, spark) -> None:
        self.spark = spark
        if self.enabled:
            self.listener = _listener(spark)
            # serializes status-store objects in one call, as Spark's REST
            # API does
            jvm = spark.sparkContext._jvm
            self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            self._mapper.registerModule(
                jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())

    # -- harvest -----------------------------------------------------------
    def _store_json(self, obj) -> list:
        return json.loads(self._mapper.writeValueAsString(obj))

    def _status(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _max_job_id(self) -> int:
        jobs = self._store_json(self._status().jobsList(None))
        return max((j["jobId"] for j in jobs), default=-1)

    def _max_exec_id(self) -> int:
        ex = self.spark._jsparkSession.sharedState().statusStore() \
            .executionsList()
        return ex.apply(ex.size() - 1).executionId() if ex.size() else -1

    def _codegen_counts(self) -> tuple[int, int]:
        jvm = self.spark.sparkContext._jvm
        n = jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME().getCount()
        ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
            .CodeGenerator.compileTime()
        return int(n), int(ns)

    @staticmethod
    def _run_stats() -> list:
        from importlib import import_module

        return getattr(import_module(f"{PKG}.streaming.pipeline"),
                       "RUN_STATS", [])

    def harvest(self, op, root: Span) -> None:
        """Attach this operation's Spark jobs, stages, tasks, SQL metrics,
        codegen and streaming progress to its root span."""
        store = self._status()
        jobs = [j for j in self._store_json(store.jobsList(None))
                if j["jobId"] > self._job_seen]
        self._job_seen = max([j["jobId"] for j in jobs] + [self._job_seen])
        jvm = self.spark.sparkContext._jvm
        gw = self.spark.sparkContext._gateway
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._store_json(store.stageList(
            None, False, False, gw.new_array(jvm.double, 0),
            jvm.java.util.ArrayList()))
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"]
        for s in stages:
            tasks = self._store_json(
                store.taskList(s["stageId"], s["attemptId"], 100000))
            s["taskDurations"] = [t.get("duration") or 0 for t in tasks]
            s["schedulerDelay"] = sum(t.get("schedulerDelay") or 0
                                      for t in tasks)
        n0, ns0 = self._codegen
        self._codegen = self._codegen_counts()
        run_stats = self._run_stats()
        batch_side = sum(r.get("batch_side_ms", 0)
                         for r in run_stats[self._run_stats_seen:])
        self._run_stats_seen = len(run_stats)
        root.attrs.update(
            jobs=len(jobs), stages=stages,
            codegen_compiles=self._codegen[0] - n0,
            codegen_ms=(self._codegen[1] - ns0) / 1e6,
            sql=self._sql_metrics(), batch_side_ms=batch_side,
            progress=self.listener.drain())
        # Micro-batches (from the listener) and then Spark jobs (from the
        # status store, milliseconds since the epoch) become spans under
        # the innermost span that covers their start.
        for ev in root.attrs["progress"]:
            t1 = ev["t0"] + ev["durationMs"].get("triggerExecution", 0) / 1e3
            self._add_child(root, f"batch {ev['batchId']}", "streaming",
                            ev["t0"], t1)
        for j in jobs:
            if j.get("submissionTime") and j.get("completionTime"):
                self._add_child(root, f"job {j['jobId']}", "spark",
                                j["submissionTime"] / 1e3,
                                j["completionTime"] / 1e3)

    def _add_child(self, root: Span, name: str, layer: str, t0: float,
                   t1: float) -> None:
        covering = [s for s in self.spans
                    if s.op == root.op and s.t0 <= t0 <= s.t1]
        parent = max(covering, key=lambda s: s.t0, default=root)
        self.spans.append(Span(next(self._ids), parent.id, root.op, name,
                               layer, t0, t1))

    def _sql_metrics(self) -> dict:
        """Rows and bytes through Python/Arrow exec nodes, and rows out of
        Generate (explode) nodes, in the SQL executions that ran since the
        last harvest."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        ex = sql.executionsList()
        rows = sent = generated = 0
        last = self._exec_seen
        for i in range(ex.size() - 1, -1, -1):
            eid = ex.apply(i).executionId()
            if eid <= self._exec_seen:
                break
            last = max(last, eid)
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                python = bool(PYTHON_NODE.search(node.name()))
                if not python and not GENERATE_NODE.search(node.name()):
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    v = values.get(metric.accumulatorId())
                    if v.isEmpty():
                        continue
                    if metric.name() == "number of output rows":
                        if python:
                            rows += _metric_number(v.get())
                        else:
                            generated += _metric_number(v.get())
                    elif metric.name() == "data sent to Python workers":
                        sent += _metric_number(v.get())
        self._exec_seen = last
        return {"python_rows": rows, "python_bytes": sent,
                "generate_rows": generated}

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": [s.as_dict() for s in self.spans]},
                      fh)


def _metric_number(text: str) -> float:
    """First value of a formatted SQL metric: a plain count ('1,234') or
    the total line of a size metric ('total (min, ...)\\n12.5 KiB (...)')."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2) or "B",
                                                          1)


def _listener(spark):
    """Register a StreamingQueryListener that keeps every progress event."""
    from datetime import datetime

    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []
            self.running: set[str] = set()
            self.cv = threading.Condition()

        def onQueryStarted(self, event):
            with self.cv:
                self.running.add(str(event.id))

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            t0 = datetime.fromisoformat(
                p.timestamp.replace("Z", "+00:00")).timestamp()
            with self.cv:
                self.events.append({
                    "batchId": p.batchId, "t0": t0,
                    "numInputRows": p.numInputRows,
                    "durationMs": dict(p.durationMs or {}),
                    "stateRows": sum(o.numRowsTotal for o in ops),
                    "stateBytes": sum(o.memoryUsedBytes for o in ops),
                    "stateCommitMs": sum(o.commitTimeMs for o in ops),
                    "lateRows": sum(o.numRowsDroppedByWatermark
                                    for o in ops),
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.cv:
                self.running.discard(str(event.id))
                self.cv.notify_all()

        def drain(self) -> list[dict]:
            """Progress events so far, after every started query has
            reported its end (the listener bus is asynchronous)."""
            with self.cv:
                self.cv.wait_for(lambda: not self.running, timeout=5.0)
                out, self.events = self.events, []
            return out

    listener = Listener()
    spark.streams.addListener(listener)
    return listener


# -- per-layer metrics -----------------------------------------------------

def _children(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return kids


def _covered(span: Span, inner) -> float:
    """Seconds of ``span``'s interval that the union of ``inner`` covers."""
    covered, end = 0.0, span.t0
    for c in sorted(inner, key=lambda c: c.t0):
        lo, hi = max(c.t0, end), min(c.t1, span.t1)
        if hi > lo:
            covered += hi - lo
            end = hi
    return covered


def _self_ms(spans: list[Span]) -> dict[str, float]:
    """Self time per layer: each span's duration minus the part of its
    interval its children cover."""
    kids = _children(spans)
    out: dict[str, float] = {}
    for s in spans:
        own = s.t1 - s.t0 - _covered(s, kids.get(s.id, []))
        out[s.layer] = out.get(s.layer, 0.0) + max(0.0, own) * 1e3
    return out


def _build_self_ms(spans: list[Span]) -> float:
    """Driver-side time in the suite's query builders: each ``build`` span
    of layer ``suite`` minus the union of the streaming runs, micro-batches
    and Spark jobs nested under it (builders of streaming queries run the
    query, and some builders run eager jobs)."""
    kids = _children(spans)

    def execution(s: Span):
        for c in kids.get(s.id, []):
            if c.layer in ("streaming", "spark"):
                yield c
            else:
                yield from execution(c)

    return sum(b.t1 - b.t0 - _covered(b, execution(b)) for b in spans
               if b.name == "build" and b.layer == "suite") * 1e3


def _anagram_stages(stages: list[dict]) -> dict | None:
    """The corpus job's two shuffle-writing stages in submission order: the
    map stage (scan, decode, strip, tokenize, normalize, signature and
    partial aggregate, fused into the scan when the corpus arrives in at
    least as many splits as cores) and the reduce stage (final aggregate,
    shuffled into the sink's partitions)."""
    writers = [s for s in sorted(stages, key=lambda s: s["stageId"])
               if s["shuffleWriteRecords"] > 0]
    if len(writers) < 2:
        return None
    return {"map": writers[0], "reduce": writers[1]}


def layer_metrics(tracer: Tracer, session_s: float) -> dict[str, float]:
    """Every per-layer metric but ``spark.parallel_speedup``,
    ``trace.overhead_ratio`` and ``session.peak_rss_mb``, which the caller
    measures after the timed loop."""
    roots = [s for s in tracer.spans if s.layer == "op"]
    n = max(len(roots), 1)
    wall_ms = sum(op.wall_s for op in tracer.ops) * 1e3 or 1.0

    def spans_named(name):
        return [s for s in tracer.spans if s.name == name]

    def dur_ms(spans):
        return sum(s.t1 - s.t0 for s in spans) * 1e3

    stages = [st for r in roots for st in r.attrs.get("stages", [])]
    events = [e for r in roots for e in r.attrs.get("progress", [])]
    loads = spans_named("load_table")
    spreads = spans_named("spread_small_scan")
    selfs = _self_ms(tracer.spans)

    def stage_ms(s):
        if s.get("submissionTime") and s.get("completionTime"):
            return s["completionTime"] - s["submissionTime"]
        return 0

    run_ms = sum(s["executorRunTime"] for s in stages) or 1
    walls = sorted(op.wall_s for op in tracer.ops)
    m = {
        "session.get_spark_s": session_s,
        "op.p50_s": statistics.median(walls),
        "op.p90_s": walls[min(len(walls) - 1, int(0.9 * len(walls)))],
        "suite.build_ms": _build_self_ms(tracer.spans) / n,
        "tables.load_table_calls": len(loads),
        "tables.load_table_hit_ratio":
            sum(s.attrs.get("hit", False) for s in loads) / len(loads)
            if loads else 0.0,
        "tables.load_table_share": dur_ms(loads) / wall_ms,
        "tables.spread_added": sum(s.attrs.get("added", False)
                                   for s in spreads),
        "spark.plan_ms": dur_ms(spans_named("plan")) / n,
        "spark.exec_ms": dur_ms(spans_named("exec")) / n,
        "spark.jobs": sum(r.attrs.get("jobs", 0) for r in roots) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": sum(s["numTasks"] for s in stages) / n,
        "spark.task_wait_ms": sum(s["schedulerDelay"] for s in stages) / n,
        "spark.gc_share": sum(s["jvmGcTime"] for s in stages) / run_ms,
        "spark.codegen_compiles":
            sum(r.attrs.get("codegen_compiles", 0) for r in roots) / n,
        "spark.codegen_share":
            sum(r.attrs.get("codegen_ms", 0) for r in roots) / wall_ms,
        "spark.python_rows":
            sum(r.attrs.get("sql", {}).get("python_rows", 0)
                for r in roots) / n,
        "spark.python_bytes":
            sum(r.attrs.get("sql", {}).get("python_bytes", 0)
                for r in roots) / n,
        "spark.shuffle_bytes":
            sum(s["shuffleWriteBytes"] for s in stages) / n,
        "sources.read_corpus_share":
            dur_ms(spans_named("read_gutenberg_corpus")) / wall_ms,
        "sources.scan_stage_share":
            sum(stage_ms(s) for s in stages if s["inputBytes"] > 0) / wall_ms,
        "sources.sink_write_share":
            sum(stage_ms(s) for s in stages if s["outputBytes"] > 0)
            / wall_ms,
        "sources.sink_files": sum(s.attrs.get("files", 0)
                                  for s in spans_named("write_anagram_sink")),
    }

    # Anagram job stages, from the operations that wrote the anagram sink.
    sink_ops = {s.op for s in spans_named("write_anagram_sink")}
    jobs = []
    for r in roots:
        j = _anagram_stages(r.attrs.get("stages", [])) \
            if r.op in sink_ops else None
        if j:
            j["tokens"] = r.attrs.get("sql", {}).get("generate_rows", 0)
            jobs.append(j)
    skews = []
    for j in jobs:
        d = [x for x in j["map"]["taskDurations"] if x > 0]
        if d:
            skews.append(max(d) / statistics.median(d))
    m.update({
        "operators.anagram.map_stage_share":
            sum(stage_ms(j["map"]) for j in jobs) / wall_ms,
        "operators.anagram.map_task_skew":
            statistics.median(skews) if skews else 0.0,
        "operators.anagram.shuffle_records":
            sum(j["map"]["shuffleWriteRecords"] for j in jobs) / max(
                len(jobs), 1),
        "operators.anagram.shuffle_bytes":
            sum(j["map"]["shuffleWriteBytes"] for j in jobs) / max(
                len(jobs), 1),
        "operators.anagram.partial_agg_ratio":
            sum(j["map"]["shuffleWriteRecords"] for j in jobs)
            / sum(j["tokens"] for j in jobs)
            if jobs and all(j["tokens"] for j in jobs) else 0.0,
        "operators.anagram.reduce_stage_share":
            sum(stage_ms(j["reduce"]) for j in jobs) / wall_ms,
    })

    # Streaming, from the listener's progress events.
    trig = sum(e["durationMs"].get("triggerExecution", 0) for e in events)
    trig_or_1 = trig or 1

    def part(*keys):
        return sum(e["durationMs"].get(k, 0) for e in events
                   for k in keys) / trig_or_1

    stream_wall = sum(dur_ms([s]) for s in tracer.spans
                      if s.layer == "streaming" and s.name.startswith("run_"))
    batch_side = sum(r.attrs.get("batch_side_ms", 0) for r in roots)
    rows = sum(e["numInputRows"] for e in events)
    stream_ops = {s.op for s in tracer.spans
                  if s.layer == "streaming" and s.name.startswith("run_")}
    m.update({
        "streaming.op_share": sum(
            (r.t1 - r.t0) * 1e3 for r in roots if r.op in stream_ops)
            / wall_ms,
        "streaming.batches": len(events),
        "streaming.useful_batch_ratio":
            sum(e["numInputRows"] > 0 for e in events) / len(events)
            if events else 0.0,
        "streaming.input_rows": rows,
        "streaming.rows_s": rows / (trig / 1e3) if trig else 0.0,
        "streaming.trigger_share": trig / wall_ms,
        "streaming.source_share": part("latestOffset", "getBatch"),
        "streaming.plan_share": part("queryPlanning"),
        "streaming.add_batch_share": part("addBatch"),
        "streaming.wal_commit_share": part("walCommit", "commitOffsets"),
        "streaming.state_commit_share":
            sum(e["stateCommitMs"] for e in events) / trig_or_1,
        "streaming.state_rows": sum(e["stateRows"] for e in events),
        "streaming.state_bytes": max((e["stateBytes"] for e in events),
                                     default=0),
        "streaming.late_rows_dropped": sum(e["lateRows"] for e in events),
        "streaming.start_stop_share":
            max(0.0, stream_wall - trig - batch_side) / stream_wall
            if stream_wall else 0.0,
        "streaming.batch_side_share": batch_side / wall_ms,
    })
    for layer in ("op", "suite", "tables", "sources", "operators",
                  "streaming", "spark"):
        m[f"self_share.{layer}"] = selfs.get(layer, 0.0) / wall_ms
    m["trace.harvest_s"] = tracer.harvest_s
    return m
