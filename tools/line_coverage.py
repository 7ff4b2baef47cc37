"""Line-coverage gate over the package, stdlib-only (the true analog of
the reference's scripts/coverage-report.sh per-package THRESHOLDS block;
no coverage/pytest-cov wheel ships in this sandbox, so the collector is
a ``sys.settrace`` hook scoped to package files).

What runs under the tracer: the entry() smoke plus a full
build-and-collect of every registered query (the Spark half of the
parity sweep — the DuckDB oracle half touches no package code, so it is
skipped to keep the gate's wall time sane; value correctness is the
parity gate's job, not this one's).  Pandas-UDF, applyInPandas and UDTF
bodies run in PySpark's Python worker processes: the session starts
them through ``tools/line_coverage_worker.py`` (set as
``spark.python.daemon.module``, and the home of the hook), which traces
each worker the same way and leaves one line file per worker pid; the
gate merges them and fails when there is none, so it cannot fall back
to driver-only counts.
Python data-source readers (sources/pyds.py) run in workers that Spark
starts outside the daemon and stay untraced.  Floors are a measured run
minus a margin: the gate's job is catching DROPS (dead branches,
unexercised new code), not asserting an absolute number.

Usage: python tools/line_coverage.py [sf_dir]    (exit 1 below floors)
       python tools/line_coverage.py -v [sf_dir] (per-file table only,
                                                  no gate)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import threading
import types

from line_coverage_worker import PKG, tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")
sys.path.insert(0, ROOT)

# Per-module minimum line coverage (percent), calibrated to the traced
# query sweep at sf0.001 (driver and Python workers) minus a ~5-point
# noise margin.  A drop below the floor means newly-added lines aren't
# exercised by any registered query or a code path died — both gate
# failures.
_P = "gcp_serverless_mapreduce_spark"
FLOORS: dict[str, int] = {
    f"{_P}/__init__.py": 90,
    f"{_P}/registry.py": 85,
    f"{_P}/session.py": 60,
    f"{_P}/tables.py": 75,
    f"{_P}/streaming/__init__.py": 90,
    f"{_P}/streaming/pipeline.py": 85,
    f"{_P}/streaming/stateful.py": 95,
    f"{_P}/operators/__init__.py": 90,
    f"{_P}/operators/anagram.py": 82,
    f"{_P}/operators/behavior.py": 95,
    f"{_P}/operators/curation.py": 95,
    f"{_P}/operators/dedup.py": 90,
    f"{_P}/operators/graph.py": 89,
    f"{_P}/operators/layout.py": 95,
    f"{_P}/operators/linkage.py": 95,
    f"{_P}/operators/multimodal.py": 89,
    f"{_P}/operators/profiling.py": 93,
    f"{_P}/operators/retrieval.py": 95,
    f"{_P}/operators/similarity.py": 92,
    f"{_P}/operators/sketches.py": 95,
    f"{_P}/operators/skew.py": 88,
    f"{_P}/operators/temporal.py": 91,
    f"{_P}/operators/textstats.py": 93,
    f"{_P}/suite/__init__.py": 85,
    f"{_P}/suite/anagram_q.py": 95,
    f"{_P}/suite/behavior_q.py": 95,
    f"{_P}/suite/curation_q.py": 95,
    f"{_P}/suite/dedup_q.py": 85,
    f"{_P}/suite/formats_q.py": 95,
    f"{_P}/suite/graph_q.py": 95,
    f"{_P}/suite/layout_q.py": 95,
    f"{_P}/suite/linkage_q.py": 95,
    f"{_P}/suite/multimodal_q.py": 95,
    f"{_P}/suite/profiling_q.py": 95,
    f"{_P}/suite/relational_q.py": 94,
    f"{_P}/suite/retrieval_q.py": 95,
    f"{_P}/suite/similarity_q.py": 85,
    f"{_P}/suite/sketch_q.py": 95,
    f"{_P}/suite/streaming_q.py": 95,
    f"{_P}/suite/temporal_q.py": 95,
    f"{_P}/suite/textstats_q.py": 95,
    f"{_P}/suite/tpch_extra_q.py": 95,
    f"{_P}/sources/__init__.py": 90,
    f"{_P}/sources/formats.py": 92,
    # the data-source readers run in Python workers Spark starts outside
    # the daemon, so the worker tracer does not see them
    f"{_P}/sources/pyds.py": 61,
    f"{_P}/sources/text.py": 95,
    f"{_P}/functions/__init__.py": 90,
    f"{_P}/functions/text.py": 95,
    f"{_P}/functions/udtfs.py": 88,
    f"{_P}/functions/vectors.py": 83,
}


_executed: dict[str, set[int]] = {}


def _trace_workers(worker_dir: str) -> None:
    """Make the session about to start run its Python workers under
    tools/line_coverage_worker.py, writing line files to ``worker_dir``."""
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.python.daemon.module=line_coverage_worker "
        "pyspark-shell")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (TOOLS, os.environ.get("PYTHONPATH")) if p)
    os.environ["LINE_COVERAGE_WORKER_DIR"] = worker_dir


def _merge_workers(worker_dir: str) -> int:
    """Add the workers' line files to ``_executed``; -> files merged."""
    names = [n for n in os.listdir(worker_dir) if n.endswith(".lines")]
    for name in names:
        with open(os.path.join(worker_dir, name), encoding="utf-8") as fh:
            for row in fh:
                fn, ln = row.rstrip("\n").split("\t")
                _executed.setdefault(fn, set()).add(int(ln))
    return len(names)


def executable_lines(path: str) -> set[int]:
    code = compile(open(path, encoding="utf-8").read(), path, "exec")
    out: set[int] = set()
    stack = [code]
    while stack:
        c = stack.pop()
        out.update(ln for _s, _e, ln in c.co_lines() if ln is not None)
        stack.extend(k for k in c.co_consts
                     if isinstance(k, types.CodeType))
    return out


def _write_books(path: str) -> None:
    """Three small Latin-1 books with Gutenberg markers and a few anagram
    families, so the strip, tokenize and sink paths all run."""
    os.makedirs(path)
    body = "listen silent enlist, race care acre; garçon naïve stone notes\n"
    for i in range(3):
        text = (f"Book {i} front matter\n"
                "*** START OF THIS PROJECT GUTENBERG EBOOK ***\n"
                + body * 50 + "End of the Project Gutenberg EBook\n")
        with open(os.path.join(path, f"book{i}.txt"), "wb") as fh:
            fh.write(text.encode("ISO-8859-1"))


def run_traced(sf_dir: str) -> None:
    """Execute, in-process under the tracer: the PACKAGE IMPORT itself
    (module-level registration/constant lines count), entry(), every
    queries() entry (build + collect — steering collects, streaming
    runs and sink writes all fire), and a miniature Gutenberg
    corpus-to-formatted-sink roundtrip (the reference's S1-S6 text
    source/sink surface, which no parquet-table query touches)."""
    failures = []
    worker_dir = tempfile.mkdtemp(prefix="line_cov_workers_")
    _trace_workers(worker_dir)
    trace = tracer(_executed)
    sys.settrace(trace)
    threading.settrace(trace)
    try:
        import __spark_entry__ as e
        from gcp_serverless_mapreduce_spark.operators.anagram import (
            anagram_pipeline)
        from gcp_serverless_mapreduce_spark.session import get_spark
        from gcp_serverless_mapreduce_spark.sources.text import (
            read_gutenberg_corpus, write_anagram_sink)

        spark = get_spark("line-coverage")
        e.entry(spark).collect()
        for name, fn in e.queries().items():
            try:
                fn(spark, sf_dir).collect()
            except Exception as ex:       # noqa: BLE001 — report, then gate
                failures.append(f"{name}: {ex}")
        # mini text-source roundtrip
        scratch = tempfile.mkdtemp(prefix="line_cov_gutenberg_")
        try:
            _write_books(os.path.join(scratch, "in"))
            docs = (read_gutenberg_corpus(spark, os.path.join(scratch, "in"))
                    .withColumnRenamed("path", "doc_id")
                    .withColumnRenamed("content", "text"))
            write_anagram_sink(anagram_pipeline(docs, gutenberg=True),
                               os.path.join(scratch, "out"),
                               num_partitions=2)
            # directory-tree table: the footer-metadata row count must
            # walk part files and prune hidden/metadata dirs exactly
            # like Spark's scan (a literal _spark_metadata dir
            # would flip Spark into its stream-sink log reader, so the
            # junk dir here is a neutral underscore name)
            from gcp_serverless_mapreduce_spark.tables import (
                table_row_count)
            tdir = os.path.join(scratch, "t.parquet")
            spark.range(10).coalesce(2).write.parquet(tdir)
            os.makedirs(os.path.join(tdir, "_staging_tmp"))
            with open(os.path.join(tdir, "_staging_tmp",
                                   "junk.parquet"), "w") as fh:
                fh.write("not parquet")
            assert table_row_count(scratch, "t") == 10
            # STREAMING-SINK table: the count must follow the
            # _spark_metadata commit log and skip orphan part files from
            # crashed micro-batches — the sink-log reader
            # is runtime surface no parquet-fixture query reaches, so
            # the gate drives it here (same shape as
            # tests/test_output_schema_types.py's pytest twin)
            src = os.path.join(scratch, "s_src")
            spark.range(10).coalesce(1).write.json(src)
            sdir = os.path.join(scratch, "s.parquet")
            q = (spark.readStream.schema("id long").json(src)
                 .writeStream.format("parquet")
                 .option("path", sdir)
                 .option("checkpointLocation",
                         os.path.join(scratch, "s_ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            committed = [n for n in os.listdir(sdir)
                         if n.endswith(".parquet")
                         and not n.startswith("_")]
            shutil.copyfile(
                os.path.join(sdir, committed[0]),
                os.path.join(sdir, "part-orphan.c000.snappy.parquet"))
            assert table_row_count(scratch, "s") == 10
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    finally:
        sys.settrace(None)
        threading.settrace(None)
    merged = _merge_workers(worker_dir)
    shutil.rmtree(worker_dir, ignore_errors=True)
    if not merged:
        print("line_coverage: no Python worker line file was written — "
              "the worker tracer did not run, so worker-side lines would "
              "count as missed")
        sys.exit(1)
    print(f"line_coverage: merged {merged} Python worker line files")
    if failures:
        print("line_coverage: queries FAILED during the traced run — "
              "coverage numbers would be from a broken run:")
        for f in failures:
            print(f"  {f}")
        sys.exit(1)


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "-v"]
    verbose_only = "-v" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    run_traced(sf_dir)

    rows = []
    for dirpath, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, ROOT)
            exe = executable_lines(full)
            if not exe:
                continue
            hit = _executed.get(full, set()) & exe
            pct = 100.0 * len(hit) / len(exe)
            rows.append((rel, len(hit), len(exe), pct))

    total_hit = sum(r[1] for r in rows)
    total_exe = sum(r[2] for r in rows)
    print(f"{'module':60s} {'hit':>5s} {'exe':>5s} {'pct':>6s}  floor")
    failures = []
    for rel, hit, exe, pct in rows:
        floor = FLOORS.get(rel)
        mark = ""
        if floor is not None and pct < floor and not verbose_only:
            failures.append((rel, pct, floor))
            mark = "  << BELOW FLOOR"
        print(f"{rel:60s} {hit:5d} {exe:5d} {pct:5.1f}%  "
              f"{floor if floor is not None else '-'}{mark}")
    print(f"{'TOTAL':60s} {total_hit:5d} {total_exe:5d} "
          f"{100.0 * total_hit / total_exe:5.1f}%")
    if verbose_only:
        return 0
    missing = [r[0] for r in rows if r[0] not in FLOORS]
    if missing:
        print("line_coverage: modules missing a floor entry "
              "(add to FLOORS):")
        for m in missing:
            print(f"  {m}")
        return 1
    if failures:
        print("line_coverage: BELOW FLOOR:")
        for rel, pct, floor in failures:
            print(f"  {rel}: {pct:.1f}% < {floor}%")
        return 1
    print("line coverage gate: OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
