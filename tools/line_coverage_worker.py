"""Line tracer of the line-coverage gate, and the PySpark daemon that runs
it in each Python worker.

``tools/line_coverage.py`` traces the driver with :func:`tracer` and
starts its session with ``spark.python.daemon.module=line_coverage_worker``
and ``tools/`` on ``PYTHONPATH``, so Spark launches this module in place
of ``pyspark.daemon``.  It wraps ``pyspark.daemon.worker_main``: every
task a forked worker runs executes under the same tracer, and when the
task ends the worker appends the lines it ran to
``$LINE_COVERAGE_WORKER_DIR/<pid>.lines`` (one ``path<TAB>line`` per
row), which the gate merges with the driver's trace.  Workers leave
through ``os._exit``, so the lines are written per task rather than at
exit.
"""

from __future__ import annotations

import os
import sys
import threading

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "gcp_serverless_mapreduce_spark") + os.sep


def tracer(hit: dict[str, set[int]]):
    """A ``sys.settrace`` hook that adds every line run in a package file
    to ``hit[file]``."""

    def _global(frame, event, arg):
        fn = frame.f_code.co_filename
        if event != "call" or not fn.startswith(PKG):
            return None
        lines = hit.setdefault(fn, set())
        lines.add(frame.f_lineno)

        def _local(frame, event, arg):
            if event == "line":
                lines.add(frame.f_lineno)
            return _local

        return _local

    return _global


def traced(worker_main):
    """``worker_main`` with each call traced and its lines appended to
    the calling worker's file."""
    out_dir = os.environ["LINE_COVERAGE_WORKER_DIR"]

    def main(infile, outfile):
        hit: dict[str, set[int]] = {}
        trace = tracer(hit)
        sys.settrace(trace)
        threading.settrace(trace)
        try:
            return worker_main(infile, outfile)
        finally:
            sys.settrace(None)
            threading.settrace(None)
            if hit:
                # the pid of the forked worker, not of the daemon
                out = os.path.join(out_dir, f"{os.getpid()}.lines")
                with open(out, "a", encoding="utf-8") as fh:
                    fh.writelines(f"{fn}\t{ln}\n"
                                  for fn, lines in hit.items()
                                  for ln in lines)

    return main


if __name__ == "__main__":
    import pyspark.daemon as daemon

    daemon.worker_main = traced(daemon.worker_main)
    daemon.manager()
