"""Benchmark entry point: run one workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
                             --trace <0|1>

Workloads (see BENCHMARK.json and perfbench/METRICS.md):

- ``corpus_anagram``: the reference's anagram job over a seeded 43 MB
  Gutenberg-style corpus, back to back for ``--seconds`` (at least three
  jobs);
- ``query_mix``: a fixed set of registered batch and streaming queries,
  each run once, the first time its plan runs in the session, in
  seed-shuffled order.  One pass of the set is measured, whatever
  ``--seconds`` says: a set that changed with the time budget would change
  the metrics.

One Python process and its Spark JVM on ``local[4]``, one client in a
closed loop.  Every result is checked; the last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``).  The exit code is 0 only when every result was correct.
All files the run writes stay under ``perfbench/.work``.
"""

from __future__ import annotations

import os
import time


def _process_start() -> float:
    """Wall-clock time at which this process started."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


T_START = _process_start()

import argparse  # noqa: E402
import json  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PKG = "gcp_serverless_mapreduce_spark"
CPUS = "4"
WORKLOADS = ("corpus_anagram", "query_mix")
SF_DIR = os.path.join(HERE, "fixtures", "sf0.01")
# operations rerun untraced and traced for trace.overhead_ratio
OVERHEAD_PAIRS = {"corpus_anagram": 2, "query_mix": 8}
REQUIRED = [PKG, "__spark_entry__.py", os.path.join("tools",
                                                    "check_parity.py")]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env() -> None:
    """Point every path Spark and the program write to inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    for d in ("tmp", "spark-local", "ckpt", "scratch", "run"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    retained = " ".join(f"--conf {k}=100000" for k in (
        "spark.ui.retainedJobs", "spark.ui.retainedStages",
        "spark.sql.ui.retainedExecutions"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_STREAM_CKPT": os.path.join(WORK, "ckpt"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp, for
        # the launcher JVM of spark-submit and for the Spark JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options '-Djava.io.tmpdir={tmp} "
            f"-XX:-UsePerfData' {retained} pyspark-shell",
    })
    sys.path.insert(0, ROOT)
    os.chdir(WORK)


def stamp(args) -> dict:
    """What is needed to tell contention from a regression later."""
    sha = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], check=True,
                capture_output=True, text=True, timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "git_sha": sha,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "fixture_mtimes": {f: os.path.getmtime(os.path.join(SF_DIR, f))
                           for f in sorted(os.listdir(SF_DIR))},
        "loadavg_1m_before": os.getloadavg()[0],
        "cpu_steal_s_before": cpu_steal_s(),
    }


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over CPUs (0 where /proc/stat has no steal column)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return 0.0


def start_session():
    """Session factory plus one warm-up job through the JVM and one
    through a Python worker: what a user pays before the first query."""
    from gcp_serverless_mapreduce_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(64).mapInArrow(lambda it: it, "id long").collect()
    return spark, get_spark_s, time.time() - T_START


def peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM plus this Python process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_proc_status_kb(jvm_pid, "VmHWM")
            + _proc_status_kb(os.getpid(), "VmHWM")) / 1024


def _proc_status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def make_ops(args, spark, tracer):
    """The workload's operation iterator, a function that reruns one
    operation by name on a given session through the same timed path, and
    the bytes of input one pass reads."""
    from perfbench import workloads

    run_dir = os.path.join(WORK, "run")
    if args.workload == "corpus_anagram":
        from perfbench import corpus

        c = corpus.generate(os.path.join(run_dir, "corpus"), args.seed)
        sinks = os.path.join(run_dir, "sinks")
        ops = workloads.corpus_ops(spark, tracer, c, sinks, args.seconds)

        def rerun(session, name):
            return workloads.corpus_op(session, tracer, c,
                                       os.path.join(sinks, "rerun"), name)
        return ops, rerun, c.nbytes

    import __spark_entry__ as entry

    names = workloads.QUERY_SET + workloads.STREAM_SET
    oracle = workloads.Oracle(SF_DIR, names + workloads.WARMUP)
    ops = workloads.query_ops(spark, tracer, SF_DIR, args.seed, names,
                              workloads.WARMUP, oracle)
    qs = entry.queries()

    def rerun(session, name):
        return workloads.run_query(session, tracer, qs[name], name, SF_DIR,
                                   oracle)
    fixture_bytes = sum(os.path.getsize(os.path.join(SF_DIR, f))
                        for f in os.listdir(SF_DIR))
    return ops, rerun, fixture_bytes


def tracing_overhead(tracer, spark, ops, rerun, seed: int,
                     pairs: int) -> float:
    """Traced over untraced wall of the same operations, minus 1, measured
    in this process: up to ``pairs`` operations of the run (chosen by the
    seed) are rerun warm once untraced (the wrappers stay installed but
    record nothing) and once traced, the order alternating between pairs
    so drift cancels."""
    names = [op.name for op in ops if op.ok]
    names = random.Random(seed).sample(names, min(pairs, len(names)))
    walls = {False: 0.0, True: 0.0}
    for i, name in enumerate(names):
        for enabled in ((False, True) if i % 2 == 0 else (True, False)):
            tracer.enabled = enabled
            op = rerun(spark, name)
            if not op.ok:
                raise RuntimeError(f"rerun of {name}: {op.error}")
            walls[enabled] += op.wall_s
    tracer.enabled = False
    return walls[True] / walls[False] - 1


def parallel_speedup(tracer, spark, ops, rerun) -> float:
    """Untraced wall of the run's longest operation rerun on ``local[1]``
    over the same operation rerun warm on ``local[4]``."""
    from gcp_serverless_mapreduce_spark import session

    name = max((op for op in ops if op.ok), key=lambda op: op.wall_s).name
    tracer.enabled = False
    t4 = rerun(spark, name)
    spark.stop()
    single = session.get_spark("perfbench-local1", master="local[1]")
    t1 = rerun(single, name)
    single.stop()
    if not (t1.ok and t4.ok):
        raise RuntimeError(f"rerun of {name}: {t1.error or t4.error}")
    return t1.wall_s / t4.wall_s


def end_to_end(args, ops, setup_s: float, input_bytes: int) -> dict:
    """One pass is one corpus job, or the whole query set; its input is the
    corpus, or the fixture tables."""
    total = sum(op.wall_s for op in ops)
    passes = len(ops) if args.workload == "corpus_anagram" else 1
    return {
        "setup_s": setup_s,
        "pass_s": total / passes,
        "input_mb_s": input_bytes * passes / 1e6 / total,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(
        os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files not found under {ROOT}: "
              f"{', '.join(missing)}", file=sys.stderr)
        return 2
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    configure_env()
    info = stamp(args)

    from perfbench.trace import Tracer, layer_metrics

    spark, get_spark_s, setup_s = start_session()
    from gcp_serverless_mapreduce_spark.suite import formats_q
    if hasattr(formats_q, "_SCRATCH_ROOT"):
        # the suite's round-trip queries write here; keep it in WORK
        formats_q._SCRATCH_ROOT = os.path.join(WORK, "scratch")

    tracer = Tracer(bool(args.trace))
    tracer.attach(spark)
    tracer.install()
    op_iter, rerun, nbytes = make_ops(args, spark, tracer)
    ops = []
    for op in op_iter:
        ops.append(op)
        print(f"op {op.name} {op.wall_s:.4f}s "
              f"{'ok' if op.ok else 'FAIL ' + op.error}", file=sys.stderr)
    failed = sum(not op.ok for op in ops)

    if args.trace:
        metrics = layer_metrics(tracer, get_spark_s)
        metrics["session.peak_rss_mb"] = peak_rss_mb(spark)
        spans, n_ops = len(tracer.spans), len(tracer.ops)
        if failed:
            # the run is already reported wrong; skip the reruns
            metrics["trace.overhead_ratio"] = 0.0
            metrics["spark.parallel_speedup"] = 0.0
            spark.stop()
        else:
            metrics["trace.overhead_ratio"] = tracing_overhead(
                tracer, spark, ops, rerun, args.seed,
                OVERHEAD_PAIRS[args.workload])
            metrics["spark.parallel_speedup"] = parallel_speedup(
                tracer, spark, ops, rerun)
        # the trace file holds the timed loop only, not the reruns
        del tracer.spans[spans:], tracer.ops[n_ops:]
        units = _units("per_layer")
    else:
        metrics = end_to_end(args, ops, setup_s, nbytes)
        units = _units("end_to_end")
        spark.stop()
    info["loadavg_1m_after"] = os.getloadavg()[0]
    info["cpu_steal_s_during"] = cpu_steal_s() - info.pop(
        "cpu_steal_s_before")
    if args.trace:
        tracer.write(os.path.join(
            WORK, f"trace-{args.workload}-seed{args.seed}.json"),
            {"stamp": info, "metrics": metrics})
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(units))}")
    print("stamp " + json.dumps(info, sort_keys=True))
    result = {
        "correct": failed == 0 and bool(ops),
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def stop_jvm() -> None:
    """End the Spark JVM this process launched and wait for it, so no
    process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None or getattr(gateway, "proc", None) is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


def _units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


if __name__ == "__main__":
    try:
        code = main()
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
    sys.exit(code)
