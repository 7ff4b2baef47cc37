"""Exercise the expression-level helpers the suite doesn't reach
directly, and enforce the surface-coverage gate (tools/coverage_gate.py)
so unreferenced public API fails CI — the analog of the reference's
scripts/coverage-report.sh per-package floor."""

from __future__ import annotations

import hashlib
import importlib.util
import math
import os
import subprocess
import sys

from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.functions.hashing import (
    fnv32a, fnv32a_py, md5_long, minhash_expr,
)
from gcp_serverless_mapreduce_spark.functions.vectors import (
    cosine_similarity,
)
from gcp_serverless_mapreduce_spark.tables import register_views

SF_DIR = "/root/testdata/sf0.001"


def test_fnv32a_column_matches_python_and_reference_golden(spark):
    words = ["acer", "race", "care", "", "ç", "hello world"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {r["w"]: r["h"] for r in
           df.select("w", fnv32a()(F.col("w")).alias("h")).collect()}
    assert got == {w: fnv32a_py(w) for w in words}
    # reference golden (reducephase/shuffle.go:84-91): "acer" -> shard 1
    assert got["acer"] % 5 == 1


def test_md5_long_deterministic_and_bounded(spark):
    df = spark.createDataFrame([("abc",), ("xyz",)], "s string")
    got = {r["s"]: r["h"] for r in
           df.select("s", md5_long(F.col("s"), salt="p|").alias("h"))
           .collect()}
    for s, h in got.items():
        want = int(hashlib.md5(f"p|{s}".encode()).hexdigest()[:15], 16)
        assert h == want
        assert 0 <= h < 2 ** 60


def test_minhash_expr_matches_python_min(spark):
    toks = ["the", "quick", "fox"]
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    for seed in (0, 3):
        got = df.select(minhash_expr(F.col("toks"), seed).alias("m")) \
            .collect()[0]["m"]
        want = min(hashlib.md5(f"{seed}|{t}".encode()).hexdigest()
                   for t in toks)
        assert got == want


def test_cosine_similarity_column(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]),
         ([1.0, 1.0], [1.0, 0.0]), ([0.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>")
    got = [r["c"] for r in
           df.select(cosine_similarity(F.col("a"), F.col("b"))
                     .alias("c")).collect()]
    assert got[0] == 1.0 and got[1] == 0.0
    assert math.isclose(got[2], 1 / math.sqrt(2), rel_tol=1e-12)
    assert got[3] is None  # zero vector -> NULL, not a division error


def test_register_views_enables_sql(spark):
    register_views(spark, SF_DIR, ["region", "nation"])
    n = spark.sql("SELECT count(*) AS n FROM region "
                  "JOIN nation ON r_regionkey = n_regionkey") \
        .collect()[0]["n"]
    assert n == 25


def test_tws_operator_builds_plan(spark):
    """running_user_totals_tws wiring: the transformWithStateInPandas
    plan must BUILD and carry the declared output schema without the
    TWS worker runtime (protobuf) — execution is cluster-only, logic is
    covered in test_stateful_streaming.py."""
    from gcp_serverless_mapreduce_spark.streaming import pipeline, stateful
    out = stateful.running_user_totals_tws(
        pipeline.stream_table(spark, SF_DIR, "events"))
    assert [f.name for f in out.schema.fields] == \
        ["user_id", "n_events", "total_value"]
    assert out.isStreaming


def test_surface_coverage_gate_passes():
    r = subprocess.run([sys.executable, "tools/coverage_gate.py"],
                       capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode == 0, r.stdout + r.stderr


def test_surface_coverage_gate_fails_on_missing_consumer(monkeypatch, capsys):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "coverage_gate", os.path.join(root, "tools", "coverage_gate.py"))
    gate = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gate)
    assert gate.missing_consumers(gate.CONSUMERS) == []
    gone = os.path.join(root, "no_such_consumer.py")
    assert gate.missing_consumers([gate.PKG, gone]) == [gone]
    monkeypatch.setattr(gate, "CONSUMERS", gate.CONSUMERS + [gone])
    assert gate.main() == 1
    assert "no_such_consumer.py" in capsys.readouterr().out
