"""Exercise the expression-level helpers the suite doesn't reach
directly, and enforce the surface-coverage gate (tools/coverage_gate.py)
so unreferenced public API fails CI — the analog of the reference's
scripts/coverage-report.sh per-package floor."""

from __future__ import annotations

import hashlib
import importlib.util
import os
import re
import subprocess
import sys

from pyspark.sql import functions as F

from gcp_serverless_mapreduce_spark.functions.hashing import (
    fnv32a, fnv32a_py, md5_long, minhash_expr,
)
from gcp_serverless_mapreduce_spark.tables import register_views

SF_DIR = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
                       capture_output=True, text=True, cwd=ROOT)
    assert r.returncode == 0, r.stdout + r.stderr


def _gate():
    spec = importlib.util.spec_from_file_location(
        "coverage_gate", os.path.join(ROOT, "tools", "coverage_gate.py"))
    gate = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gate)
    return gate


def test_surface_coverage_gate_fails_on_missing_consumer(monkeypatch, capsys):
    gate = _gate()
    assert gate.missing_consumers(gate.CONSUMERS) == []
    gone = os.path.join(ROOT, "no_such_consumer.py")
    assert gate.missing_consumers([gate.PKG, gone]) == [gone]
    monkeypatch.setattr(gate, "CONSUMERS", gate.CONSUMERS + [gone])
    assert gate.main() == 1
    assert "no_such_consumer.py" in capsys.readouterr().out


def test_option_rule_reports_unchosen_options(tmp_path):
    """``outer(col)`` is only ever passed its default and ``inner(col)``
    only receives ``outer``'s unchosen ``col``: the gate reports both,
    and not ``outer(n)``, which a caller sets."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "def inner(df, col='text'):\n"
        "    return df[col]\n"
        "\n"
        "\n"
        "def outer(df, col='text', n=3):\n"
        "    return inner(df, col=col), n\n")
    caller = tmp_path / "caller.py"
    caller.write_text("from pkg.mod import outer\n"
                      "outer({}, n=4)\n"
                      "outer({}, col='text')\n")
    got = _gate().unchosen_options(str(pkg), [str(pkg), str(caller)],
                                   root=str(tmp_path))
    assert got == [os.path.join("pkg", "mod.py") + ":1 inner(col)",
                   os.path.join("pkg", "mod.py") + ":5 outer(col)"]


def test_literal_rule_reports_same_literal_parameters(tmp_path):
    """Every call passes ``outer(col)`` the literal 'text' and ``inner``
    receives it through ``outer``: the gate reports both, and not
    ``outer(n)``, which calls pass two literals, nor ``inner(df)``, which
    is not a literal; an aliased import counts as a call."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "def inner(df, col):\n"
        "    return df[col]\n"
        "\n"
        "\n"
        "def outer(df, col, n):\n"
        "    return inner(df, col), n\n")
    caller = tmp_path / "caller.py"
    caller.write_text("from pkg.mod import outer as run\n"
                      "df = {}\n"
                      "run(df, 'text', 3)\n"
                      "run(df, col='text', n=4)\n")
    got = _gate().same_literal_params(str(pkg), [str(pkg), str(caller)],
                                      root=str(tmp_path))
    assert got == [os.path.join("pkg", "mod.py") + ":1 inner(col)",
                   os.path.join("pkg", "mod.py") + ":5 outer(col)"]


def _missing_citations(kind: str) -> set[str]:
    """``<kind>/<name>.py`` files that code, tests or the run docs cite
    but that do not exist."""
    files = [os.path.join(ROOT, f) for f in
             ("__spark_entry__.py", "README.md",
              os.path.join(".claude", "skills", "verify", "SKILL.md"))]
    for sub in ("gcp_serverless_mapreduce_spark", "tools", "tests"):
        for dp, _, fns in os.walk(os.path.join(ROOT, sub)):
            files += [os.path.join(dp, f) for f in fns if f.endswith(".py")]
    missing = set()
    for path in files:
        if not os.path.exists(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for name in re.findall(rf"\b{kind}/(\w+\.py)", fh.read()):
                if not os.path.exists(os.path.join(ROOT, kind, name)):
                    missing.add(f"{os.path.relpath(path, ROOT)}: "
                                f"{kind}/{name}")
    return missing


def test_cited_tools_exist():
    """Every cited ``tools/<name>.py`` exists, so deleting a tool cannot
    leave a dangling instruction."""
    missing = _missing_citations("tools")
    assert not missing, sorted(missing)


def test_cited_tests_exist():
    """Every cited ``tests/<name>.py`` exists, so a docstring cannot
    point at a test file that was renamed or never written."""
    missing = _missing_citations("tests")
    assert not missing, sorted(missing)
