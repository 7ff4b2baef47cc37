"""Enforce the surface-coverage gate (tools/coverage_gate.py) so
unreferenced or test-only package code fails CI — the analog of the
reference's scripts/coverage-report.sh per-package floor — and pin each
of its rules on a synthetic package."""

from __future__ import annotations

import ast
import importlib.util
import os
import re
import subprocess
import sys

from gcp_serverless_mapreduce_spark.tables import register_views

SF_DIR = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_register_views_enables_sql(spark):
    register_views(spark, SF_DIR, ["region", "nation"])
    n = spark.sql("SELECT count(*) AS n FROM region "
                  "JOIN nation ON r_regionkey = n_regionkey") \
        .collect()[0]["n"]
    assert n == 25


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


def test_test_only_rule_reports_unreached_defs(tmp_path):
    """``twin`` is reached by no package code, ``_helper`` only from
    ``twin`` and from itself (fixpoint) and ``reexported`` only by
    ``__init__``'s re-export: the gate reports all three, and not ``used``, which a
    registered query in another package module calls, nor ``_fold``,
    which ``used`` calls."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("from .mod import reexported\n")
    (pkg / "mod.py").write_text(
        "def _fold(x):\n"
        "    return x\n"
        "\n"
        "\n"
        "def used(x):\n"
        "    return _fold(x)\n"
        "\n"
        "\n"
        "def _helper(x):\n"
        "    return _helper(x - 1) if x else 0\n"
        "\n"
        "\n"
        "def twin(x):\n"
        "    return _helper(x)\n"
        "\n"
        "\n"
        "def reexported(x):\n"
        "    return x\n")
    (pkg / "queries.py").write_text(
        "from .mod import used\n"
        "from .registry import register\n"
        "\n"
        "\n"
        "@register('q')\n"
        "def q(spark):\n"
        "    return used(spark)\n")
    (pkg / "registry.py").write_text(
        "QUERIES = {}\n"
        "\n"
        "\n"
        "def register(name):\n"
        "    return lambda fn: QUERIES.setdefault(name, fn)\n")
    got = _gate().test_only_defs(str(pkg), [str(pkg)], root=str(tmp_path))
    mod = os.path.join("pkg", "mod.py")
    assert got == [f"{mod}:9 _helper", f"{mod}:13 twin",
                   f"{mod}:17 reexported"]


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


# The cross-engine text and vector contracts, each as it is spelled in
# package source: the DuckDB and Spark forms of the whitespace token split
# and the seeded double fold.
CONTRACT_HOMES = {
    r"string_split_regex\(trim\(lower\(text\)\),\s*'\\\\s\+'\)":
        os.path.join("functions", "text.py"),
    r"F\.split\([^\n]*r\"\\s\+\"\)": os.path.join("functions", "text.py"),
    r"list_reduce\(list_prepend\(CAST\(0\.0 AS DOUBLE\)":
        os.path.join("functions", "vectors.py"),
}
# Private twins that suite modules used to take from one another.
SIBLING_PRIVATES = {"_TOKS", "_STOP_SQL", "_sql_quote", "_SH_CTE", "_bpe_sql"}


def _package_sources() -> dict[str, str]:
    pkg = os.path.join(ROOT, "gcp_serverless_mapreduce_spark")
    out = {}
    for dp, _, fns in os.walk(pkg):
        for f in fns:
            if f.endswith(".py"):
                path = os.path.join(dp, f)
                with open(path, encoding="utf-8") as fh:
                    out[os.path.relpath(path, pkg)] = fh.read()
    return out


def test_text_and_vector_contracts_have_one_home():
    """The token split (DuckDB and Spark forms) and the seeded double fold
    are each written exactly once, in ``functions/``, and no suite module
    imports a private twin from a sibling."""
    sources = _package_sources()
    for pattern, home in CONTRACT_HOMES.items():
        sites = [(path, len(re.findall(pattern, text)))
                 for path, text in sorted(sources.items())
                 if re.search(pattern, text)]
        assert sites == [(home, 1)], (pattern, sites)
    shared = []
    for path, text in sorted(sources.items()):
        if os.path.dirname(path) != "suite":
            continue
        for node in ast.walk(ast.parse(text)):
            if isinstance(node, ast.ImportFrom) and node.level == 1:
                shared += [f"{path}: {node.module}.{a.name}"
                           for a in node.names if a.name in SIBLING_PRIVATES]
    assert not shared, shared
