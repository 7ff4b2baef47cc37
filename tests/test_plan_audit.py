"""``tools/plan_audit.py`` helpers that need no Spark session: the plan
renumbering that makes dumps comparable, and the session-value check
that stops ``--diff`` before it compares plans taken under other
settings."""

from __future__ import annotations

import importlib.util
import json
import os
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _audit():
    spec = importlib.util.spec_from_file_location(
        "plan_audit", os.path.join(ROOT, "tools", "plan_audit.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_renumber_lambda_variables_and_ids():
    """Two builds of one filter differ only in the session-wide lambda
    counter and the expression ids; renumbered, they print equal, and
    distinct variables stay distinct."""
    renumber = _audit().renumber
    first = ("Project [filter(t#12, lambdafunction(NOT (lambda x_1#13 = ), "
             "lambda x_1#13, false)) AS u#14]")
    later = ("Project [filter(t#40, lambdafunction(NOT (lambda x_2#41 = ), "
             "lambda x_2#41, false)) AS u#42]")
    assert renumber(first) == renumber(later) == (
        "Project [filter(t#0, lambdafunction(NOT (lambda x_0#1 = ), "
        "lambda x_0#1, false)) AS u#2]")
    assert renumber("lambda acc_9#5 + lambda x_10#6, lambda x_3#7") == (
        "lambda acc_0#0 + lambda x_1#1, lambda x_2#2")


def test_diff_stops_on_other_session_values(tmp_path, capsys):
    """A dump taken under other shuffle settings is refused, not
    compared: its ``RepartitionByExpression`` counts would all differ."""
    audit = _audit()
    (tmp_path / "session.json").write_text(json.dumps(
        {"spark.sql.shuffle.partitions": "32", "defaultParallelism": "32"}))
    spark = SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: "4"),
        sparkContext=SimpleNamespace(defaultParallelism=4))
    assert audit.diff(spark, "unused", str(tmp_path)) == 2
    assert "session values differ" in capsys.readouterr().out
