"""Physical-plan audit: one row per suite query with the plan properties
that matter at scale — exchange count, join strategies, codegen coverage,
scan pushdown, Python (pandas) stages.  Writes PLANS.md.

``--check`` regenerates the table in memory and DIFFS it against the
committed PLANS.md instead of writing: any drift (a query gained an
exchange, lost a broadcast, grew a pandas stage...) fails the gate until
PLANS.md is regenerated — so plan regressions can't land silently.

``--dump DIR`` writes every registered query's optimized logical plan to
``DIR/<query>.txt`` with expression ids (``#123``) renumbered in order of
first appearance, so equal plans print equal text whatever ids the session
handed out, and lambda variables (PySpark names each ``x_<n>`` from one
counter for the whole session) renumbered the same way, so a plan does not
change with the number of lambdas built before it.  (Spark's canonical form
is no help here: it orders the sides of a comparison by hash code, which
changes from run to run.)  Beside the plans it writes each query's
``oracle_sql()`` text to ``DIR/<query>.sql`` and the session's shuffle
partition count and default parallelism to ``DIR/session.json``.
``--diff REF_DIR`` builds the same dumps for the current tree and lists
the queries whose plan or oracle text (whitespace collapsed, see
:func:`oracle_texts`) differs from (or is missing in) ``REF_DIR``, with a
unified diff of each.  It stops with exit code 2 before comparing when the
session values differ from the recorded ones, since the partition count is
printed in every ``RepartitionByExpression``.  Queries in
``UNSTABLE_PLANS`` are left out.  A
plan prints a Python UDF by name only and shortens long literals, so two
queries with equal dumps can still differ in the constants they carry
(the IVF queries' centroids live in their UDF closures), and a string
literal that contains ``#<digits>`` (``'Brand#7'``) is renumbered like an
id: an equal dump is necessary for "same work", not sufficient.

Usage: python tools/plan_audit.py [sf_dir]               (write PLANS.md)
       python tools/plan_audit.py --check [sf_dir]       (drift gate)
       python tools/plan_audit.py --dump DIR [sf_dir]    (plan dumps)
       python tools/plan_audit.py --diff REF_DIR [sf_dir] (plan diff)
"""

from __future__ import annotations

import difflib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "PLANS.md")


def audit_rows(sf_dir: str) -> list[tuple[str, str, str, str, str]]:
    import __spark_entry__ as e
    from gcp_serverless_mapreduce_spark.session import get_spark

    spark = get_spark("plan-audit")
    rows = []
    for name, fn in e.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:
            rows.append((name, "-", "-", "-", f"ERROR: {ex}"))
            continue
        n_ex = len(re.findall(r"\bExchange (?:hash|range|Single)", plan))
        joins = "+".join(sorted({j.replace("Exec", "") for j in re.findall(
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
            r"BroadcastNestedLoopJoin)", plan)})) or "none"
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "no"
        pandas = "yes" if re.search(
            r"MapInPandas|FlatMapGroupsInPandas|ArrowEvalPython", plan) else "no"
        rows.append((name, str(n_ex), joins, pushed, pandas))
    return rows


# Queries whose optimized plan text changes between runs of the same code.
UNSTABLE_PLANS = {
    # RewriteDistinctAggregates iterates an unordered set, so the order of
    # the Expand projections and gid filters of its two distinct
    # aggregates varies from run to run
    "q21_suppliers_kept_orders_waiting",
}


def renumber(plan: str) -> str:
    """``plan`` with lambda variables (``lambda x_17``) and expression ids
    (``#123``) each renumbered in order of first appearance."""
    names: dict[str, int] = {}
    plan = re.sub(
        r"\blambda (\w+?)_(\d+)\b",
        lambda m: f"lambda {m.group(1)}_"
                  f"{names.setdefault(m.group(0), len(names))}",
        plan)
    ids: dict[str, int] = {}
    return re.sub(r"#(\d+)",
                  lambda m: f"#{ids.setdefault(m.group(1), len(ids))}", plan)


def session_values(spark) -> dict[str, str]:
    """The session settings that a plan's text carries."""
    return {"spark.sql.shuffle.partitions":
                spark.conf.get("spark.sql.shuffle.partitions"),
            "defaultParallelism":
                str(spark.sparkContext.defaultParallelism)}


def optimized_plans(spark, sf_dir: str) -> dict[str, str]:
    """query name -> optimized logical plan, renumbered."""
    import __spark_entry__ as e

    plans = {}
    for name, fn in e.queries().items():
        if name in UNSTABLE_PLANS:
            continue
        try:
            plans[name] = renumber(
                fn(spark, sf_dir)._jdf.queryExecution().optimizedPlan()
                .toString())
        except Exception as ex:
            plans[name] = f"ERROR: {type(ex).__name__}"
    return plans


def oracle_texts() -> dict[str, str]:
    """query name -> oracle SQL text with each whitespace run collapsed to
    one space, and dropped after ``(`` and before ``)``, so a line break
    inside a call does not count as a change."""
    import __spark_entry__ as e

    return {n: re.sub(r"\( | \)", lambda m: m.group().strip(),
                      " ".join(t.split()))
            for n, t in e.oracle_sql().items()}


def dump(spark, sf_dir: str, out_dir: str) -> int:
    plans = optimized_plans(spark, sf_dir)
    os.makedirs(out_dir, exist_ok=True)
    for ext, texts in (("txt", plans), ("sql", oracle_texts())):
        for name, text in texts.items():
            with open(os.path.join(out_dir, f"{name}.{ext}"), "w") as fh:
                fh.write(text)
    with open(os.path.join(out_dir, "session.json"), "w") as fh:
        json.dump(session_values(spark), fh, indent=1)
    print(f"wrote {len(plans)} plans and oracle texts to {out_dir}")
    return 0


def _read(ref_dir: str, ext: str) -> dict[str, str]:
    return {f[:-len(ext) - 1]: open(os.path.join(ref_dir, f)).read()
            for f in os.listdir(ref_dir) if f.endswith("." + ext)}


def compare(now: dict[str, str], ref: dict[str, str], what: str,
            ref_dir: str) -> int:
    """Print each name whose text differs from ``ref``; the count."""
    changed = sorted(n for n in now.keys() & ref.keys() if now[n] != ref[n])
    for name in changed:
        print(f"== {name}")
        for ln in difflib.unified_diff(ref[name].splitlines(),
                                       now[name].splitlines(),
                                       "ref", "now", n=0, lineterm=""):
            print(ln)
    for name in sorted(ref.keys() - now.keys()):
        print(f"== {name}: only in {ref_dir}")
    for name in sorted(now.keys() - ref.keys()):
        print(f"== {name}: new query")
    n_diff = len(changed) + len(ref.keys() ^ now.keys())
    print(f"{what} diff: {n_diff} of {len(now.keys() | ref.keys())} "
          "queries differ")
    return n_diff


def diff(spark, sf_dir: str, ref_dir: str) -> int:
    """Compare plans and oracle texts with ``ref_dir``; 1 if any differ,
    2 if the session values differ from the recorded ones."""
    with open(os.path.join(ref_dir, "session.json")) as fh:
        want = json.load(fh)
    have = session_values(spark)
    if have != want:
        print(f"session values differ from {ref_dir}: recorded {want}, "
              f"now {have}; dump and diff under the same SPARK_GRAFT_CPUS")
        return 2
    n_sql = compare(oracle_texts(), _read(ref_dir, "sql"), "oracle text",
                    ref_dir)
    n_plan = compare(optimized_plans(spark, sf_dir), _read(ref_dir, "txt"),
                     "plan", ref_dir)
    print(f"({len(UNSTABLE_PLANS)} unstable plans excluded)")
    return 1 if n_sql or n_plan else 0


def render(rows, sf_dir: str) -> str:
    lines = [
        "# PLANS — physical-plan audit of every suite query",
        "",
        f"Generated by `tools/plan_audit.py` at `{sf_dir}` "
        "(initial AQE plans, pre-execution).",
        "",
        "| query | exchanges | join strategies |"
        " pushed filters | pandas stage |",
        "|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| " + " | ".join(r) + " |")
    return "\n".join(lines) + "\n"


def main() -> int:
    args = sys.argv[1:]
    for mode, act in (("--dump", dump), ("--diff", diff)):
        if mode in args:
            i = args.index(mode)
            target = args[i + 1]
            rest = args[:i] + args[i + 2:]
            sf_dir = rest[0] if rest else "/root/testdata/sf0.01"
            from gcp_serverless_mapreduce_spark.session import get_spark
            return act(get_spark("plan-audit"), sf_dir, target)
    check = "--check" in args
    args = [a for a in args if a != "--check"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    rows = audit_rows(sf_dir)
    text = render(rows, sf_dir)
    if not check:
        with open(OUT, "w") as fh:
            fh.write(text)
        print(f"wrote {OUT} ({len(rows)} queries)")
        return 0
    # drift gate: compare table rows only (the header carries no plan
    # information beyond the sf_dir, which is pinned by usage)
    want = {ln for ln in text.splitlines() if ln.startswith("| ")}
    have = set()
    if os.path.exists(OUT):
        have = {ln for ln in open(OUT).read().splitlines()
                if ln.startswith("| ")}
    gained, lost = sorted(want - have), sorted(have - want)
    if gained or lost:
        print("PLAN DRIFT — PLANS.md is stale "
              "(rerun: python tools/plan_audit.py):")
        for ln in lost:
            print(f"  - {ln}")
        for ln in gained:
            print(f"  + {ln}")
        return 1
    print(f"plan drift gate: OK ({len(rows)} queries match PLANS.md)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
