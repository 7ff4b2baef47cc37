"""One-command CI gate (the judge-runnable analog of the reference's
scripts/test-unit.sh + coverage-report.sh): runs, in order,

1. the unit/plan/golden test suite (pytest),
2. the full DuckDB parity sweep at sf0.01,
3. the public-surface coverage gate (tools/coverage_gate.py),
4. the physical-plan drift gate (tools/plan_audit.py --check — fails
   if any query's plan shape changed without a PLANS.md regen),
5. the line-coverage floor (tools/line_coverage.py — a traced parity
   sweep at sf0.001 vs per-module floors).

Exits non-zero on the first failing gate.  The benchmark
(``python3 perfbench/run.py``) is separate because it is a measurement,
not a gate.

Usage: python tools/run_gates.py [sf_dir]
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(title: str, cmd: list[str]) -> None:
    print(f"==> {title}: {' '.join(cmd)}", flush=True)
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        print(f"GATE FAILED: {title}", flush=True)
        sys.exit(r.returncode)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    run("tests", [sys.executable, "-m", "pytest", "tests/", "-q"])
    run("parity", [sys.executable, "tools/check_parity.py", sf_dir])
    run("surface coverage", [sys.executable, "tools/coverage_gate.py"])
    # PLANS.md is pinned at sf0.01: plan shapes (broadcast choices,
    # exchange counts) legitimately differ by scale, so the drift gate
    # must compare at the committed scale regardless of sf_dir
    run("plan drift", [sys.executable, "tools/plan_audit.py",
                       "--check", "/root/testdata/sf0.01"])
    run("line coverage", [sys.executable, "tools/line_coverage.py",
                          "/root/testdata/sf0.001"])
    print("ALL GATES GREEN")
    return 0


if __name__ == "__main__":
    sys.exit(main())
