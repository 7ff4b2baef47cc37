"""Surface-coverage gate (CI analog of the reference's
scripts/coverage-report.sh per-package discipline, adapted to what the
sandbox ships: no coverage/pytest-cov wheel, so the gate is a static
AST audit rather than line counts).

Rule 1: every PUBLIC symbol (top-level function/class not prefixed with
``_``) defined in ``gcp_serverless_mapreduce_spark`` must be REFERENCED
from outside its defining module — by the query suite, the tests, the
entry point, or another package module.  Unreferenced public surface is
either dead code or untested API; both fail the gate.

This is deliberately a NAME-reference audit, not an import audit: a
symbol re-exported but never called still fails, so padding via
re-export cannot pass.

Rule 2: every keyword option (a parameter with a default) of a
top-level package function that some caller calls must be CHOSEN by at
least one call in ``CONSUMERS`` or ``perfbench/`` (read, never
changed).  A call chooses an option when it passes it a value; passing
the default again does not count, nor does passing through an
unchosen option of the enclosing function.  The rule runs to a
fixpoint, so an option chosen only by such pass-throughs is unchosen
too.  An option nobody chooses is a setting no test or benchmark
exercises: make it the value it always takes.

Rule 3: a required parameter (no default) of a top-level package
function must not be passed the same literal by every call.  Calls and
pass-throughs are read as for Rule 2: a parameter passed straight
through from the enclosing function takes the literals that function's
own parameter receives, to a fixpoint.  Such a parameter is a constant
in disguise: write the literal in the body.

Usage: python tools/coverage_gate.py        (exit 1 on orphans, on
                                             never-chosen options, on
                                             same-literal parameters or
                                             on a missing CONSUMERS path)
       python tools/coverage_gate.py -v     (per-module table)
"""

from __future__ import annotations

import ast
import os
import re
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "gcp_serverless_mapreduce_spark")
CONSUMERS = [PKG, os.path.join(ROOT, "tests"),
             os.path.join(ROOT, "__spark_entry__.py"),
             os.path.join(ROOT, "tools")]
PERFBENCH = os.path.join(ROOT, "perfbench")

# Framework-invoked methods/classes: referenced by Spark by NAME or
# protocol, not by our code.  Kept explicit so additions are audited.
PROTOCOL_OK = {
    "name", "schema", "reader", "streamReader", "writer", "read",
    "partitions", "pushFilters", "initialOffset", "latestOffset",
    "commit", "abort", "write",
}

# Keyword options that may stay unchosen (Rule 2):
# "pkg/module.py function(option)" -> reason.  Kept explicit so
# additions are audited.
OPTION_OK: dict[str, str] = {}

# Required parameters that may take one literal from every call (Rule 3):
# "pkg/module.py function(parameter)" -> reason.
LITERAL_OK: dict[str, str] = {}


def _is_registered(node) -> bool:
    """True for suite queries carrying the @register(...) decorator —
    those are invoked through the registry by tools/check_parity.py,
    which runs every entry."""
    for dec in getattr(node, "decorator_list", []):
        d = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(d, ast.Name) and d.id == "register":
            return True
        if isinstance(d, ast.Attribute) and d.attr == "register":
            return True
    return False


def public_defs(path: str) -> dict[str, list[tuple[str, int, bool]]]:
    """module-relpath -> [(symbol, lineno, registered)] for top-level
    public defs."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, ROOT)
            tree = ast.parse(open(full, encoding="utf-8").read())
            syms = []
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                    if not node.name.startswith("_"):
                        syms.append((node.name, node.lineno,
                                     _is_registered(node)))
            if syms:
                out[rel] = syms
    return out


def missing_consumers(consumers: list[str]) -> list[str]:
    """Consumer paths that do not exist.  A deleted consumer must fail
    the gate rather than silently shrink the reference set."""
    return [c for c in consumers if not os.path.exists(c)]


def _py_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(dp, f) for dp, _dirs, fs in os.walk(path)
                  for f in fs if f.endswith(".py"))


def referenced_names() -> dict[str, set[str]]:
    """name -> set of files (outside the defining one) referencing it."""
    refs: dict[str, set[str]] = defaultdict(set)
    for full in (f for c in CONSUMERS for f in _py_files(c)):
        rel = os.path.relpath(full, ROOT)
        tree = ast.parse(open(full, encoding="utf-8").read())
        call_arg_strings: set[str] = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                # string constants count as symbol references ONLY when
                # passed as call arguments (registry / format-string
                # call sites such as .format("events_pyds") or
                # call_function("shiftright", ...)); an incidental
                # same-named string elsewhere (a dict key, a column
                # alias) must not satisfy the gate
                for a in list(node.args) + [k.value for k in node.keywords]:
                    if (isinstance(a, ast.Constant)
                            and isinstance(a.value, str)
                            and 0 < len(a.value) < 64
                            and not any(c.isspace() for c in a.value)):
                        call_arg_strings.add(a.value)
            # count NAME USES and attribute accesses, not defs/imports:
            # `from x import f` alone must not satisfy the gate
            if isinstance(node, ast.Attribute):
                refs[node.attr].add(rel)
            elif isinstance(node, ast.Name) and isinstance(node.ctx,
                                                           ast.Load):
                refs[node.id].add(rel)
        for s in call_arg_strings:
            refs[s].add(rel)
    return refs


def _options(fn: ast.FunctionDef) -> dict[str, ast.expr]:
    """option name -> default expression."""
    a = fn.args
    pos = a.posonlyargs + a.args
    opts = {p.arg: d for p, d in
            zip(pos[len(pos) - len(a.defaults):], a.defaults)}
    opts.update((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None)
    return opts


def _passed(fn: ast.FunctionDef, call: ast.Call) -> dict:
    """parameter name -> value expression, or None where ``*args`` /
    ``**kwargs`` may reach it."""
    pos = [p.arg for p in fn.args.posonlyargs + fn.args.args]
    given: dict = {}
    for i, v in enumerate(call.args):
        if isinstance(v, ast.Starred):
            given.update((p, None) for p in pos[i:] if p not in given)
            break
        if i < len(pos):
            given[pos[i]] = v
    for k in call.keywords:
        if k.arg is None:
            given.update((p, None) for p in _options(fn) if p not in given)
        else:
            given[k.arg] = k.value
    return given


def _same(value: ast.expr, value_mod: str, default: ast.expr,
          default_mod: str) -> bool:
    """True when ``value`` is ``default`` written again: an equal
    literal, or the same expression in the defining module."""
    if value_mod == default_mod and ast.dump(value) == ast.dump(default):
        return True
    try:
        a, b = ast.literal_eval(value), ast.literal_eval(default)
    except (ValueError, TypeError, SyntaxError):
        return False
    return type(a) is type(b) and a == b


def _defs_and_calls(pkg: str, callers: list[str], root: str):
    """Top-level functions of ``pkg`` by name, ``[(module, def)]``, and
    every call of one of those names in ``callers``: ``(callee name,
    call, caller module, enclosing top-level def name or None)``."""
    defs: dict[str, list] = defaultdict(list)
    for full in _py_files(pkg):
        mod = os.path.relpath(full, root)
        tree = ast.parse(open(full, encoding="utf-8").read())
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[node.name].append((mod, node))
    calls = []
    for c in callers:
        for full in _py_files(c):
            mod = os.path.relpath(full, root)
            tree = ast.parse(open(full, encoding="utf-8").read())
            # `from m import f as g` makes a call of g a call of f
            alias = {a.asname: a.name for node in ast.walk(tree)
                     if isinstance(node, ast.ImportFrom)
                     for a in node.names if a.asname}
            for top in tree.body:
                enc = top.name if isinstance(
                    top, (ast.FunctionDef, ast.AsyncFunctionDef)) else None
                for node in ast.walk(top):
                    if not isinstance(node, ast.Call):
                        continue
                    f = node.func
                    name = (f.id if isinstance(f, ast.Name) else
                            f.attr if isinstance(f, ast.Attribute) else None)
                    name = alias.get(name, name)
                    if name in defs:
                        calls.append((name, node, mod, enc))
    return defs, calls


def unchosen_options(pkg: str, callers: list[str],
                     root: str = ROOT) -> list[str]:
    """``module.py:line function(option)`` for every keyword option of
    a directly called top-level function in ``pkg`` that no call in
    ``callers`` chooses (Rule 2)."""
    found, calls = _defs_and_calls(pkg, callers, root)
    defs = {name: [(mod, fn, _options(fn)) for mod, fn in lst]
            for name, lst in found.items()}
    own = {(mod, fn.name): opts for lst in defs.values()
           for mod, fn, opts in lst}
    chosen: set[tuple[str, str, str]] = set()
    grew = True
    while grew:
        grew = False
        for name, call, mod, enc in calls:
            outer = own.get((mod, enc), {})
            for dmod, fn, opts in defs[name]:
                for opt, value in _passed(fn, call).items():
                    if opt not in opts or (dmod, name, opt) in chosen:
                        continue
                    if (isinstance(value, ast.Name) and value.id in outer
                            and (mod, enc, value.id) not in chosen):
                        value = outer[value.id]     # pass-through
                    if value is None or not _same(value, mod, opts[opt],
                                                  dmod):
                        chosen.add((dmod, name, opt))
                        grew = True
    called = {name for name, *_ in calls}
    return [f"{mod}:{fn.lineno} {name}({opt})"
            for name in sorted(called) for mod, fn, opts in defs[name]
            for opt in opts if (mod, name, opt) not in chosen]


def _required(fn: ast.FunctionDef) -> list[str]:
    """Parameters without a default (``*args``/``**kwargs`` excluded)."""
    opts = _options(fn)
    a = fn.args
    return [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs
            if p.arg not in opts]


_VARIES = "varies"


def same_literal_params(pkg: str, callers: list[str],
                        root: str = ROOT) -> list[str]:
    """``module.py:line function(parameter)`` for every required
    parameter of a directly called top-level function in ``pkg`` that
    every call in ``callers`` passes one and the same literal (Rule 3)."""
    defs, calls = _defs_and_calls(pkg, callers, root)
    # registered queries are called through the registry, with the run's
    # sf_dir, so the by-name calls seen here are not all of their calls
    defs = {name: [(mod, fn) for mod, fn in lst if not _is_registered(fn)]
            for name, lst in defs.items()}
    req = {(mod, fn.name): set(_required(fn))
           for lst in defs.values() for mod, fn in lst}
    # (module, function, parameter) -> set of (type, literal) passed,
    # or _VARIES once some call passes a non-literal
    seen: dict[tuple[str, str, str], object] = defaultdict(set)
    grew = True
    while grew:
        grew = False
        for name, call, mod, enc in calls:
            outer = req.get((mod, enc), set())
            for dmod, fn in defs[name]:
                for p, value in _passed(fn, call).items():
                    key = (dmod, name, p)
                    if p not in req[(dmod, name)] or seen[key] is _VARIES:
                        continue
                    if isinstance(value, ast.Name) and value.id in outer:
                        got = seen[(mod, enc, value.id)]   # pass-through
                    else:
                        try:
                            lit = ast.literal_eval(value)
                            got = {(type(lit).__name__, repr(lit))}
                        except (ValueError, TypeError, SyntaxError):
                            got = _VARIES
                    if got is _VARIES:
                        seen[key] = _VARIES
                        grew = True
                    elif not got <= seen[key]:
                        seen[key] |= got
                        grew = True
    return [f"{mod}:{fn.lineno} {name}({p})"
            for name in sorted(defs) for mod, fn in defs[name]
            for p in _required(fn)
            if seen.get((mod, name, p)) is not _VARIES
            and len(seen.get((mod, name, p), ())) == 1]


def main() -> int:
    verbose = "-v" in sys.argv
    missing = missing_consumers(CONSUMERS)
    if missing:
        print("MISSING CONSUMERS (restore them or drop them from CONSUMERS):")
        for m in missing:
            print(f"  {os.path.relpath(m, ROOT)}")
        return 1
    defs = public_defs(PKG)
    refs = referenced_names()
    total = ok = 0
    orphans = []
    for mod, syms in sorted(defs.items()):
        mod_ok = 0
        for name, lineno, registered in syms:
            total += 1
            # the reference set EXCLUDES the defining module: a public
            # symbol only used by its own file (including recursion)
            # is private surface wearing a public name — either demote
            # it to _name or exercise it from tests/suite.  This
            # enforces the docstring's "referenced from outside its
            # defining module" rule literally.
            outside = refs.get(name, set()) - {mod}
            if outside or registered or name in PROTOCOL_OK:
                ok += 1
                mod_ok += 1
            else:
                orphans.append(f"{mod}:{lineno} {name}")
        if verbose:
            print(f"{mod}: {mod_ok}/{len(syms)} public symbols referenced")
    pct = 100.0 * ok / total if total else 100.0
    print(f"surface coverage: {ok}/{total} public symbols exercised "
          f"(referenced in Load context, suite-registered, or "
          f"protocol-invoked) ({pct:.1f}%)")
    if orphans:
        print("ORPHANS (dead or untested public surface):")
        for o in orphans:
            print(f"  {o}")
    unchosen = [u for u in unchosen_options(PKG, CONSUMERS + [PERFBENCH])
                if re.sub(r":\d+ ", " ", u) not in OPTION_OK]
    print(f"keyword options never chosen by a caller: {len(unchosen)}")
    if unchosen:
        print("NEVER-CHOSEN OPTIONS (make each the value it always takes):")
        for u in unchosen:
            print(f"  {u}")
    literal = [u for u in same_literal_params(PKG, CONSUMERS + [PERFBENCH])
               if re.sub(r":\d+ ", " ", u) not in LITERAL_OK]
    print(f"required parameters every call passes one literal: "
          f"{len(literal)}")
    if literal:
        print("SAME-LITERAL PARAMETERS (write the literal in the body):")
        for u in literal:
            print(f"  {u}")
    return 1 if orphans or unchosen or literal else 0


if __name__ == "__main__":
    sys.exit(main())
