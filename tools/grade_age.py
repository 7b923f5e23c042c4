"""Grade-age audit: which registered queries have a grade older than
the code they depend on? (VERDICT r9 #2, r10 #2/#3.)

The driver's correctness gate grades a ~50-query prefix of the
priority order per round, so a query graded green in r01 may since
have had its module — or a shared dependency like
``sources/domain_views.py`` or ``functions/exact.py`` — rewritten
without ever being re-graded. This tool makes staleness visible and
produces the rotation order for the next round's window:

0. **paper core** — ``flagship_tank_inventory``, then the ``d_*``,
   ``a3_*`` and ``a8_*`` queries, pinned at the head whatever their
   grade age so every budgeted window grades them;
1. **never graded** — no green row in any ``CORRECTNESS_r*.json``;
2. **stale** — some file in the query's import closure has a git
   commit NEWER than the round artifact that last graded it green
   (ordered most-stale-first by commit-minus-grade age);
3. **fresh** — ordered oldest-grade-first (so re-proof budget goes to
   the longest-unverified greens).

"Code path" granularity is the FILE import closure: the module that
defines the query function plus every package-internal module it
transitively imports. File-level is deliberately conservative — any
edit to ``queries/text.py`` marks all its queries stale; false
staleness only costs re-grade budget, false freshness would hide a
regression.

Signal hygiene (VERDICT r10 #2 — the r10 run reported 329/356 stale
because the rotation itself dirtied every closure):

- The priority order lives in ``registry_priority.txt`` (regenerated
  here via ``--write-priority``), NOT in ``registry.py``: registry.py
  is in every query's closure, so a per-round rotation embedded there
  marked everything stale. Data files never enter the ast-parsed
  closure.
- Round artifacts that exist but are not yet committed (the driver
  writes CORRECTNESS_rN.json before the round's final commit) fall
  back to file mtime instead of reading grade_ts=0.
- ``CLOSURE_EXCLUDE`` lists package files deliberately dropped from
  closures. After the priority-order move there is nothing left to
  exclude — every remaining in-closure module (registry.py included)
  changes only on genuinely semantic edits — so the list is empty;
  it exists so any future exclusion is an explicit, pinned
  adjudication (tests/test_plan_audits.py asserts every entry is
  semantics-free: no ``@register`` and no query logic).

Two grade tiers (VERDICT r10 #3): ``CORRECTNESS_r*.json`` rows are
**driver-verified** greens (the real gate); ``SWEEP_r*.json`` rows —
the builder's own full-surface sweep, written per round by
``tools/run_sweep.py`` — are **self-reported** greens. With 356
queries and a ~50-slot driver window the full driver re-proof cycle
is ~7 rounds; the self tier documents that every query was re-proven
against its oracle far more recently than its last driver grade.
Status/rotation use the driver tier only; the ``self`` column shows
the latest self-green round, suffixed ``*`` when that self grade is
newer than the query's code (i.e. the staleness is already
self-cleared, awaiting driver confirmation).

Usage::

    python tools/grade_age.py                   # table + summary
    python tools/grade_age.py --window          # just the rotation order
    python tools/grade_age.py --write-priority  # regenerate registry_priority.txt
"""

from __future__ import annotations

import ast
import glob
import inspect
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
PKG = "ast_data_pipeline_spark"

PRIORITY_FILE = os.path.join(REPO, PKG, "registry_priority.txt")

# Files deliberately excluded from import closures; see module
# docstring. Empty by design after the registry_priority.txt move —
# every entry added later must be a pure-plumbing adjudication and
# passes the semantics-free pin in tests/test_plan_audits.py.
CLOSURE_EXCLUDE: frozenset[str] = frozenset()


def _tracked_commit_ts(paths: list[str]) -> int:
    out = subprocess.run(
        ["git", "log", "-1", "--format=%ct", "--", *paths],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.strip()
    return int(out) if out else 0


def _code_ts(paths: list[str]) -> int:
    """Last commit touching any of ``paths`` (code files are tracked)."""
    return _tracked_commit_ts(paths)


def _artifact_ts(path: str) -> int:
    """Timestamp of a round artifact: its last commit, or — for an
    artifact the driver/builder just wrote and nothing has committed
    yet — the file mtime (r10 bug: grade_ts=0 made fresh grades read
    maximally stale)."""
    ts = _tracked_commit_ts([os.path.basename(path)])
    if ts == 0 and os.path.exists(path):
        ts = int(os.path.getmtime(path))
    return ts


def _module_file(mod_name: str) -> str | None:
    rel = mod_name.replace(".", "/")
    for cand in (f"{rel}.py", f"{rel}/__init__.py"):
        p = os.path.join(REPO, cand)
        if os.path.exists(p):
            return p
    return None


def _package_imports(path: str) -> set[str]:
    """Package-internal module names imported by ``path``."""
    tree = ast.parse(open(path, encoding="utf-8").read())
    mods: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods.update(a.name for a in node.names if a.name.startswith(PKG))
        elif isinstance(node, ast.ImportFrom) and node.module and node.module.startswith(PKG):
            mods.add(node.module)
            # "from pkg.queries import text" style: the names may be modules
            for a in node.names:
                if _module_file(f"{node.module}.{a.name}"):
                    mods.add(f"{node.module}.{a.name}")
    return mods


def _import_closure(start_file: str, cache: dict[str, set[str]]) -> set[str]:
    seen: set[str] = set()
    frontier = [start_file]
    while frontier:
        f = frontier.pop()
        if f in seen or os.path.relpath(f, REPO) in CLOSURE_EXCLUDE:
            continue
        seen.add(f)
        if f not in cache:
            cache[f] = _package_imports(f)
        for mod in cache[f]:
            mf = _module_file(mod)
            if mf and mf not in seen:
                frontier.append(mf)
    return seen


def _parse_green_rows(path: str, last: dict[str, int], rnd: int) -> None:
    data = json.load(open(path))
    for q, v in data.items():
        if not isinstance(v, dict):
            continue
        # rows-only queries (no oracle by design) record
        # err == 'no_oracle' with a live row count — the weaker green.
        if v.get("err") == "no_oracle" and (v.get("spark_rows") or 0) > 0:
            last[q] = max(last.get(q, 0), rnd)
            continue
        if v.get("err"):
            continue
        hash_ok = v.get("hash_match")
        if v.get("rows_match") and (hash_ok is True or hash_ok is None):
            last[q] = max(last.get(q, 0), rnd)


def _grade_history(pattern: str) -> tuple[dict[str, int], dict[int, int]]:
    """(query -> last green round, round -> artifact ts) for one tier."""
    last_green: dict[str, int] = {}
    round_ts: dict[int, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, pattern))):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        round_ts[rnd] = _artifact_ts(path)
        _parse_green_rows(path, last_green, rnd)
    return last_green, round_ts


def audit() -> list[dict]:
    from ast_data_pipeline_spark.registry import load_all

    driver_green, driver_ts = _grade_history("CORRECTNESS_r*.json")
    self_green, self_ts = _grade_history("SWEEP_r*.json")
    cache: dict[str, set[str]] = {}
    rows = []
    for name, spec in load_all().items():
        src = inspect.getsourcefile(inspect.unwrap(spec.fn))
        closure = sorted(_import_closure(src, cache))
        code_ts = _code_ts([os.path.relpath(f, REPO) for f in closure])
        rnd = driver_green.get(name)
        grade_ts = driver_ts.get(rnd, 0) if rnd else 0
        status = (
            "never-graded" if rnd is None
            else "stale" if code_ts > grade_ts
            else "fresh"
        )
        s_rnd = self_green.get(name)
        s_ts = self_ts.get(s_rnd, 0) if s_rnd else 0
        rows.append({
            "query": name, "status": status, "graded_round": rnd,
            "grade_ts": grade_ts, "code_ts": code_ts,
            "age": code_ts - grade_ts,
            "self_round": s_rnd,
            "self_fresh": bool(s_rnd) and s_ts >= code_ts,
            "module": os.path.relpath(src, REPO),
        })
    return rows


def _core_rank(name: str) -> int:
    """0 for the flagship, 1 for the rest of the paper core (the d_*
    domain queries and a3/a8), 2 for everything else."""
    if name == "flagship_tank_inventory":
        return 0
    return 1 if re.fullmatch(r"(?:d|a3|a8)_\w+", name) else 2


def rotation_order(rows: list[dict]) -> list[str]:
    never = [r for r in rows if r["status"] == "never-graded"]
    stale = sorted((r for r in rows if r["status"] == "stale"),
                   key=lambda r: -r["age"])
    fresh = sorted((r for r in rows if r["status"] == "fresh"),
                   key=lambda r: (r["graded_round"], r["query"]))
    return sorted((r["query"] for r in never + stale + fresh), key=_core_rank)


_PRIORITY_HEADER = """\
# GENERATED grading-priority order — regenerate each round with
#   python tools/grade_age.py --write-priority
# The driver's correctness gate grades a ~50-query budgeted prefix of
# this order per round. Deliberately a DATA file, not Python: every
# query module imports registry.py, so keeping this regenerated-every-
# round list inside registry.py marked every query's import closure
# stale on each rotation and destroyed tools/grade_age.py's staleness
# signal (VERDICT r10 "What's wrong" #1). Policy: the paper core first
# (flagship_tank_inventory, then the d_*, a3_* and a8_* queries), then
# never-driver-graded queries, then stale (import closure committed
# after last green driver grade, most-stale first), then fresh greens
# oldest-grade-first; the core keeps that order among itself.
"""


def main() -> None:
    if "--write-priority" in sys.argv:
        order = rotation_order(audit())
        with open(PRIORITY_FILE, "w", encoding="utf-8") as f:
            f.write(_PRIORITY_HEADER)
            f.write("\n".join(order) + "\n")
        print(f"wrote {len(order)} names to {os.path.relpath(PRIORITY_FILE, REPO)}")
        return
    rows = audit()
    if "--window" in sys.argv:
        for q in rotation_order(rows):
            print(q)
        return
    by_status: dict[str, int] = {}
    for r in rows:
        by_status[r["status"]] = by_status.get(r["status"], 0) + 1
    self_cleared = sum(1 for r in rows if r["status"] == "stale" and r["self_fresh"])
    print(f"{'query':46s} {'status':13s} {'round':>5s} {'self':>6s} {'age_days':>9s}  module")
    for r in sorted(rows, key=lambda r: (r["status"] != "never-graded",
                                         r["status"] != "stale", -r["age"])):
        age_d = r["age"] / 86400 if r["status"] == "stale" else 0
        self_col = (str(r["self_round"]) + ("*" if r["self_fresh"] else "")
                    if r["self_round"] else "-")
        print(f"{r['query']:46s} {r['status']:13s} "
              f"{str(r['graded_round'] or '-'):>5s} {self_col:>6s} {age_d:9.2f}  {r['module']}")
    print("\nsummary:", json.dumps(by_status),
          f"(self-cleared stale: {self_cleared};"
          " '*' = self-sweep green newer than the code)")
    print("window head (first 50):")
    for q in rotation_order(rows)[:50]:
        print(" ", q)


if __name__ == "__main__":
    main()
