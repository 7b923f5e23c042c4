#!/usr/bin/env python
"""Per-query overlap table: which registered query another one covers.

A query's capability, in Spark SQL terms, is the Catalyst expressions
and physical operators it executes plus the package code that builds
them. For every registered query Q this tool records, from a sweep of
the registry at sf0.001 on raw lineage into the ``noop`` sink:

- **F** -- the package functions Q calls on the driver
  (``sys.setprofile``), leaving out Q's own function, its closures
  and any ``queries/`` helper no other query reaches;
- **O** -- the multiset of physical operators over every SQL
  execution Q launches (the executed plan graphs from the SQL status
  store), leaving out the AQE and codegen wrappers in ``WRAPPERS``;
- **E** -- the expression-function names in those operators'
  descriptions (``try_cast``, ``get_json_object``, a Python UDF's
  name, ...), which O alone does not tell apart.

K covers Q when F(Q) <= F(K), E(Q) <= E(K) and O(Q) <= O(K) as
multisets. The sweep runs twice and every check must hold in both; a
query whose O differs between the two sweeps is *unstable* (a late
execution got attributed to its neighbour) and is never retired.

Q is a retirement candidate when it is not protected (``protection``)
and a kept query of its own ``queries/`` module covers it. Among
queries that cover each other, one is always kept: the one earliest
in the registry's grading order. The result is written to OVERLAP.md, one row
per registered query.

Usage: python tools/query_overlap.py
"""

from __future__ import annotations

import os
import pathlib
import re
import sys
from collections import Counter

REPO = pathlib.Path(__file__).resolve().parents[1]
for p in (REPO, REPO / "perfbench"):
    if str(p) not in sys.path:
        sys.path.insert(0, str(p))

PKG = REPO / "ast_data_pipeline_spark"
PKG_PREFIX = str(PKG) + os.sep
OUT = REPO / "OVERLAP.md"
SWEEPS = 2
# Plan-graph nodes that wrap the operators without being one.
WRAPPERS = frozenset({"AdaptiveSparkPlan", "AQEShuffleRead", "WholeStageCodegen",
                      "InputAdapter", "ColumnarToRow"})
PROTECTED_PREFIXES = ("flagship_", "d_", "a3_", "a8_")
_EXPR = re.compile(r"(?<![A-Za-z0-9_])([a-z_][a-z0-9_]*)\(")
# Code objects that are part of their enclosing function or module.
_INLINE_CODE = ("<listcomp>", "<dictcomp>", "<setcomp>", "<genexpr>", "<module>")


def _function_key(code) -> str | None:
    path = code.co_filename
    if not path.startswith(PKG_PREFIX) or code.co_qualname.endswith(_INLINE_CODE):
        return None
    return f"{path[len(PKG_PREFIX):]}:{code.co_qualname}"


def _operator(name: str) -> str | None:
    name = re.sub(r"\s*\(\d+\)$", "", name).strip()
    if name in WRAPPERS or name.endswith("QueryStage"):
        return None
    return name


def run_query(spark, probe, sql_store, spec, sf_dir):
    """(F, O, E) of one query: driver calls, operator multiset and
    expression names over the SQL executions its noop write launches."""
    keys: dict = {}
    calls: set[str] = set()

    def profile(frame, event, _arg):
        if event == "call":
            code = frame.f_code
            key = keys.get(code, 0)
            if key == 0:
                key = keys[code] = _function_key(code)
            if key:
                calls.add(key)

    mark = probe.mark()
    sys.setprofile(profile)
    try:
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    finally:
        sys.setprofile(None)
    ops: Counter = Counter()
    exprs: set[str] = set()
    for e in probe.since(mark).executions:
        graph = sql_store.planGraph(e)
        nodes = graph.allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            op = _operator(node.name())
            if op:
                ops[op] += 1
                exprs.update(_EXPR.findall(node.desc()))
    return calls, ops, exprs


def sweep(spark, specs, sf_dir) -> dict:
    """{name: (F, O, E)} for every query, or {name: error text}."""
    from spans import StatusProbe

    probe = StatusProbe(spark)
    sql_store = spark._jsparkSession.sharedState().statusStore()
    out = {}
    for name, spec in specs.items():
        try:
            out[name] = run_query(spark, probe, sql_store, spec, sf_dir)
        except Exception as e:  # recorded in the table, not fatal
            out[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:120]}"
        print(name, "ERR" if isinstance(out[name], str) else "ok", flush=True)
    return out


def own_functions(specs, runs) -> dict[str, set[str]]:
    """Per query, the F keys that belong to it alone: its registered
    function, that function's closures, and the ``queries/`` helpers
    that no other query reaches in any sweep."""
    reachers: dict[str, set[str]] = {}
    for run in runs:
        for name, rec in run.items():
            if not isinstance(rec, str):
                for key in rec[0]:
                    reachers.setdefault(key, set()).add(name)
    own = {}
    for name, spec in specs.items():
        code = spec.fn.__code__
        fn_key = _function_key(code)
        mine = {fn_key}
        for key, who in reachers.items():
            if key.startswith(f"{fn_key}.<locals>."):
                mine.add(key)
            elif who == {name} and key.startswith("queries" + os.sep):
                mine.add(key)
        own[name] = mine
    return own


def _module(spec) -> str:
    return spec.fn.__module__.rsplit(".", 1)[-1]


def protection(specs, unstable) -> dict[str, str]:
    """{query: reason} for the queries that are never retired."""
    def named_in(text: str) -> set[str]:
        return set(re.findall(r"[a-z][a-z0-9_]*", text)) & set(specs)

    coverage = (REPO / "COVERAGE.md").read_text(encoding="utf-8")
    core = coverage[coverage.index("## §2.1"):coverage.index("## North-star")]
    tests = "\n".join(p.read_text(encoding="utf-8")
                      for p in sorted((REPO / "tests").glob("*.py"))
                      if p.name != "test_parity.py")
    sources = [
        ("COVERAGE.md §2.1-§2.9", named_in(core)),
        ("named by a test", named_in(tests)),
        ("SCALING.md", named_in((REPO / "SCALING.md").read_text(encoding="utf-8"))),
        ("PLANS.md", named_in((REPO / "PLANS.md").read_text(encoding="utf-8"))),
    ]
    reasons = {}
    for name, spec in specs.items():
        if name in unstable:
            reasons[name] = "unstable O"
        elif "bench" in spec.tags:
            reasons[name] = "bench"
        elif name.startswith(PROTECTED_PREFIXES):
            reasons[name] = "paper core"
        else:
            for reason, names in sources:
                if name in names:
                    reasons[name] = reason
                    break
    return reasons


def _covers(k, q) -> bool:
    """Does record k cover record q (each: (F, O, E))?"""
    (fk, ok, ek), (fq, oq, eq) = k, q
    return fq <= fk and eq <= ek and all(ok[op] >= n for op, n in oq.items())


def overlap(specs, runs):
    """Rows of the table: (name, module, |F|, |E|, |O|, covering, status)."""
    ok = [n for n in specs if all(not isinstance(r[n], str) for r in runs)]
    own = own_functions(specs, runs)
    sets = {n: [(r[n][0] - own[n], r[n][1], r[n][2]) for r in runs] for n in ok}
    unstable = {n for n in ok if any(r[n][1] != runs[0][n][1] for r in runs)}
    reasons = protection(specs, unstable)
    covering = {
        q: sorted(k for k in ok if k != q
                  and all(_covers(sk, sq) for sk, sq in zip(sets[k], sets[q])))
        for q in ok
    }
    module = {n: _module(specs[n]) for n in specs}
    rank = {n: i for i, n in enumerate(specs)}

    def size(n):  # equal sets: keep the query the grading order reaches first
        f, o, e = sets[n][0]
        return len(f) + len(e) + sum(o.values()), -rank[n]

    retired: set[str] = set()
    for q in sorted(ok, key=size):
        if q not in reasons and any(
                module[k] == module[q] and k not in retired for k in covering[q]):
            retired.add(q)
    rows = []
    for name in specs:
        if name not in ok:
            err = next(r[name] for r in runs if isinstance(r[name], str))
            rows.append((name, module[name], "", "", "", "", f"error: {err}"))
            continue
        f, o, e = sets[name][0]
        shown = [k for k in covering[name] if k not in retired]
        if name in retired:
            status = "covered within module: retire"
        elif name in reasons:
            status = f"protected: {reasons[name]}"
        elif shown:
            status = "covered only across modules"
        else:
            status = "uncovered"
        cov_text = ", ".join(shown[:3]) + (f" +{len(shown) - 3}" if len(shown) > 3 else "")
        rows.append((name, module[name], len(f), len(e), sum(o.values()), cov_text, status))
    return rows


def render(rows, sf_dir) -> str:
    status = Counter(r[6].split(":")[0] for r in rows)
    summary = ", ".join(f"{k} {v}" for k, v in sorted(status.items()))
    out = f"""# OVERLAP -- which registered query covers which

Generated by `python tools/query_overlap.py` ({len(rows)} registered
queries; {summary}). Each query ran at `{os.path.basename(sf_dir)}` on raw lineage into
the `noop` sink, in {SWEEPS} sweeps of one session. |F| counts the package
functions the query calls on the driver, without its own function,
closures and `queries/` helpers no other query reaches. |E| counts the
expression-function names in its executed operators, and ops the
physical operators of every SQL execution it launches (AQE and codegen
wrappers left out). K covers Q when F, E and the operator multiset of Q
are contained in K's, in every sweep. A query covered by a kept query of
its own module is retired unless protected (bench, paper core, named in
COVERAGE.md §2.1-§2.9, a test, SCALING.md or PLANS.md, or an operator
multiset that differs between sweeps).

| query | module | \\|F\\| | \\|E\\| | ops | covered by | status |
|---|---|---|---|---|---|---|
"""
    for r in sorted(rows, key=lambda r: (r[1], r[0])):
        out += "| " + " | ".join(str(c) for c in r) + " |\n"
    return out


def main() -> None:
    from ast_data_pipeline_spark.registry import load_all
    from ast_data_pipeline_spark.session import get_spark
    from ast_data_pipeline_spark.sources.catalog import DEFAULT_SF_DIR

    os.environ["SPARK_GRAFT_CACHE_VIEWS"] = "0"  # raw lineage, no view cache
    sf_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")
    specs = load_all()
    spark = get_spark("query-overlap")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        runs = [sweep(spark, specs, sf_dir) for _ in range(SWEEPS)]
    finally:
        spark.stop()
    rows = overlap(specs, runs)
    OUT.write_text(render(rows, sf_dir), encoding="utf-8")
    retire = [r[0] for r in rows if r[6].endswith("retire")]
    print(f"wrote {OUT.name}: {len(rows)} queries, {len(retire)} to retire: {retire}")


if __name__ == "__main__":
    main()
