"""COVERAGE.md <-> registry lockstep (VERDICT r9 #5).

The r9 query removals had to be cleaned from SHUFFLE/PROFILE by hand;
nothing guarded them. Two directions, both enforced:

1. every registered query name appears in COVERAGE.md (no
   undocumented operator);
2. every query-shaped token in COVERAGE.md, SHUFFLE.md, PROFILE.md
   and OVERLAP.md resolves in the registry (no ghost rows naming
   removed/renamed queries).

Query-shaped = matches the registry's family-prefix grammar
(q18_*, s_stream_*, x_*, a_*, ... — see ``_QUERY_TOKEN``). Plain
helper/function/test names don't match it, so prose stays free.
"""

from __future__ import annotations

import pathlib
import re

from ast_data_pipeline_spark.registry import load_all

REPO = pathlib.Path(__file__).resolve().parent.parent
DOC = REPO / "COVERAGE.md"
# Generated per-query tables (tools/shuffle_audit.py, PROFILE.md,
# tools/query_overlap.py) that must drop a query's rows when it is
# retired.
GHOST_CHECKED_DOCS = (
    DOC, REPO / "SHUFFLE.md", REPO / "PROFILE.md", REPO / "OVERLAP.md",
)

_QUERY_TOKEN = re.compile(
    r"^(?:q\d+|s\d+|k\d+|p\d+|f\d+|o\d+|u\d+|a\d*|j\d*|w|x|e|t|d|s_stream|flagship)"
    r"_[a-z0-9_]+$"
)

# Tokens that match the grammar but are deliberately not registered
# queries (prose references to concepts, env vars, helper names).
# Empty today — add entries here only with a justification comment.
_ALLOW: set[str] = set()


def _doc_tokens(doc: pathlib.Path = DOC) -> set[str]:
    text = doc.read_text(encoding="utf-8")
    return set(re.findall(r"[a-z][a-z0-9_]*", text))


def test_every_registered_query_documented():
    tokens = _doc_tokens()
    missing = [name for name in load_all() if name not in tokens]
    assert not missing, (
        f"{len(missing)} registered queries missing from COVERAGE.md: "
        f"{missing[:20]}"
    )


def test_no_ghost_query_names_in_doc():
    registered = set(load_all())
    for doc in GHOST_CHECKED_DOCS:
        ghosts = sorted(
            t for t in _doc_tokens(doc)
            if _QUERY_TOKEN.match(t) and t not in registered and t not in _ALLOW
        )
        assert not ghosts, f"{doc.name} names unregistered queries: {ghosts[:30]}"


def test_priority_covers_registry():
    """_PRIORITY is regenerated from tools/grade_age.py each round; a
    query registered without regenerating would never enter the graded
    window head (and a _PRIORITY ghost would mask a removed query).
    Enforce set equality both ways."""
    from ast_data_pipeline_spark.registry import _PRIORITY

    reg = set(load_all())
    pri = set(_PRIORITY)
    assert reg - pri == set(), f"registered but not in _PRIORITY: {sorted(reg - pri)}"
    assert pri - reg == set(), f"_PRIORITY ghosts: {sorted(pri - reg)}"
