"""Plan-hygiene guard: every un-partitioned ordered Window in any
registered query's physical plan must be a *reviewed* decision.

VERDICT r7 found x_bm25_search shipping a global vocabulary window that
only a manual tools/window_audit.py run caught — the classification
list and the audit output had drifted (20 hits, 19 classified). This
test re-runs the audit inside the suite so the drift fails CI instead:
a new hit must either be rewritten (TakeOrdered-then-rank, two-level
prefix sums, repartitioned window) or added to
``tools.window_audit.CLASSIFIED`` with a docstring rationale.
"""

from __future__ import annotations

import pathlib
import sys

TOOLS = pathlib.Path(__file__).resolve().parent.parent / "tools"
if str(TOOLS) not in sys.path:
    sys.path.insert(0, str(TOOLS))


def test_every_unpartitioned_window_is_classified(spark, sf_dir):
    import window_audit

    hits = window_audit.audit(spark, sf_dir)
    unclassified = sorted(set(hits) - window_audit.CLASSIFIED)
    assert not unclassified, (
        "un-partitioned ordered Window(s) without a reviewed "
        f"classification: {unclassified} — rewrite them (TakeOrdered-"
        "then-rank / two-level prefix sums) or classify them in "
        "tools/window_audit.py with a rationale. First plan lines: "
        + "; ".join(f"{n}: {hits[n][0][:120]}" for n in unclassified[:5])
    )
    # The reverse direction keeps CLASSIFIED honest: stale entries for
    # queries that no longer hit the audit should be pruned so the set
    # stays a faithful review ledger (warn-level, not a failure — plan
    # shape can legitimately vary with AQE at other SFs).
    stale = sorted(window_audit.CLASSIFIED - set(hits))
    print("window_audit classified-but-clean (prune when stable):", stale)


def test_grade_age_closure_exclusions_are_semantics_free():
    """Every file in ``tools/grade_age.py``'s CLOSURE_EXCLUDE must be
    pure plumbing — no query registration, no function definitions —
    so excluding it from import closures can never hide a semantic
    rewrite from the staleness audit (VERDICT r10 #2). The list is
    empty by design after the registry_priority.txt move; this pin
    keeps any future entry an explicit adjudication. The priority
    order itself must live in a non-Python data file: regenerating it
    each round must not dirty any query's import closure."""
    import grade_age

    repo = pathlib.Path(__file__).resolve().parent.parent
    for rel in grade_age.CLOSURE_EXCLUDE:
        text = (repo / rel).read_text(encoding="utf-8")
        assert "@register" not in text and "def " not in text, (
            f"CLOSURE_EXCLUDE entry {rel} contains code — excluding it "
            "would blind the staleness audit to semantic edits"
        )
    assert grade_age.PRIORITY_FILE.endswith(".txt"), (
        "the grading-priority order must be a data file outside every "
        "import closure (VERDICT r10 #2)"
    )
    # and the registry must actually read it (no tuple regression)
    reg_src = (
        repo / "ast_data_pipeline_spark" / "registry.py"
    ).read_text(encoding="utf-8")
    assert "registry_priority.txt" in reg_src


def test_shuffle_ledger_has_no_unadjudicated_watch_rows():
    """The committed SHUFFLE.md must carry an adjudication note on
    every >WATCH_MB shuffle-write row in EVERY section (VERDICT r8 #6:
    a_market_basket_lift's 21.9 MB row sat in the PROFILE-tail section
    where the WATCH rule didn't apply), and no error section — an ERR
    line means the ledger silently lost rows SCALING.md relies on."""
    shuffle_md = (
        pathlib.Path(__file__).resolve().parent.parent / "SHUFFLE.md"
    ).read_text()
    assert "WATCH: unadjudicated" not in shuffle_md, (
        "SHUFFLE.md has unadjudicated >20MB shuffle rows — add an "
        "ADJUDICATED entry in tools/shuffle_audit.py with a reason, "
        "or slim the plan, then regenerate"
    )
    assert "CRITICAL (headline/tail)" not in shuffle_md, (
        "SHUFFLE.md records headline/tail query failures — the ledger "
        "is incomplete; fix the queries and regenerate"
    )


def test_every_dsum_site_is_scaled_or_classified():
    """dsum rounds decimal sums at 4 dp; a small-total sum silently
    loses significant figures IDENTICALLY in both engines (the r10 PSI
    trap — oracle-green, value-wrong). Every dsum/dsum_sql/dsum_over
    call site must either carry an explicit scale factor or belong to
    an owner reviewed in tools/dsum_audit.py's LARGE/UNIT sets (with
    the magnitude rationale in that module's docstring)."""
    import dsum_audit

    bad = dsum_audit.audit()
    assert not bad, (
        "unclassified dsum site(s) — scale small-total sums through "
        "1e6 (the PSI recipe) or classify the owner's magnitude in "
        f"tools/dsum_audit.py: {bad}"
    )
    # reverse direction: classified owners that no longer own any dsum
    # site should be pruned so the set stays a faithful review ledger
    owners = set()
    for path in sorted(dsum_audit.PKG.rglob("*.py")):
        if path.name == "exact.py":
            continue
        owners.update(o for o, *_ in dsum_audit.scan_file(path))
    stale = sorted((dsum_audit.LARGE | dsum_audit.UNIT) - owners)
    assert not stale, f"prune stale dsum_audit classifications: {stale}"


def test_sf1_gate_names_exist_in_registry():
    """Every tool ledger that names queries is an explicit review
    list: tools/sf1_gate.py's ENVELOPE_RISK (which queries get the
    one-decade-up oracle gate), window_audit.CLASSIFIED,
    dump_plans.HEADLINERS, scale_proof.QUERIES and shuffle_audit's
    ADJUDICATED and PROFILE_TAIL. A renamed or retired query must be
    noticed here, not silently skipped by the tool."""
    import dump_plans
    import scale_proof
    import sf1_gate
    import shuffle_audit
    import window_audit

    from ast_data_pipeline_spark.registry import load_all

    specs = load_all()
    ledgers = {
        "sf1_gate.ENVELOPE_RISK": sf1_gate.ENVELOPE_RISK,
        "window_audit.CLASSIFIED": window_audit.CLASSIFIED,
        "dump_plans.HEADLINERS": dump_plans.HEADLINERS,
        "scale_proof.QUERIES": scale_proof.QUERIES,
        "shuffle_audit.ADJUDICATED": shuffle_audit.ADJUDICATED,
        "shuffle_audit.PROFILE_TAIL": shuffle_audit.PROFILE_TAIL,
    }
    for ledger, names in ledgers.items():
        missing = [n for n in names if n not in specs]
        assert not missing, f"{ledger} names not in registry: {missing}"
    unknown = [n for n in sf1_gate.EXPECTED_BREACH if n not in sf1_gate.ENVELOPE_RISK]
    assert not unknown, f"EXPECTED_BREACH entries outside the gate: {unknown}"
