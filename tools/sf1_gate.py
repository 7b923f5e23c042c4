#!/usr/bin/env python
"""sf1 DuckDB-oracle spot-gate for the envelope-risk families
(VERDICT r11 #1).

Every per-round hash gate runs at sf0.01, but the exact-decimal
recipe has a documented exactness envelope (|sum| < 2^53/1e4 ~ 9e11,
``functions/exact.py``) that SUM-OF-SQUARES sites approach
quadratically with scale — the comment at ``queries/temporal.py``'s
t_autocorrelation plainly says sf10 breaches it. Nothing used to
*execute* the boundary claim; this gate runs the full driver-style
compare (row count, sorted schema, canonical value hash) ONE DECADE
up, at sf1, for:

- every bench-tagged headliner (the queries whose plans carry the
  100 TB story), and
- ``ENVELOPE_RISK``: every query the dsum audit puts in the
  sum-of-squares / LARGE-squared / small-sum-rescale magnitude
  classes (rank statistics squaring ~n^3-scale rank sums, moment
  tests squaring business values, the PSI-style 1e6 small-sum sites,
  graph degree-square sums).

sf1 is the deterministic 10x replica expansion of sf0.1
(``tools/make_sf_expand.py`` — generated on demand if missing; same
inputs -> byte-stable content, so runs are reproducible across
rounds). Output: ``SWEEP_SF1_r{N}.json`` in CORRECTNESS_r*.json
shape. ``bad = 0`` is the pass; a query expected to breach its
envelope at some sf must instead carry an inline sf-bound annotation
at its dsum site and an entry in ``EXPECTED_BREACH`` here.

The gate's first run (r12) caught three REAL breaches the site notes
had estimated at "~sf10": a_linreg_trend, t_autocorrelation and
t_rolling_corr all crossed the envelope with their daily
second moments already at sf1 (last-bit r2/acf divergence). All
three were fixed with the rank-stats 1e-2 down-scale (the statistics
are scale-invariant in the offending moment), pushing their first
breach to ~sf51-sf108; EXPECTED_BREACH is empty again and the next
quadratic site gets caught a decade early instead of in production.

Usage::

    python tools/sf1_gate.py 12                 # writes SWEEP_SF1_r12.json
    python tools/sf1_gate.py 12 --sf /tmp/ast_sf1
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# dsum-audit magnitude-risk owners (sum-of-squares / LARGE-squared /
# small-sum-rescale). Kept explicit so the gate's coverage is
# reviewable; tests/test_plan_audits.py cross-checks that every name
# still exists in the registry.
ENVELOPE_RISK = (
    "a_welch_ttest",        # value^2 moments per (type, weekend) cell
    "a_anova_oneway",       # value^2 within/between moments
    "a_linreg_trend",       # x*y / x^2 over day index
    "a_corr_matrix",        # pairwise second moments of measures
    "a_mannwhitney_u",      # decimal rank sums + HUGEINT tie cubes
    "a_roc_auc",            # ~n^2-scale decimal rank sum
    "a_kruskal_wallis",     # R_g^2/n_g 1e-6 down-scale (~n^3/k)
    "a_spearman_corr",      # three 1e-6 down-scaled rank second moments
    "a_kendall_tau",        # concordant/discordant 1e-6 down-scale
    "a_dunn_test",          # KW machinery + tie cubes
    "a_tukey_hsd",          # ANOVA machinery pairwise
    "a_levene_test",        # |dev| second moments
    "a_brier_decomposition",# 1e6 small-sum terms over the hour grid
    "a_psi_drift",          # the r10 1e6 small-sum recipe origin
    "a_theil_decomposition",# ln-quantized entropy terms, 1e6 scale
    "a_permutation_test",   # R x n exploded decimal gap sums
    "a_mcnemar_test",       # integer cells (cheap, r12-touched)
    "a_cohens_kappa",       # integer n_ij^2 sums
    "a_fleiss_kappa",       # integer n_ij^2 sums + entropy banding
    "e_diff_in_diff",       # per-user d^2 decimal moments (r12 form)
    "t_autocorrelation",    # squared daily dsum totals (the sf10 note)
    "t_rolling_corr",       # windowed second moments over daily series
    "x_graph_assortativity",# squared integer degrees over edges
)

EXPECTED_BREACH: dict[str, str] = {}


def ensure_sf1(sf_dir: str) -> None:
    if os.path.isdir(sf_dir) and os.path.exists(
        os.path.join(sf_dir, "lineitem.parquet")
    ):
        return
    print(f"generating {sf_dir} via tools/make_sf_expand.py ...", flush=True)
    subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "make_sf_expand.py"),
            "--factor",
            "10",
            "--out",
            sf_dir,
        ],
        check=True,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("round", type=int)
    ap.add_argument("--sf", default="/tmp/ast_sf1")
    # --only q1,q2: re-run just those queries and MERGE into the
    # existing artifact (iterating on one fix shouldn't cost a full
    # 44-query sf1 pass). The final bad count is recomputed over the
    # merged file, so a stale FAIL can't hide.
    ap.add_argument("--only", default=None)
    args = ap.parse_args()
    ensure_sf1(args.sf)

    # The gate hashes WHOLE results driver-side (the driver-gate
    # shape); at sf1 the flagship's 4.8M-row frame serializes past
    # Spark's 1g maxResultSize default, so raise it for this harness
    # only — engine queries keep the loud 1g guard (session.py). The
    # heap must hold such a result too, so the harness keeps the 64g
    # heap its recorded sf1 runs used instead of the session's
    # RAM-share default (which can sit below the 16g result cap).
    os.environ.setdefault("SPARK_GRAFT_MAX_RESULT_SIZE", "16g")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")

    from ast_data_pipeline_spark.oracle import canonical_rows, run_oracle_sql
    from ast_data_pipeline_spark.registry import load_all
    from ast_data_pipeline_spark.session import get_spark

    specs = load_all()
    missing = [n for n in ENVELOPE_RISK if n not in specs]
    assert not missing, f"ENVELOPE_RISK names not in registry: {missing}"
    core = {n for n, s in specs.items() if "bench" in s.tags} | set(ENVELOPE_RISK)

    # Rotation slice (VERDICT r12 #7): the core set is bench headliners
    # + envelope-risk owners, but the gate's first run caught 4 real
    # cross-scale bugs in its first 44 queries — the residual ~300
    # plausibly hide more. Each round adds a deterministic ~40-query
    # slice of the rest of the registry (sorted pool, chunked, chunk =
    # round mod n_chunks), so consecutive rounds cover DISJOINT slices
    # and the whole registry gets an sf1 compare every ~8 rounds.
    SLICE = 40
    pool = sorted(set(specs) - core)
    n_chunks = max(1, -(-len(pool) // SLICE))
    rotation = pool[(args.round % n_chunks) * SLICE:(args.round % n_chunks) * SLICE + SLICE]
    names = sorted(core | set(rotation))

    path = os.path.join(REPO, f"SWEEP_SF1_r{args.round:02d}.json")
    out: dict[str, dict] = {}
    if args.only:
        only = {n.strip() for n in args.only.split(",") if n.strip()}
        unknown = only - set(names)
        assert not unknown, f"--only names not in the gate set: {unknown}"
        # ADVICE r12: a --only merge is only meaningful INTO a full
        # artifact — without one, a subset file would print 'bad = 0'
        # and masquerade as a full gate pass in the round evidence.
        assert os.path.exists(path), (
            f"--only requires an existing full artifact at {path}; "
            "run the full gate first"
        )
        out = {
            k: v for k, v in json.load(open(path, encoding="utf-8")).items()
            if not k.startswith("_")
        }
        not_covered = (set(names) - only) - set(out)
        assert not not_covered, (
            "--only merge would leave gate members with no recorded "
            f"result (partial artifact): {sorted(not_covered)[:10]}"
        )
        names = sorted(only)

    spark = get_spark("sf1-gate")
    for name in names:
        spec = specs[name]
        rec: dict = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        try:
            got = spec.fn(spark, args.sf).toPandas()
            rec["spark_rows"] = len(got)
            if spec.oracle is None:
                rec["err"] = "no_oracle"
            else:
                exp = run_oracle_sql(spec.oracle, args.sf)
                rec["oracle_rows"] = len(exp)
                rec["rows_match"] = len(got) == len(exp)
                rec["schema_match"] = sorted(got.columns) == sorted(exp.columns)
                rec["hash_match"] = (
                    rec["schema_match"] and canonical_rows(got) == canonical_rows(exp)
                )
                ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
                if not ok and name in EXPECTED_BREACH:
                    rec["err"] = f"expected_breach: {EXPECTED_BREACH[name]}"
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            rec["err"] = f"{type(e).__name__}: {e}"[:300]
        out[name] = rec
        status = "OK" if rec["hash_match"] else (rec["err"] or "FAIL")
        print(f"{name} {rec['spark_rows']} {status}", flush=True)
    spark.stop()

    # bad is recomputed over the FULL (possibly merged) artifact so a
    # --only rerun can't hide a stale FAIL elsewhere in the file.
    bad = sum(
        1
        for n, rec in out.items()
        if not n.startswith("_")
        and n not in EXPECTED_BREACH
        and not rec["hash_match"]
        and rec["err"] != "no_oracle"
    )
    # provenance: which names were the round's rotation slice vs core,
    # so a reader can audit disjointness across rounds
    out["_meta"] = {
        "round": args.round,
        "core": sorted(core),
        "rotation_slice": rotation,
    }
    with open(path, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=2)
    print(f"SF1 GATE DONE, {len(out)} queries, bad = {bad}, wrote {os.path.basename(path)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
