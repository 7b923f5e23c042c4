"""Full-surface self-sweep -> SWEEP_r{N}.json (VERDICT r10 #3).

Runs every registered query against its DuckDB oracle at sf0.01 —
exactly the driver's t2 gate semantics (row count, sorted-column
schema, order-insensitive canonical value hash) — and records the
result in the same JSON shape as CORRECTNESS_r*.json.

Why a per-round artifact: the driver grades only a ~50-query budgeted
prefix per round, so with 339 queries the full driver re-proof cycle
is ~7 rounds. The builder already re-proves the whole surface every
round; recording that run makes cumulative freshness auditable
(``tools/grade_age.py`` consumes SWEEP_r*.json as a self-reported,
lower-tier green — the ``self`` column) instead of living only in
session transcripts. Driver-verified CORRECTNESS rows remain the only
tier that counts for staleness/rotation.

Usage::

    python tools/run_sweep.py 11               # writes SWEEP_r11.json
    python tools/run_sweep.py 11 --sf /root/testdata/sf0.01
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("round", type=int)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    # Cross-scale sweeps (r12+): --prefix SWEEP_SF01 --sf .../sf0.1
    # records the SAME full-surface compare one decade up, in its own
    # artifact, without clobbering the canonical sf0.01 SWEEP_r{N}
    # ledger that grade_age.py consumes as the self-reported tier.
    ap.add_argument("--prefix", default="SWEEP")
    args = ap.parse_args()

    from ast_data_pipeline_spark.oracle import canonical_rows, run_oracle_sql
    from ast_data_pipeline_spark.registry import load_all
    from ast_data_pipeline_spark.session import get_spark

    spark = get_spark("self-sweep")
    out: dict[str, dict] = {}
    bad = 0
    for name, spec in load_all().items():
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
                if not (rec["rows_match"] and rec["schema_match"] and rec["hash_match"]):
                    bad += 1
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            rec["err"] = f"{type(e).__name__}: {e}"[:300]
            bad += 1
        out[name] = rec
        status = "OK" if rec["hash_match"] else (rec["err"] or "FAIL")
        print(f"{name} {rec['spark_rows']} {status}", flush=True)
    spark.stop()

    path = os.path.join(REPO, f"{args.prefix}_r{args.round:02d}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=2)
    print(f"SWEEP DONE, bad = {bad}, wrote {os.path.basename(path)}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
