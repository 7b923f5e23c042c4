#!/usr/bin/env python
"""sf1 scale proof (VERDICT r7 #5): run the flagship domain pipelines
at sf0.1 AND at the 10x replica-expanded sf1 (tools/make_sf_expand.py)
and record wall time + shuffle bytes for both — the first measured
extrapolation point for SCALING.md's 100 TB story.

Linear(ish) scaling of shuffle WRITE bytes with input rows is the
pass criterion; shuffle bytes are deterministic so the comparison is
immune to this box's co-tenant timing jitter. Wall times are reported
min-of-2 but graded loosely (the point is "no blow-up", not a bench).

Usage: python tools/scale_proof.py [--sf1 /tmp/ast_sf1]
Appends one JSON line to PROGRESS.jsonl and prints it.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import sys
import time

REPO = pathlib.Path(__file__).resolve().parents[1]
for p in (REPO, REPO / "perfbench"):
    if str(p) not in sys.path:
        sys.path.insert(0, str(p))

QUERIES = (
    "flagship_tank_inventory",
    "d_a1_bbox_merge",
    "d_distribution_by_county",
    "x_minhash_lsh_neardup",
)


def _fresh_session():
    """One SparkSession per query: sf1-sized localCheckpoint blocks
    from a previous query otherwise stay pinned in the shared JVM and
    poison the next query's measurement (first run of this tool read
    d_distribution_by_county as 21x when its true sf1 cost is ~1.5x —
    the blocks, not the plan)."""
    from spans import StatusProbe

    from ast_data_pipeline_spark.session import get_spark

    spark = get_spark("scale-proof")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, StatusProbe(spark)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf1", default="/tmp/ast_sf1")
    ap.add_argument(
        "--base",
        default="/root/testdata/sf0.1",
        help="baseline SF dir (r10: pass /tmp/ast_sf1 to measure the "
        "SECOND scale decade sf1 -> sf3 — both sides of a plan-profile "
        "transition must be compared within the same regime)",
    )
    ap.add_argument(
        "--base-label",
        default=None,
        help="label for the baseline column (default: basename of --base)",
    )
    ap.add_argument(
        "--label",
        default="sf1",
        help="label for the expanded column (default sf1)",
    )
    ap.add_argument(
        "--queries",
        nargs="+",
        default=list(QUERIES),
        help="registered query names to measure (default: flagship set)",
    )
    a = ap.parse_args()
    os.environ.setdefault("SPARK_GRAFT_CACHE_VIEWS", "0")
    base_label = a.base_label or os.path.basename(a.base.rstrip("/"))

    from ast_data_pipeline_spark.registry import load_all
    from ast_data_pipeline_spark.sources.domain_views import clear_view_cache

    specs = load_all()
    result: dict = {"kind": "sf1_scale_proof", "ts": time.time(), "queries": {}}

    for name in a.queries:
        per_sf = {}
        spark, probe = _fresh_session()
        # warm the JVM so sf0.1's first run doesn't carry codegen
        # compile cost that sf1 (running second, warm) skips
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        for label, sf in ((base_label, a.base), (a.label, a.sf1)):
            clear_view_cache()
            times = []
            mark = probe.mark()
            for _ in range(2):
                t0 = time.perf_counter()
                n = specs[name].fn(spark, sf).count()
                times.append(time.perf_counter() - t0)
            sw = probe.since(mark).shuffle_write_bytes
            per_sf[label] = {
                "rows_out": n,
                "sec_min2": round(min(times), 2),
                # both runs' shuffle counted; halve for per-run
                "shuffle_write_mb_per_run": round(sw / 2 / 1e6, 1),
            }
            print(name, label, per_sf[label], flush=True)
        spark.stop()
        r10 = per_sf[a.label]
        r1 = per_sf[base_label]
        per_sf["scaling"] = {
            "time_x": round(r10["sec_min2"] / max(r1["sec_min2"], 1e-9), 1),
            "shuffle_x": round(
                r10["shuffle_write_mb_per_run"]
                / max(r1["shuffle_write_mb_per_run"], 1e-9),
                1,
            ),
        }
        result["queries"][name] = per_sf
    print(json.dumps(result))
    with open(REPO / "PROGRESS.jsonl", "a") as f:
        f.write(json.dumps(result) + "\n")


if __name__ == "__main__":
    main()
