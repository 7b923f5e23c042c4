#!/usr/bin/env python
"""Shuffle-byte audit of every registered query ("measure, don't guess").

Runs each bench-tagged query (plus the PROFILE tail) at
$SPARK_GRAFT_SF_DIR under the materialized-views deployment profile
(same as bench.py) with the Spark UI enabled, and reads per-stage
metrics from the status REST API to attribute shuffle-write /
shuffle-read / input bytes to each query. Then (VERDICT r7 #7) runs
EVERY remaining registered query at sf0.01 with raw lineage for a full
per-query byte ledger — shuffle bytes are deterministic, so the ledger
answers every future "did this plan get fatter?" question without
timing noise. Writes SHUFFLE.md. Rows past ``WATCH_MB`` shuffle-write
in the full ledger that are not in ``ADJUDICATED`` get a WATCH flag —
adjudicate them in place (add to the dict with a reason) or slim the
plan. Skip the full ledger with SHUFFLE_AUDIT_FULL=0.
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import urllib.request

REPO = pathlib.Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

# Full-ledger watch threshold and the rows already adjudicated (reason
# recorded here so the ledger is self-contained). Bytes are at sf0.01
# raw lineage unless the name is also a headline/tail query.
WATCH_MB = 20.0
ADJUDICATED = {
    "x_triangle_count": "bare (u,v) BIGINT edge pairs through the wedge join — minimal payload",
    "x_kcore_peel": "bare edge pairs re-shuffled per peel round — payload already minimal",
    "x_bfs_layers": "integer-encoded node ids (r7 cut 40.7->27.1 MB at sf0.1); layers need the frontier join",
    "a_market_basket_lift": "per-order pair generation bounded by basket size; min-support HAVING prunes before the dim joins — linear in orders",
}


# PROFILE.md top-20 tail: the expensive iterative / similarity
# queries get the same byte audit — their wall times are noisy, but a
# fat shuffle payload is deterministic evidence. Kept as an explicit
# list so the audit is stable across PROFILE regens;
# tests/test_plan_audits.py checks every name is registered.
PROFILE_TAIL = (
    "x_kmeans_lloyd_exact",
    "a_exact_quantiles",
    "s_stream_stream_join",
    "d_inventory_utm",
    "x_power_iteration_pc1",
    "a_histogram_equidepth",
    "x_pc1_explained_variance",
    "x_triangle_count",
    "x_kcore_peel",
    "x_embedding_neardup",
    "x_dedup_clusters",
    "x_prefix_filter_join",
    "x_ann_recall_multiprobe",
    "x_classifier_eval",
    "x_semantic_dedup",
    "x_substring_dedup_census",
    "a_kmv_set_ops",
    "x_bfs_layers",
    "a_market_basket_lift",
    "x_js_divergence",
    "x_bloom_dedup_screen",
)


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CACHE_VIEWS", "0")
    from pyspark.sql import SparkSession

    from ast_data_pipeline_spark.registry import load_all
    from ast_data_pipeline_spark.session import driver_memory

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("shuffle-audit")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the full ledger accumulates thousands of stages; the default
        # retainedStages=1000 would evict early stages and corrupt the
        # before/after diffs
        .config("spark.ui.retainedStages", "200000")
        .config("spark.ui.retainedJobs", "200000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl

    def rest(path: str):
        with urllib.request.urlopen(f"{ui}/api/v1/{path}") as r:
            return json.load(r)

    app_id = rest("applications")[0]["id"]

    def totals() -> tuple[int, int, int]:
        sw = sr = inp = 0
        for s in rest(f"applications/{app_id}/stages"):
            if s.get("status") not in ("COMPLETE", "SKIPPED"):
                continue
            sw += s.get("shuffleWriteBytes", 0)
            sr += s.get("shuffleReadBytes", 0)
            inp += s.get("inputBytes", 0)
        return sw, sr, inp

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    specs = load_all()
    bench_names = sorted(n for n, s in specs.items() if "bench" in s.tags)
    tail_names = [n for n in PROFILE_TAIL if n not in bench_names]

    from ast_data_pipeline_spark.sources.domain_views import materialized_views
    from ast_data_pipeline_spark.sources.materialize import materialize_domain_views

    materialize_domain_views(spark, sf_dir, buckets=cpus)

    errors: list[tuple[str, str, bool]] = []  # (name, err, critical)

    def run_bucket(bucket, names, at_sf, critical=False):
        # critical=True (headline bench + PROFILE tail): a failure is
        # collected AND fails the audit at exit — these rows carry
        # SCALING.md's claims, so losing one silently would let the
        # audit "succeed" without its evidence (ADVICE r8). The full
        # ledger stays best-effort but its errors are listed in
        # SHUFFLE.md instead of only a printed line.
        for name in names:
            before = totals()
            try:
                df = specs[name].fn(spark, at_sf)
                n = df.count()
            except Exception as e:
                print("ERR", name, str(e)[:120], flush=True)
                errors.append((name, str(e)[:200], critical))
                continue
            after = totals()
            bucket.append(
                (name, n, after[0] - before[0], after[1] - before[1], after[2] - before[2])
            )
            print(name, bucket[-1], flush=True)

    rows = []
    tail_rows = []
    with materialized_views():
        run_bucket(rows, bench_names, sf_dir, critical=True)
        run_bucket(tail_rows, tail_names, sf_dir, critical=True)

    # Full ledger (VERDICT r7 #7): every remaining registered query at
    # sf0.01, raw lineage (no materialized views) — the deterministic
    # byte fingerprint of each plan.
    full_rows = []
    if os.environ.get("SHUFFLE_AUDIT_FULL", "1") == "1":
        done = set(bench_names) | set(tail_names)
        rest_names = [n for n in specs if n not in done]
        run_bucket(full_rows, rest_names, "/root/testdata/sf0.01")

    def mb(b: int) -> str:
        return f"{b / 1e6:.1f}"

    def note_for(name: str, sw: int) -> str:
        # the ADJUDICATED-or-WATCH rule applies to EVERY section
        # (VERDICT r8 #6: a fat row in the tail section used to bypass
        # the watch mechanism entirely)
        if sw / 1e6 > WATCH_MB:
            return ADJUDICATED.get(name, "**WATCH: unadjudicated**")
        return ""

    out = f"""# SHUFFLE — per-query shuffle bytes at {sf_dir} (local[{cpus}])

Measured from the Spark status API (per-stage shuffleWrite/shuffleRead/
input bytes, attributed per query; materialized-views profile, same as
bench.py). Shuffle WRITE is the number that scales with cluster
network cost — SCALING.md's "one key shuffle" claims, audited.
Rows > {WATCH_MB:.0f} MB shuffle write in ANY section carry their
adjudication inline (from ``ADJUDICATED`` in tools/shuffle_audit.py);
an unadjudicated WATCH row is a todo enforced by tests/test_plan_audits.py.

| query | rows out | shuffle write MB | shuffle read MB | input MB | note |
|---|---|---|---|---|---|
"""
    for name, n, sw, sr, inp in rows:
        out += f"| {name} | {n} | {mb(sw)} | {mb(sr)} | {mb(inp)} | {note_for(name, sw)} |\n"
    tot = [sum(r[i] for r in rows) for i in (2, 3, 4)]
    out += f"| **total** | | **{mb(tot[0])}** | **{mb(tot[1])}** | **{mb(tot[2])}** | |\n"
    out += """
## PROFILE.md tail (iterative / similarity family)

Same byte audit for the expensive non-headline queries (VERDICT r6
#4). Iterative queries (Lloyd, power iteration, star-CC, k-core) sum
ALL rounds' stages; their shuffle bytes stay bounded because each
round's agg is a K x dim (or per-key partial) combine, not a fact
re-shuffle.

Adjudication of the two large rows: x_triangle_count and x_kcore_peel
shuffle tens of MB, but the payload is already minimal — bare (u, v)
BIGINT edge pairs through the wedge/peel joins (~16 bytes/row on a
~1M-edge graph), nothing to narrow. Their large "input MB" is
localCheckpoint BLOCK RE-READS (each lineage cut is consumed by 2-3
joins per round), i.e. local memory reads, not extra parquet scans.

| query | rows out | shuffle write MB | shuffle read MB | input MB | note |
|---|---|---|---|---|---|
"""
    for name, n, sw, sr, inp in tail_rows:
        out += f"| {name} | {n} | {mb(sw)} | {mb(sr)} | {mb(inp)} | {note_for(name, sw)} |\n"
    if full_rows:
        out += f"""
## Full ledger — every remaining registered query at sf0.01, raw lineage

Deterministic per-plan byte fingerprint (VERDICT r7 #7): diff this
table across rounds to catch payload regressions that timing noise
hides. Rows > {WATCH_MB:.0f} MB shuffle write carry their adjudication
inline (from ``ADJUDICATED`` in tools/shuffle_audit.py); an
unadjudicated WATCH row is a todo.

| query | rows out | shuffle write MB | shuffle read MB | input MB | note |
|---|---|---|---|---|---|
"""
        for name, n, sw, sr, inp in sorted(full_rows, key=lambda r: -r[2]):
            out += f"| {name} | {n} | {mb(sw)} | {mb(sr)} | {mb(inp)} | {note_for(name, sw)} |\n"
    if errors:
        out += "\n## Errors — queries that failed during this audit run\n\n"
        out += "A non-empty section here means the ledger above is INCOMPLETE.\n\n"
        for name, msg, critical in errors:
            sev = "CRITICAL (headline/tail)" if critical else "full-ledger"
            out += f"- `{name}` ({sev}): {msg}\n"
    (REPO / "SHUFFLE.md").write_text(out)
    print("wrote SHUFFLE.md")
    unadj = [
        r[0]
        for r in rows + tail_rows + full_rows
        if r[2] / 1e6 > WATCH_MB and r[0] not in ADJUDICATED
    ]
    print("UNADJUDICATED >20MB:", unadj)
    spark.stop()
    crit_errs = [n for n, _, critical in errors if critical]
    if crit_errs:
        print("CRITICAL audit failures:", crit_errs)
        sys.exit(1)


if __name__ == "__main__":
    main()
