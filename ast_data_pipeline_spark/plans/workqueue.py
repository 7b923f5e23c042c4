"""Work-queue allocation plan (SURVEY.md §3.2; ref: src/az_proc.py:
408-445 + download_distribution.py:49-60).

The reference keeps two npy arrays (remaining / labeled) and each
round: slices the head of remaining, appends it to labeled, asserts
allocated + remaining == unlabeled. Here the queue is a DataFrame and
one round is: a deterministic-order ``limit`` (O3) cut once with
``lineage_cut_lazy``, so its count, the ``left_anti`` remainder (U2)
and any append or upsert (U1) share one top-k; and a declarative
integrity check (U4) that raises like the reference does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ast_data_pipeline_spark.lineage import lineage_cut_lazy


def allocate_round(
    remaining: DataFrame, n: int, key: str
) -> tuple[DataFrame, DataFrame]:
    """One allocation round: (allocated head-N, new remaining).

    Order stability comes from the explicit sort key — the reference
    relies on array order, which a distributed table does not have.
    ``allocated`` is lineage-cut: the top-k runs once, on its first
    action, and the batch stays pinned after ``remaining``'s source
    is rewritten (e.g. by ``upsert_parquet_state``).
    """
    allocated = remaining.orderBy(key).limit(n).transform(lineage_cut_lazy)
    rest = remaining.join(allocated, key, "left_anti")
    return allocated, rest


def check_integrity(
    allocated: DataFrame, remaining: DataFrame, total: int
) -> tuple[int, int]:
    """U4 (ref: src/az_proc.py:442-445): raise if the split lost rows.
    Returns (n_allocated, n_remaining) so callers reuse the counts."""
    n_a, n_r = allocated.count(), remaining.count()
    if n_a + n_r != total:
        raise AssertionError(
            f"queue integrity violated: allocated={n_a} + remaining={n_r} != {total}"
        )
    return n_a, n_r


def run_rounds(queue: DataFrame, key: str, n: int, rounds: int) -> DataFrame:
    """Run ``rounds`` allocation rounds; returns the per-round summary
    (round, n_allocated) plus the final queue state.

    Round-boundary lineage cuts (PROFILE.md r5 tail item): without
    them the anti-join chain deepens by one join per round and every
    per-round count re-executes the whole chain from the scan — round
    R paid O(R) joins, the integrity check another O(R), and the final
    counts a third. ``allocate_round`` cuts the allocated head; the
    loop cuts the remainder. Each frame is computed once; the
    integrity counts double as the materialization, so the summary
    needs no extra jobs.
    """
    pool = queue.count()
    remaining = queue.transform(lineage_cut_lazy)
    summaries: list[tuple[int, int]] = []
    labeled_n = 0
    n_r = pool
    for r in range(1, rounds + 1):
        allocated, remaining = allocate_round(remaining, n, key)
        remaining = remaining.transform(lineage_cut_lazy)
        n_alloc, n_r = check_integrity(allocated, remaining, pool)
        pool -= n_alloc
        labeled_n += n_alloc
        summaries.append((r, n_alloc))
    spark = queue.sparkSession
    out = spark.createDataFrame(summaries, "round int, n_allocated long")
    return out.withColumn("n_remaining_final", F.lit(n_r)).withColumn(
        "n_labeled_final", F.lit(labeled_n)
    )
