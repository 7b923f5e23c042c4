"""Keyed-table upsert — MERGE semantics without Delta (SURVEY §1.3:
the reference mutates its tracking array in place; the engine keeps a
keyed table and upserts batches into it).

``upsert``: new rows win by key (anti-join the old side + union) — the
standard MERGE emulation when a table format isn't available.
``upsert_parquet_state`` applies it to a parquet table with one
full-table write plus a rename swap (``sinks.replace_parquet``). The
streaming face applies it per micro-batch via ``foreachBatch``, giving
exactly-once state for the tracking table / work queue.

On HDFS or a local disk the swap is two metadata renames. On an object
store a rename is a copy of every file, so there a Delta/Iceberg
``MERGE INTO`` (a partition-scoped rewrite with an atomic commit)
replaces this block, as it would at scale anyway.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from ..sources.sinks import replace_parquet


def upsert(existing: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """MERGE: rows from ``updates`` replace same-key rows in
    ``existing``; unmatched existing rows survive."""
    survivors = existing.join(updates.select(key), key, "left_anti")
    return survivors.unionByName(updates)


def upsert_parquet_state(
    spark: SparkSession, state_path: str, updates: DataFrame, key: str
) -> None:
    """Apply an upsert batch to a parquet-backed keyed table.

    The merged table is written once and swapped in for the old one
    (``replace_parquet``): one write execution per call. A missing
    ``state_path`` means no table yet: the batch becomes the table,
    unless an interrupted swap left the table moved aside
    (``InterruptedSwapError``). Any other read or analysis error (e.g.
    a batch whose columns do not match the table) raises before
    anything is written. ``updates`` may read ``state_path``, but must
    be cut from it (``lineage_cut_lazy``, as ``allocate_round`` does)
    if it is used again after the swap."""
    try:
        existing = spark.read.parquet(state_path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        merged = updates
    else:
        merged = upsert(existing, updates, key)
    replace_parquet(merged, state_path)


def stream_upsert_tracking(
    stream: DataFrame, spark: SparkSession, state_path: str, key: str
):
    """foreachBatch exactly-once-ish sink: each micro-batch is upserted
    into the keyed state table; replays are idempotent because a batch
    upserts the same keys to the same values."""

    def _apply(batch_df: DataFrame, _epoch: int) -> None:
        upsert_parquet_state(spark, state_path, batch_df, key)

    return (
        stream.writeStream.outputMode("update")
        .foreachBatch(_apply)
        .trigger(availableNow=True)
        .start()
    )
