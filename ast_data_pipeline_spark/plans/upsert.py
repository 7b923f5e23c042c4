"""Keyed-table upsert — MERGE semantics without Delta (SURVEY §1.3:
the reference mutates its tracking array in place; the engine keeps a
keyed table and upserts batches into it).

``upsert``: new rows win by key (anti-join the old side + union) — the
standard MERGE emulation when a table format isn't available. The
streaming face applies it per micro-batch via ``foreachBatch`` with an
idempotent overwrite, giving exactly-once state for the tracking
table / work queue.

At scale the overwrite would be partition-scoped (dynamic partition
overwrite on the key's bucket/date) instead of whole-table.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def upsert(existing: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """MERGE: rows from ``updates`` replace same-key rows in
    ``existing``; unmatched existing rows survive."""
    survivors = existing.join(updates.select(key), key, "left_anti")
    return survivors.unionByName(updates)


def upsert_parquet_state(
    spark: SparkSession, state_path: str, updates: DataFrame, key: str
) -> None:
    """Apply an upsert batch to a parquet-backed keyed table.

    Read-modify-overwrite with an intermediate staging write (parquet
    has no transactions; Delta/Iceberg would replace this block with a
    real MERGE INTO). A missing ``state_path`` means no table yet: the
    batch becomes the table. Any other read or analysis error (e.g. a
    batch whose columns do not match the table) raises before anything
    is written."""
    try:
        existing = spark.read.parquet(state_path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        merged = updates
    else:
        merged = upsert(existing, updates, key)
    staged = state_path.rstrip("/") + ".staging"
    merged.write.mode("overwrite").parquet(staged)
    spark.read.parquet(staged).write.mode("overwrite").parquet(state_path)


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
