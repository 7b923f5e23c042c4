"""MERGE-emulation upsert tests (batch + foreachBatch streaming)."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from ast_data_pipeline_spark.plans.upsert import (
    stream_upsert_tracking,
    upsert,
    upsert_parquet_state,
)
from ast_data_pipeline_spark.plans.workqueue import allocate_round, check_integrity
from ast_data_pipeline_spark.sources.catalog import load
from ast_data_pipeline_spark.sources.sinks import InterruptedSwapError


def test_batch_upsert_semantics(spark):
    existing = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    updates = spark.createDataFrame([(2, "B"), (4, "D")], "k long, v string")
    out = {(r.k, r.v) for r in upsert(existing, updates, "k").collect()}
    assert out == {(1, "a"), (2, "B"), (3, "c"), (4, "D")}


def test_parquet_state_upsert_rounds(spark, tmp_path):
    path = str(tmp_path / "state")
    u1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    u2 = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    upsert_parquet_state(spark, path, u1, "k")
    upsert_parquet_state(spark, path, u2, "k")
    out = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert out == {(1, "a"), (2, "B"), (3, "c")}
    # idempotent replay of the last batch
    upsert_parquet_state(spark, path, u2, "k")
    out2 = {(r.k, r.v) for r in spark.read.parquet(path).collect()}
    assert out2 == out


def test_parquet_state_upsert_schema_mismatch_raises(spark, tmp_path):
    # a batch missing a column must fail, not replace the whole table
    # with the batch alone
    path = str(tmp_path / "state")
    spark.range(100).selectExpr("id AS k", "'a' AS v", "0L AS w").write.parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    bad = spark.createDataFrame([(1, "b")], "k long, v string")
    with pytest.raises(AnalysisException):
        upsert_parquet_state(spark, path, bad, "k")
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before


def test_stream_upsert_tracking(spark, sf_dir, tmp_path):
    from ast_data_pipeline_spark.streaming.workqueue import _events_stream

    path = str(tmp_path / "tracking_state")
    stream = _events_stream(spark, sf_dir).select(
        "event_id",
        F.col("event_type").alias("status"),
    )
    q = stream_upsert_tracking(stream, spark, path, "event_id")
    q.awaitTermination()
    state = spark.read.parquet(path)
    n_events = load(spark, sf_dir, "events").count()
    assert state.count() == n_events  # event_id unique -> all keys present
    assert state.select("event_id").distinct().count() == n_events


def _sql_store(spark):
    """The session's SQL status store, after the listener bus has
    delivered every finished event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore()


def _last_execution_id(spark) -> int:
    store = _sql_store(spark)
    n = int(store.executionsCount())
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def test_parquet_state_upsert_one_write(spark, tmp_path):
    path = str(tmp_path / "state")
    spark.range(1000).selectExpr("id AS k", "'a' AS v").write.parquet(path)
    updates = spark.createDataFrame([(1, "b"), (5000, "c")], "k long, v string")
    before = _last_execution_id(spark)
    upsert_parquet_state(spark, path, updates, "k")
    last = _last_execution_id(spark)
    assert last - before == 1
    plan = _sql_store(spark).execution(last).get().physicalPlanDescription()
    assert "InsertIntoHadoopFsRelationCommand" in plan
    # nothing left beside the table
    assert sorted(os.listdir(tmp_path)) == ["state"]
    out = dict(map(tuple, spark.read.parquet(path).collect()))
    assert len(out) == 1001 and out[1] == "b" and out[5000] == "c" and out[2] == "a"


def test_parquet_state_upsert_interrupted_swap_raises(spark, tmp_path):
    # a swap stopped between its renames: the table sits at <state>.prev
    path = str(tmp_path / "state")
    prev = path + ".prev"
    spark.range(100).selectExpr("id AS k", "'a' AS v").write.parquet(prev)
    before = sorted(map(tuple, spark.read.parquet(prev).collect()))
    updates = spark.createDataFrame([(1, "b")], "k long, v string")
    with pytest.raises(InterruptedSwapError, match=r"state\b.*state\.prev"):
        upsert_parquet_state(spark, path, updates, "k")
    assert sorted(os.listdir(tmp_path)) == ["state.prev"]
    assert sorted(map(tuple, spark.read.parquet(prev).collect())) == before


def test_allocated_batch_pinned_after_upsert(spark, tmp_path):
    # one tracking round: allocate from the table, upsert the batch
    # back; after the swap the allocated frame must still be the
    # upserted batch, not a re-read of the table the swap replaced
    path = str(tmp_path / "state")
    spark.range(3000).selectExpr(
        "id AS priority", "concat('chip_', id) AS chip_name", "'remaining' AS status"
    ).write.parquet(path)
    remaining = spark.read.parquet(path).filter(F.col("status") == "remaining")
    allocated, rest = allocate_round(remaining, 1000, "priority")
    assert check_integrity(allocated, rest, 3000) == (1000, 2000)
    upsert_parquet_state(
        spark, path, allocated.withColumn("status", F.lit("labeled")), "chip_name"
    )
    assert sorted(r.priority for r in allocated.collect()) == list(range(1000))
    labeled = spark.read.parquet(path).filter(F.col("status") == "labeled")
    assert sorted(r.priority for r in labeled.collect()) == list(range(1000))
