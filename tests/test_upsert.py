"""MERGE-emulation upsert tests (batch + foreachBatch streaming)."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from ast_data_pipeline_spark.plans.upsert import (
    stream_upsert_tracking,
    upsert,
    upsert_parquet_state,
)
from ast_data_pipeline_spark.sources.catalog import load


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
