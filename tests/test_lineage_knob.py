"""The reliable-checkpoint knob (VERDICT r9 #1).

Every iterative lineage cut routes through ``lineage.lineage_cut`` /
``lineage_cut_lazy``; ``SPARK_GRAFT_CKPT_DIR`` switches them from
executor-local ``localCheckpoint`` (fast, not fault-tolerant) to
reliable ``DataFrame.checkpoint`` (survives executor death on a real
cluster). Both modes must produce byte-identical results — the knob
trades recovery for IO, never semantics.

``x_dedup_clusters`` is the canary: its large-star/small-star
connected-components loop is the deepest iterative consumer of the cut
helper (cuts inside every round plus the shared signature frame).
"""

from __future__ import annotations

import os

import pytest

from ast_data_pipeline_spark import lineage
from ast_data_pipeline_spark.registry import load_all


def _rows(spark, sf_dir, name):
    df = load_all()[name].fn(spark, sf_dir)
    return sorted(tuple(r) for r in df.collect())


def test_modes_identical_on_dedup_clusters(spark, sf_dir, tmp_path):
    assert not lineage.reliable_mode()
    local = _rows(spark, sf_dir, "x_dedup_clusters")
    os.environ["SPARK_GRAFT_CKPT_DIR"] = str(tmp_path / "ckpt")
    try:
        assert lineage.reliable_mode()
        reliable = _rows(spark, sf_dir, "x_dedup_clusters")
    finally:
        del os.environ["SPARK_GRAFT_CKPT_DIR"]
    assert local == reliable
    # the reliable run really went through the checkpoint dir
    ckpt_root = tmp_path / "ckpt"
    written = [p for p in ckpt_root.rglob("*") if p.is_file()]
    assert written, "reliable mode did not write any checkpoint files"


def test_lazy_cut_reliable_mode(spark, sf_dir, tmp_path):
    """Lazy cuts (eager=False) also honor the knob."""
    from pyspark.sql import functions as F

    os.environ["SPARK_GRAFT_CKPT_DIR"] = str(tmp_path / "ckpt2")
    try:
        df = spark.range(100).withColumn("v", F.col("id") * 2)
        cut = lineage.lineage_cut_lazy(df)
        assert cut.count() == 100
        assert cut.checkpoint is not None  # still a DataFrame
    finally:
        del os.environ["SPARK_GRAFT_CKPT_DIR"]
    assert [r.v for r in cut.orderBy("id").limit(3).collect()] == [0, 2, 4]


def test_checkpoint_gc(spark, sf_dir, tmp_path):
    """Reliable-mode checkpoints are cleanable (VERDICT r10 #4).

    Steady state: the session builder turns on the ContextCleaner's
    checkpoint GC so frames collected on the driver release their
    checkpoint files. Session exit: sweep_checkpoints() removes the
    whole per-context checkpoint dir through the Hadoop FS API.
    """
    import pathlib

    assert (
        spark.conf.get("spark.cleaner.referenceTracking.cleanCheckpoints")
        == "true"
    )
    os.environ["SPARK_GRAFT_CKPT_DIR"] = str(tmp_path / "ckpt_gc")
    try:
        cut = lineage.lineage_cut(spark.range(1000).selectExpr("id", "id * 3 AS v"))
        assert cut.count() == 1000
        installed = spark.sparkContext._jsc.sc().getCheckpointDir().get()
        local = pathlib.Path(installed.removeprefix("file:"))
        assert local.exists() and any(local.rglob("*"))
        assert lineage.sweep_checkpoints(spark)
        assert not local.exists(), "sweep left the checkpoint dir behind"
        # a later cut in the same session recreates its subdirs
        again = lineage.lineage_cut(spark.range(10).selectExpr("id"))
        assert again.count() == 10
        assert local.exists()
        assert lineage.sweep_checkpoints(spark)
    finally:
        del os.environ["SPARK_GRAFT_CKPT_DIR"]
    # localCheckpoint mode (no dir ever installed) is a no-op — pinned
    # indirectly: sweep on a fresh context would return False; here the
    # dir was just removed, so a second sweep is the same no-op shape.
    assert lineage.sweep_checkpoints(spark) is False
