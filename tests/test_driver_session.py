"""The verification driver runs queries on its OWN SparkSession — the
engine must not depend on session.py's conf defaults. Simulate a
foreign session (different timezone) and check oracle parity still
holds for timestamp-sensitive queries."""

from __future__ import annotations

from ast_data_pipeline_spark.oracle import compare_frames, run_oracle_sql
from ast_data_pipeline_spark.registry import load_all


def test_foreign_session_timezone(spark, sf_dir):
    foreign = spark.newSession()
    foreign.conf.set("spark.sql.session.timeZone", "America/New_York")
    specs = load_all()
    for name in ["a6_distinct_by_key_first", "e_tumbling_window_agg", "e_sessionize"]:
        spec = specs[name]
        got = spec.fn(foreign, sf_dir).toPandas()
        problems = compare_frames(got, run_oracle_sql(spec.oracle, sf_dir))
        assert not problems, f"{name}: {problems}"
    # the engine pinned the foreign session back to UTC via the catalog
    assert foreign.conf.get("spark.sql.session.timeZone") == "UTC"


# JVMs one test run can hold at once: the shared ``spark`` fixture, the
# bench.py subprocess (test_contract), the worker-env subprocess
# (test_worker_env) and the unstaged-reprojection subprocess (test_geo),
# the subprocesses one at a time — each sized by session.driver_memory().
TEST_RUN_JVMS = 3


def test_default_heap_fits_physical_ram(monkeypatch):
    from ast_data_pipeline_spark.session import driver_memory, mem_total_mb

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap = driver_memory()
    assert heap.endswith("m")
    assert int(heap[:-1]) * TEST_RUN_JVMS <= mem_total_mb()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"


def test_heap_layout_scales_with_driver_memory():
    from ast_data_pipeline_spark.session import heap_layout_options

    assert heap_layout_options("4g") == "-Xms1024m -Xmn256m"
    assert heap_layout_options("4096m") == heap_layout_options("4g")
    assert heap_layout_options("64G") == "-Xms16384m -Xmn4096m"
    assert heap_layout_options("2048") == "-Xms512m -Xmn128m"
