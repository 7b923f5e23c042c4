"""Sink round-trip tests (SURVEY §2.1 K1/K2/K4/K5)."""

from __future__ import annotations

import json
import os
import struct

import pytest
from pyspark.sql import functions as F

from ast_data_pipeline_spark.plans.tank_inventory import tank_inventory
from ast_data_pipeline_spark.sources.sinks import (
    shapefile_compat_columns,
    write_csv_report,
    write_inventory_json,
    write_json_list,
    write_queue_snapshot,
)


def test_k4_inventory_json_roundtrip(spark, sf_dir, tmp_path):
    inv = tank_inventory(spark, sf_dir).limit(200)
    full, compat = str(tmp_path / "inv"), str(tmp_path / "inv_shp")
    write_inventory_json(inv, full, shp_compat_path=compat)
    back = spark.read.json(full)
    assert back.count() == inv.count()
    assert "geometry_wkt" in back.columns and "image_names" in back.columns
    assert back.selectExpr("max(geometry_wkt like 'POLYGON ((%')").collect()[0][0]

    shp = spark.read.json(compat)
    # DBF 10-char truncation; list column dropped (K4 legacy artifact)
    assert all(len(c) <= 10 for c in shp.columns)
    assert "image_names" not in shp.columns
    assert "object_cla" in shp.columns  # object_class -> object_cla


def test_shapefile_compat_dedup(spark):
    df = spark.createDataFrame(
        [(1, 2, 3)], "object_class_a long, object_class_b long, ok long"
    )
    out = shapefile_compat_columns(df)
    assert out.columns == ["object_cla", "object_cl1", "ok"]


def test_k1_csv_report_roundtrip(spark, sf_dir, tmp_path):
    from ast_data_pipeline_spark.registry import load_all

    rep = load_all()["a3_crosstab_margins"].fn(spark, sf_dir)
    path = str(tmp_path / "report")
    write_csv_report(rep, path)
    back = spark.read.option("header", True).csv(path)
    assert back.count() == rep.count()
    assert set(back.columns) == set(rep.columns)


def test_k2_queue_snapshot_overwrite(spark, sf_dir, tmp_path):
    from ast_data_pipeline_spark.plans.workqueue import allocate_round
    from ast_data_pipeline_spark.sources.catalog import load

    q = load(spark, sf_dir, "orders").select("o_orderkey")
    path = str(tmp_path / "queue")
    alloc, rest = allocate_round(q, 100, "o_orderkey")
    write_queue_snapshot(rest, path)
    n1 = spark.read.parquet(path).count()
    alloc2, rest2 = allocate_round(spark.read.parquet(path), 100, "o_orderkey")
    write_queue_snapshot(rest2, str(tmp_path / "queue2"))
    n2 = spark.read.parquet(str(tmp_path / "queue2")).count()
    assert n1 - n2 == 100


def test_k2_queue_snapshot_in_place(spark, sf_dir, tmp_path):
    # the reference's np.save over the same file each round: the new
    # snapshot reads the path it replaces
    from ast_data_pipeline_spark.plans.workqueue import allocate_round
    from ast_data_pipeline_spark.sources.catalog import load

    path = str(tmp_path / "queue")
    load(spark, sf_dir, "orders").select("o_orderkey").orderBy("o_orderkey").limit(
        1000
    ).write.parquet(path)
    alloc, rest = allocate_round(spark.read.parquet(path), 100, "o_orderkey")
    write_queue_snapshot(rest, path)
    assert spark.read.parquet(path).count() == 900
    assert sorted(os.listdir(tmp_path)) == ["queue"]


def test_k5_json_list(tmp_path):
    p = str(tmp_path / "list.json")
    write_json_list(["a", "b"], p)
    assert json.load(open(p)) == ["a", "b"]


def test_k1_csv_report_row_bound(spark, tmp_path, monkeypatch):
    import ast_data_pipeline_spark.sources.sinks as sinks

    monkeypatch.setattr(sinks, "MAX_REPORT_ROWS", 10)
    big = spark.range(100).selectExpr("id", "id * 2 AS v")
    with pytest.raises(ValueError, match="MAX_REPORT_ROWS"):
        sinks.write_csv_report(big, str(tmp_path / "big_report"))


def _last_sql_execution(spark) -> int:
    """Id of the newest SQL execution in the session's status store,
    after the listener bus has delivered every finished event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = int(store.executionsCount())
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def _shp_record_bboxes(path):
    with open(path, "rb") as f:
        raw = f.read()
    out, off = [], 100
    while off < len(raw):
        _, words = struct.unpack_from(">ii", raw, off)
        out.append(struct.unpack_from("<4d", raw, off + 12))
        off += 8 + words * 2
    return out


def _read(path) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def test_k4_export_inventory_trio(spark, sf_dir, tmp_path):
    from ast_data_pipeline_spark.sources.shapefile import read_dbf, write_shapefile
    from ast_data_pipeline_spark.sources.sinks import export_inventory, write_geojson

    inv = tank_inventory(spark, sf_dir).select(
        "tank_id", "object_class", "image_names", "geometry_wkt",
        "diameter", "county",
    ).orderBy("tank_id")
    before = _last_sql_execution(spark)
    counts = export_inventory(inv, str(tmp_path), name="tla")
    # one plan execution feeds all six files
    assert _last_sql_execution(spark) - before == 1
    n = inv.count()
    assert counts == {"json": n, "geojson": n, "shp": n}
    # the reference writes the FeatureCollection under BOTH names
    assert _read(tmp_path / "tla.json") == _read(tmp_path / "tla.geojson")
    fc = json.load(open(tmp_path / "tla.json"))
    assert fc["type"] == "FeatureCollection" and len(fc["features"]) == n
    f0 = fc["features"][0]
    assert f0["geometry"]["type"] == "Polygon"
    ring = f0["geometry"]["coordinates"][0]
    assert ring[0] == ring[-1] and len(ring) >= 4
    # GeoJSON keeps list columns; the shapefile flavor drops them
    assert isinstance(f0["properties"]["image_names"], list)
    assert "geometry_wkt" not in f0["properties"]
    for ext in (".shp", ".shx", ".dbf", ".prj"):
        assert os.path.exists(tmp_path / ("tla" + ext))

    # feature i, .shp record i and .dbf row i describe the same tank
    dbf = read_dbf(_read(tmp_path / "tla.dbf"))
    bboxes = _shp_record_bboxes(tmp_path / "tla.shp")
    assert len(dbf) == len(bboxes) == n
    for feat, tank_id, bbox in zip(fc["features"], dbf["tank_id"], bboxes):
        assert feat["properties"]["tank_id"] == tank_id
        xs, ys = zip(*feat["geometry"]["coordinates"][0])
        assert (min(xs), min(ys), max(xs), max(ys)) == bbox

    # the per-artifact writers produce the export's bytes
    write_geojson(inv, str(tmp_path / "solo.geojson"))
    write_shapefile(inv, str(tmp_path / "solo"))
    for ext in (".geojson", ".shp", ".shx", ".dbf", ".prj"):
        assert _read(tmp_path / ("solo" + ext)) == _read(tmp_path / ("tla" + ext)), ext


def test_k4_export_empty_inventory(spark, sf_dir, tmp_path):
    from ast_data_pipeline_spark.sources.sinks import export_inventory

    inv = tank_inventory(spark, sf_dir).limit(0)
    counts = export_inventory(inv, str(tmp_path), name="tla")
    assert counts == {"json": 0, "geojson": 0, "shp": 0}
    for ext in (".json", ".geojson"):
        fc = json.load(open(tmp_path / ("tla" + ext)))
        assert fc == {"type": "FeatureCollection", "features": []}
    for ext in (".shp", ".shx"):
        raw = _read(tmp_path / ("tla" + ext))
        assert len(raw) == 100  # header only
        assert struct.unpack_from(">i", raw, 24)[0] == 50  # file length, words
        assert struct.unpack_from("<4d", raw, 36) == (0.0, 0.0, 0.0, 0.0)
    raw = _read(tmp_path / "tla.dbf")
    nrec, hlen, rlen = struct.unpack_from("<IHH", raw, 4)
    assert nrec == 0
    assert hlen == 32 + 32 * (len(inv.columns) - 2) + 1  # geometry + list dropped
    assert len(raw) == hlen + 1 and raw[-2:] == b"\x0d\x1a"


def test_k4_export_row_cap_writes_nothing(spark, tmp_path, monkeypatch):
    import ast_data_pipeline_spark.sources.sinks as sinks

    monkeypatch.setattr(sinks, "MAX_REPORT_ROWS", 5)
    df = spark.range(10).select(
        F.col("id").alias("tank_id"),
        F.lit("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))").alias("geometry_wkt"),
    )
    out = tmp_path / "export"
    with pytest.raises(ValueError, match="export_inventory: >5 rows"):
        sinks.export_inventory(df, str(out))
    assert not out.exists()


def test_k4_export_null_string_and_nan_double(spark, tmp_path):
    from ast_data_pipeline_spark.sources.shapefile import read_dbf
    from ast_data_pipeline_spark.sources.sinks import export_inventory

    square = "POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))"
    df = spark.createDataFrame(
        [(1, None, float("nan"), square), (2, "tank", 2.5, square)],
        "tank_id long, county string, diameter double, geometry_wkt string",
    )
    export_inventory(df, str(tmp_path), name="tla")
    back = read_dbf(_read(tmp_path / "tla.dbf"))
    # DBF has no null: a null string is written as its str() and a NaN
    # numeric as a blank field, which reads back as None
    assert back["county"].tolist() == ["None", "tank"]
    assert back["diameter"].tolist()[1] == 2.5
    assert back["diameter"].isna().tolist() == [True, False]
    props = [f["properties"] for f in json.load(open(tmp_path / "tla.geojson"))["features"]]
    assert props[0]["county"] is None and props[0]["diameter"] != props[0]["diameter"]
    assert props[1] == {"tank_id": 2, "county": "tank", "diameter": 2.5}
