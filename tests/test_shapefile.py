"""K4 binary shapefile sink: write .shp/.shx/.dbf/.prj from the
flagship inventory and parse the binary back per the public ESRI spec
(record count, bboxes, index offsets, DBF fields)."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from ast_data_pipeline_spark.plans.tank_inventory import tank_inventory
from ast_data_pipeline_spark.sources.shapefile import (
    parse_polygon_wkt,
    write_shapefile,
)


def _read_shp(path):
    """Parse .shp: (shape_type, global bbox, [(recno, ring_bbox, npoints)])."""
    with open(path, "rb") as f:
        raw = f.read()
    code, = struct.unpack(">i", raw[:4])
    assert code == 9994
    total_words, = struct.unpack(">i", raw[24:28])
    assert total_words * 2 == len(raw)
    version, shape_type = struct.unpack("<ii", raw[28:36])
    assert version == 1000
    bbox = struct.unpack("<4d", raw[36:68])
    recs, off = [], 100
    while off < len(raw):
        recno, words = struct.unpack(">ii", raw[off:off + 8])
        stype, = struct.unpack("<i", raw[off + 8:off + 12])
        rbbox = struct.unpack("<4d", raw[off + 12:off + 44])
        nparts, npoints = struct.unpack("<ii", raw[off + 44:off + 52])
        recs.append((recno, stype, rbbox, nparts, npoints))
        off += 8 + words * 2
    return shape_type, bbox, recs


def test_shapefile_roundtrip(spark, sf_dir, tmp_path):
    inv = tank_inventory(spark, sf_dir).select(
        "tank_id", "object_class", "tile_name", "image_names",
        "geometry_wkt", "diameter", "county", "state_fips", "county_fips",
    ).orderBy("tank_id")
    base = str(tmp_path / "tank_inventory")
    n = write_shapefile(inv, base)
    pdf = inv.toPandas()
    assert n == len(pdf) > 0

    shape_type, bbox, recs = _read_shp(base + ".shp")
    assert shape_type == 5  # polygon
    assert len(recs) == n
    assert [r[0] for r in recs] == list(range(1, n + 1))
    assert all(r[1] == 5 and r[3] == 1 for r in recs)

    # first/last record bbox == bbox of the source WKT ring
    for idx in (0, n - 1):
        ring = parse_polygon_wkt(pdf["geometry_wkt"].iloc[idx])
        xs, ys = [p[0] for p in ring], [p[1] for p in ring]
        want = (min(xs), min(ys), max(xs), max(ys))
        assert recs[idx][2] == pytest.approx(want, abs=1e-12)
        assert recs[idx][4] == len(ring)
    # global bbox covers every record bbox
    assert bbox[0] == min(r[2][0] for r in recs)
    assert bbox[3] == max(r[2][3] for r in recs)

    # .shx index points at every .shp record
    with open(base + ".shx", "rb") as f:
        shx = f.read()
    assert (len(shx) - 100) // 8 == n
    off0, words0 = struct.unpack(">ii", shx[100:108])
    assert off0 == 50  # first record right after the header

    # .dbf: record count, field name truncation, list column dropped
    with open(base + ".dbf", "rb") as f:
        dbf = f.read()
    nrec, hlen, rlen = struct.unpack("<IHH", dbf[4:12])
    assert nrec == n
    nfields = (hlen - 33) // 32
    names = []
    for i in range(nfields):
        d = dbf[32 + 32 * i:32 + 32 * (i + 1)]
        names.append(d.split(b"\x00")[0].decode())
    assert all(len(nm) <= 10 for nm in names)
    assert "object_cla" in names      # ESRI 10-char truncation
    assert "image_name" not in names and not any("image" in nm for nm in names)
    # first record's first field = first tank_id
    rec0 = dbf[hlen:hlen + rlen]
    assert rec0[:1] == b" "
    assert int(rec0[1:19].decode().strip()) == int(pdf["tank_id"].iloc[0])

    with open(base + ".prj") as f:
        assert "WGS_1984" in f.read()


def test_shapefile_rejects_fact_scale(spark, monkeypatch, tmp_path):
    import ast_data_pipeline_spark.sources.sinks as sinks

    monkeypatch.setattr(sinks, "MAX_REPORT_ROWS", 5)
    df = spark.range(10).select(
        F.col("id"),
        F.lit("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))").alias("geometry_wkt"),
    )
    with pytest.raises(ValueError, match="report-scale"):
        write_shapefile(df, str(tmp_path / "big"))


def test_dbf_wide_numeric_not_truncated(spark, tmp_path):
    """r3 ADVICE: a float wider than the default 19-char field used to
    be silently left-truncated (1e20 -> 1e18); fields are now sized to
    the data."""
    df = spark.createDataFrame(
        [(1, 1e20, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")],
        "id long, big double, geometry_wkt string",
    )
    base = str(tmp_path / "wide")
    assert write_shapefile(df, base) == 1
    with open(base + ".dbf", "rb") as f:
        dbf = f.read()
    assert b"100000000000000000000.00000000" in dbf


def test_dbf_numeric_beyond_dbase_cap_raises(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 1e300, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")],
        "id long, huge double, geometry_wkt string",
    )
    with pytest.raises(ValueError, match="254"):
        write_shapefile(df, str(tmp_path / "huge"))


def test_geometry_column_survives_prefix_collision(spark, tmp_path):
    """r3 ADVICE: an attribute truncating to the same 10 chars as the
    geometry column used to steal it after the dedup rename."""
    df = spark.createDataFrame(
        [("decoy", 7, "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")],
        "geometry_w string, id long, geometry_wkt string",
    )
    base = str(tmp_path / "collide")
    assert write_shapefile(df, base) == 1
    _, bbox, recs = _read_shp(base + ".shp")
    assert recs[0][2] == pytest.approx((0.0, 0.0, 2.0, 2.0))
    with open(base + ".dbf", "rb") as f:
        dbf = f.read()
    assert b"decoy" in dbf  # the colliding attribute is still carried


def test_shapefile_zip_read_roundtrip(spark, sf_dir, tmp_path):
    # S4 read side (r8): write -> zip -> parse back with the repo's own
    # binary readers; attributes (C and N fields) and every coordinate
    # must survive exactly.
    import zipfile

    from pyspark.sql import functions as F

    from ast_data_pipeline_spark.sources.shapefile import (
        read_dbf,
        read_shapefile_zip,
        write_shapefile,
    )

    df = spark.createDataFrame(
        [
            ("alpha", 1, 2.5, "POLYGON ((0.0 0.0, 0.0 2.0, 1.0 2.0, 1.0 0.0, 0.0 0.0))"),
            ("beta", -7, 0.125, "POLYGON ((3.0 4.0, 3.0 9.0, 5.0 9.0, 5.0 4.0, 3.0 4.0))"),
        ],
        "name string, n long, v double, geometry_wkt string",
    )
    base = str(tmp_path / "roundtrip")
    write_shapefile(df, base)
    zpath = base + ".zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for ext in (".shp", ".shx", ".dbf", ".prj"):
            z.write(base + ext, "roundtrip" + ext)
    back = read_shapefile_zip(spark, zpath).orderBy("name").collect()
    assert [r["name"] for r in back] == ["alpha", "beta"]
    assert [r["n"] for r in back] == [1, -7]
    assert [float(r["v"]) for r in back] == [2.5, 0.125]
    # writer enforces clockwise rings; both inputs above are already CW
    assert back[0]["geometry_wkt"].startswith("POLYGON ((0.000000000 0.000000000")
    # dbf reader skips deleted rows
    with open(base + ".dbf", "rb") as f:
        raw = bytearray(f.read())
    # flip first record's delete flag (header length from the header)
    import struct

    hlen = struct.unpack_from("<H", raw, 8)[0]
    raw[hlen] = ord("*")
    pdf = read_dbf(bytes(raw))
    assert len(pdf) == 1


def test_dbf_int_exact_beside_float(tmp_path):
    """An int64 attribute next to only float attributes is written
    exactly: a row-wise walk upcast the row to float64 and rounded
    ints past 2**53."""
    from ast_data_pipeline_spark.sources.shapefile import read_dbf, write_shapefile_rows

    base = str(tmp_path / "ints")
    square = "POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))"
    write_shapefile_rows([(square, 2**60 + 1, 2.5)], ["geometry_wkt", "n", "v"], base)
    with open(base + ".dbf", "rb") as f:
        back = read_dbf(f.read())
    assert back.to_dict("records") == [{"n": 2**60 + 1, "v": 2.5}]
