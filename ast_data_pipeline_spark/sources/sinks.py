"""Sinks (SURVEY.md §2.1 K1/K2/K4/K5).

- K1 CSV report sink: tiny report tables -> single CSV (the reference
  writes pandas .to_csv; we coalesce(1) since reports are small by
  construction — never used for large outputs).
- K2 queue snapshot: the queue's parquet directory is replaced
  through ``replace_parquet`` (the reference's ``np.save`` over the
  same file each round, src/az_proc.py:408-445), so a snapshot of a
  queue read from the snapshot path itself is safe.
- K4 inventory export: JSON with geometry as WKT, plus the
  shapefile-compatible variant with 10-char truncated column names —
  the reference's ESRI shapefile sink truncates ``object_class`` ->
  ``object_cla`` etc. (seen at distribution_by_county_state.py:29,32);
  emitted as a documented legacy-compat artifact. The GIS hand-off
  (``export_inventory``: .json, .geojson, .shp/.shx/.dbf/.prj) runs
  the inventory plan ONCE: one bounded Arrow collect gives one pandas
  snapshot, the FeatureCollection text is serialized once and written
  under both names, and the shapefile is built from the same snapshot
  — so the artifacts agree row for row.
- K5 JSON list sink (ref: src/form_calcs.py:54-65).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# Hard bound on what the single-file CSV path will serialize through one
# task. Reports here are group-by summaries (tens to thousands of rows);
# anything bigger indicates a caller routing a fact table at a report
# sink, which at 100 TB would funnel the job through one executor —
# fail fast instead.
MAX_REPORT_ROWS = 1_000_000


def write_csv_report(df: DataFrame, path: str) -> None:
    n = df.limit(MAX_REPORT_ROWS + 1).count()
    if n > MAX_REPORT_ROWS:
        raise ValueError(
            f"write_csv_report: {n}+ rows exceeds MAX_REPORT_ROWS="
            f"{MAX_REPORT_ROWS}; use write_queue_snapshot (parquet, "
            "parallel) for large outputs"
        )
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


class InterruptedSwapError(RuntimeError):
    """A parquet table is missing but its moved-aside copy exists: a
    ``replace_parquet`` swap stopped between its two renames."""


def replace_parquet(df: DataFrame, path: str) -> None:
    """Replace the parquet directory ``path`` with ``df``, even when
    ``df`` reads ``path`` itself.

    ``df`` is written once, to ``<path>.next``; then the Hadoop
    FileSystem swaps it in: any stale ``<path>.prev`` is deleted,
    ``<path>`` is renamed to ``<path>.prev``, ``<path>.next`` to
    ``<path>``, and ``<path>.prev`` is deleted. A rename that fails
    raises. A frame that read the old ``<path>`` must not be executed
    again after the swap, since its files are gone.

    If ``<path>`` is missing while ``<path>.prev`` exists, an earlier
    swap stopped between its renames and ``<path>.prev`` is the only
    copy of the table: raise ``InterruptedSwapError`` before anything
    is written. Parquet has no transactions: on HDFS or a local disk
    the swap is two metadata renames, while on an object store each
    rename copies every file, and a table format's atomic commit
    (Delta/Iceberg) replaces this helper."""
    sc = df.sparkSession.sparkContext
    target = sc._jvm.org.apache.hadoop.fs.Path(path.rstrip("/"))  # noqa: SLF001
    fs = target.getFileSystem(sc._jsc.hadoopConfiguration())  # noqa: SLF001
    prev = target.suffix(".prev")
    nxt = target.suffix(".next")
    if not fs.exists(target) and fs.exists(prev):
        raise InterruptedSwapError(
            f"{target} is missing but {prev} exists: a swap stopped "
            f"between its renames; move {prev} back to {target} (or "
            f"{nxt}, the complete new table, if it exists)"
        )
    df.write.mode("overwrite").parquet(nxt.toString())
    fs.delete(prev, True)
    if fs.exists(target) and not fs.rename(target, prev):
        raise OSError(f"replace_parquet: rename {target} -> {prev} failed")
    if not fs.rename(nxt, target):
        raise OSError(f"replace_parquet: rename {nxt} -> {target} failed")
    fs.delete(prev, True)


def write_queue_snapshot(df: DataFrame, path: str) -> None:
    """K2: replace the queue snapshot at ``path`` (``replace_parquet``)."""
    replace_parquet(df, path)


def shapefile_compat_names(names: list[str]) -> list[str]:
    """The DBF 10-char truncate + ESRI-style numeric-suffix dedup as a
    pure name transform — shared by the Spark-side
    ``shapefile_compat_columns`` and the row-level shapefile writer
    (``shapefile.write_shapefile_rows``), which must not touch Spark."""
    seen: dict[str, int] = {}
    out = []
    for name in names:
        short = name[:10]
        if short in seen:
            seen[short] += 1
            suffix = str(seen[short])
            short = short[: 10 - len(suffix)] + suffix
        else:
            seen[short] = 0
        out.append(short)
    return out


def list_columns(df: DataFrame) -> list[str]:
    """Names of the array-typed columns: GeoJSON carries them as JSON
    lists, DBF cannot carry them at all."""
    return [name for name, dtype in df.dtypes if dtype.startswith("array")]


def shapefile_compat_columns(df: DataFrame) -> DataFrame:
    """Truncate column names to the DBF 10-char limit, deduplicating
    with numeric suffixes the way ESRI writers do; drops list-typed
    columns (shapefiles cannot carry them — the reference's shp sink
    drops ``image_name`` the same way)."""
    out = df.drop(*list_columns(df))
    renames = list(zip(out.columns, shapefile_compat_names(out.columns)))
    # One select with aliases, NOT sequential withColumnRenamed: the
    # sequential form renames every column matching the name, so
    # truncating A -> B while an original B exists clobbered both.
    return out.select([F.col(f"`{old}`").alias(new) for old, new in renames])


def shapefile_compat_frame(pdf, geometry: str, drop: list[str]):
    """The pandas twin of ``shapefile_compat_columns`` for the
    shapefile writers: ``drop`` (the list-typed columns) removed,
    ``geometry`` moved FIRST, names through ``shapefile_compat_names``.
    Geometry goes first through the rename pass because the 10-char
    dedup keeps the first occurrence's name and suffixes later
    collisions, so an attribute sharing geometry's truncated prefix
    cannot steal the geometry column (r3 ADVICE)."""
    ordered = [geometry] + [c for c in pdf.columns if c != geometry and c not in drop]
    return pdf[ordered].set_axis(shapefile_compat_names(ordered), axis=1)


def write_inventory_json(inv: DataFrame, path: str, shp_compat_path: str | None = None) -> None:
    """K4: full-fidelity JSON (WKT geometry, list columns intact); and
    optionally the shapefile-compatible truncated flavor."""
    inv.write.mode("overwrite").json(path)
    if shp_compat_path:
        shapefile_compat_columns(inv).write.mode("overwrite").json(shp_compat_path)


def write_json_list(values: list, path: str) -> None:
    """K5: a plain JSON list (driver-side tiny artifact)."""
    with open(path, "w") as f:
        json.dump(values, f)


def collect_report(df: DataFrame, sink: str):
    """One bounded Arrow collect for the driver-side K4 writers:
    ``MAX_REPORT_ROWS + 1`` rows at most cross to the driver, and more
    than ``MAX_REPORT_ROWS`` raise. One call is one execution of
    ``df``'s plan."""
    pdf = df.limit(MAX_REPORT_ROWS + 1).toPandas()
    if len(pdf) > MAX_REPORT_ROWS:
        raise ValueError(
            f"{sink}: >{MAX_REPORT_ROWS} rows (MAX_REPORT_ROWS); GeoJSON "
            "and shapefiles are a report-scale GIS hand-off, keep "
            "fact-scale data in parquet"
        )
    return pdf


def feature_collection_json(pdf, geometry: str, lists: list[str]) -> str:
    """GeoJSON FeatureCollection text of a collected frame with a
    single-ring POLYGON WKT column — the reference emits its inventory
    as ``gdf.to_json()`` (ref: src/form_calcs.py:1040-1052). All
    non-geometry columns become feature properties; the ``lists``
    columns (numpy arrays after the Arrow collect) become JSON lists;
    ``to_dict("records")`` boxes the numpy scalars, which ``json``
    cannot encode, to Python values."""
    from .shapefile import parse_polygon_wkt

    props = pdf.drop(columns=[geometry])
    records = props.to_dict("records")
    for c in lists:
        for rec, v in zip(records, props[c]):
            rec[c] = v.tolist() if hasattr(v, "tolist") else v
    features = [
        {
            "type": "Feature",
            "geometry": {
                "type": "Polygon",
                "coordinates": [[[x, y] for x, y in parse_polygon_wkt(wkt)]],
            },
            "properties": rec,
        }
        for wkt, rec in zip(pdf[geometry], records)
    ]
    return json.dumps({"type": "FeatureCollection", "features": features})


def write_geojson(df: DataFrame, path: str, geometry: str = "geometry_wkt") -> int:
    """GeoJSON FeatureCollection from a DataFrame with a single-ring
    POLYGON WKT column (``feature_collection_json``); list columns ride
    along intact (GeoJSON, unlike DBF, can carry them). Driver-side
    report sink, bounded by MAX_REPORT_ROWS. Returns feature count."""
    pdf = collect_report(df, "write_geojson")
    with open(path, "w") as f:
        f.write(feature_collection_json(pdf, geometry, list_columns(df)))
    return len(pdf)


def export_inventory(
    inv: DataFrame,
    output_dir: str,
    name: str = "tile_level_annotations",
    geometry: str = "geometry_wkt",
) -> dict[str, int]:
    """K4 complete hand-off, mirroring the reference's ``write_gdf``
    (src/form_calcs.py:1040-1055): ``{name}.json`` and
    ``{name}.geojson`` (both the GeoJSON FeatureCollection, as
    ``gdf.to_json()`` writes), and ``{name}.shp/.shx/.dbf/.prj`` (list
    columns dropped, 10-char DBF names — the constraints the
    reference's geopandas ``to_file`` applies).

    ``inv``'s plan executes exactly once: one bounded collect
    (``collect_report``) gives the one pandas snapshot every artifact
    is written from, and the FeatureCollection is serialized once, so
    ``.json`` and ``.geojson`` are the same bytes and feature *i* is
    shapefile record *i*. Raises the MAX_REPORT_ROWS ``ValueError``
    before any file is written. Returns per-artifact row counts."""
    import os

    from .shapefile import _write_shapefile_pdf

    pdf = collect_report(inv, "export_inventory")
    lists = list_columns(inv)
    text = feature_collection_json(pdf, geometry, lists)
    os.makedirs(output_dir, exist_ok=True)
    base = os.path.join(output_dir, name)
    for ext in (".json", ".geojson"):
        with open(base + ext, "w") as f:
            f.write(text)
    n_shp = _write_shapefile_pdf(shapefile_compat_frame(pdf, geometry, lists), base)
    return {"json": len(pdf), "geojson": len(pdf), "shp": n_shp}
