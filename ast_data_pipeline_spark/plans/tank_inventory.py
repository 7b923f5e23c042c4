"""The flagship pipeline — tile-level tank inventory
(SURVEY.md §3.1; ref driver: tile-level-annotation.py:66-117).

Stages (each a pure DataFrame transform; one job, ~4 shuffles):
 1. chip-level annotations -> standardized labels (P15), propagated
    flags (P16), size reclassification (P17)
 2. tile-global + UTM coordinates (P6-P8, via the gann view)
 3. per-tile bbox merge (A1, mapInPandas connected components)
 4. merged-bbox UTM coords + centroid + diameter (P8/P10/P12 on the
    merged extents)
 5. WGS84 reprojection of bbox + centroid (P9, native-column Snyder
    series inside whole-stage codegen; no Python UDF)
 6. county assignment via argmax-overlap spatial join (J8, broadcast)
 7. quad_id / capture_date derivations (P19) + WKT geometry (P11)

Output mirrors the reference's ``tile_level_annotations`` table
(SURVEY §1.1 #5): one row per merged tank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geo import bbox_wkt, with_utm_lonlat, zone_from_epsg
from ..functions.labels import (
    propagate_flags,
    reclassify_by_size,
    standardize_label,
)
from ..operators.merge import merge_tile_annotations
from ..operators.spatial import assign_county_argmax
from ..sources.domain_views import counties, g_annotations, tiles, uncached_views

DIST_LIMIT = 5  # px (ref tile-level-annotation.py:53-54)


def tank_inventory(spark: SparkSession, sf_dir: str, dist_limit: int = DIST_LIMIT) -> DataFrame:
    # The flagship derives the domain views with raw lineage (no
    # session cache): an InMemoryRelation is an optimization barrier,
    # and this plan's pinned 4-exchange shape depends on Catalyst
    # collapsing exchanges across the view boundary (see
    # sources/domain_views.uncached_views).
    with uncached_views():
        return _tank_inventory_plan(spark, sf_dir, dist_limit)


def _tank_inventory_plan(spark: SparkSession, sf_dir: str, dist_limit: int) -> DataFrame:
    g = g_annotations(spark, sf_dir)

    # 1. label pipeline (P15 -> P16 -> P17)
    t_out, d_out = propagate_flags(F.col("truncated"), F.col("difficult"))
    g = (
        g.withColumn("object_class", standardize_label(F.col("raw_label"), "undefined_object"))
        .withColumn("truncated", t_out)
        .withColumn("difficult", d_out)
    )
    g = g.withColumn(
        "object_class",
        reclassify_by_size(
            F.col("object_class"), F.col("truncated"), F.col("difficult"),
            F.col("gxmax") - F.col("gxmin"), F.col("gymax") - F.col("gymin"),
        ),
    )

    # 3. per-tile merge (A1)
    tanks = merge_tile_annotations(g, dist_limit)

    # 4. UTM coords of the merged extents (P8 linear pixel->UTM on the
    #    tile corners), centroid (P10), diameter (P12)
    t = tiles(spark, sf_dir).drop("tile_name")
    j = tanks.join(t, "tile_key")
    ux = lambda px: F.col("nw_x_utm") + px.cast("double") * (
        F.col("se_x_utm") - F.col("nw_x_utm")
    ) / (F.col("tile_width").cast("double") - 1)
    uy = lambda px: F.col("nw_y_utm") + px.cast("double") * (
        F.col("se_y_utm") - F.col("nw_y_utm")
    ) / (F.col("tile_height").cast("double") - 1)
    j = (
        j.withColumn("utm_minx", ux(F.col("gxmin")))
        .withColumn("utm_maxx", ux(F.col("gxmax")))
        .withColumn("utm_maxy", uy(F.col("gymin")))
        .withColumn("utm_miny", uy(F.col("gymax")))
        .withColumn("centroid_x", (F.col("utm_minx") + F.col("utm_maxx")) / 2)
        .withColumn("centroid_y", (F.col("utm_miny") + F.col("utm_maxy")) / 2)
        .withColumn(
            "diameter",
            F.least(
                F.col("gxmax") - F.col("gxmin"), F.col("gymax") - F.col("gymin")
            ).cast("double") * F.lit(0.6),
        )
        .withColumn("annot_id", F.col("component_id"))  # key for the county join
    )

    # 6. county assignment (J8 argmax overlap, counties broadcast).
    #    Runs BEFORE the reprojection on purpose: the argmax groupBy is
    #    the pipeline's one row-shuffle, so every column added here
    #    rides through the exchange and the max_by buffer. Reprojecting
    #    first added 9 staged lon/lat columns to that shuffle and cost
    #    2.3x end-to-end at sf0.1; county assignment needs only the UTM
    #    bbox, and reprojection is a pure per-row map, so order is free.
    located = assign_county_argmax(j, counties(spark, sf_dir))

    # 5. WGS84 (P9) on the post-argmax rows: native-column Snyder
    #    series for centroid + both corners — stays inside whole-stage
    #    codegen (no Python/Arrow hop). Staged form: each point's
    #    series subterms are computed once.
    zone = zone_from_epsg(F.col("utm_projection"))
    located = with_utm_lonlat(located, "centroid_lon", "centroid_lat", F.col("centroid_x"), F.col("centroid_y"), zone)
    located = with_utm_lonlat(located, "nw_lon", "nw_lat", F.col("utm_minx"), F.col("utm_maxy"), zone)
    located = with_utm_lonlat(located, "se_lon", "se_lat", F.col("utm_maxx"), F.col("utm_miny"), zone)

    # 7. P19 derivations + P11 WKT + final projection
    return located.select(
        F.col("component_id").alias("tank_id"),
        F.col("object_class").alias("object_class"),
        F.col("tile_name").alias("tile_name"),
        F.array_sort("image_names").alias("image_names"),
        F.col("gxmin").alias("bbox_xmin_px"),
        F.col("gymin").alias("bbox_ymin_px"),
        F.col("gxmax").alias("bbox_xmax_px"),
        F.col("gymax").alias("bbox_ymax_px"),
        F.col("utm_projection").alias("utm_projection"),
        F.col("utm_minx").alias("utm_minx"),
        F.col("utm_miny").alias("utm_miny"),
        F.col("utm_maxx").alias("utm_maxx"),
        F.col("utm_maxy").alias("utm_maxy"),
        F.col("nw_lon").alias("nw_lon"),
        F.col("nw_lat").alias("nw_lat"),
        F.col("se_lon").alias("se_lon"),
        F.col("se_lat").alias("se_lat"),
        F.col("centroid_lon").alias("centroid_lon"),
        F.col("centroid_lat").alias("centroid_lat"),
        bbox_wkt(
            F.col("nw_lon"), F.col("se_lat"), F.col("se_lon"), F.col("nw_lat")
        ).alias("geometry_wkt"),
        F.col("diameter").alias("diameter"),
        F.col("merged_bbox").alias("merged_bbox"),
        F.col("county_name").alias("county"),
        F.col("state_fips").alias("state_fips"),
        F.col("county_fips").alias("county_fips"),
        F.substring(F.col("tile_name"), 3, 10).alias("quad_id"),
        F.element_at(F.split(F.col("tile_name"), "_"), -1).alias("capture_date"),
    )
