"""Domain operator surface over the derived reference-shaped views
(SURVEY.md §2: P3-P20, F5-F7, J6-J9, A2/A7, the reporting crosstab).

Every query here runs on the deterministic domain views
(sources/domain_views.py) so each keeps a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.labels import (
    propagate_flags,
    propagate_flags_sql,
    reclassify_by_size,
    reclassify_by_size_sql,
    standardize_label,
    standardize_label_sql,
)
from ..registry import register
from ..sources.domain_views import (
    annotations,
    g_annotations,
    images,
    tiles,
    with_domain,
)


@register(
    "d_tile_parse",
    oracle=with_domain(
        """
SELECT tile_name,
       substr(tile_name, 3, 10) AS quad_id,
       string_split(tile_name, '_')[6] AS capture_date,
       substr(string_split(tile_name, '_')[6], 1, 4) AS capture_year,
       string_split(tile_name, '_')[3] AS corner,
       string_split(tile_name, '_')[4] AS utm_zone,
       string_split(tile_name, '_')[5] AS resolution_code
FROM tiles
""",
        "tiles",
    ),
    doc="P19 quad_id/capture_date derivation (ref: tile-level-annotation.py:"
    "98-99 tile_name[2:12] / rsplit('_',1)[1]) + P18 filename metadata "
    "(ref: src/form_calcs.py:354-384) as native substring/split — the "
    "reference's row-UDF .apply(lambda) replaced by codegen'd exprs.",
    tags=("domain", "projection"),
)
def d_tile_parse(spark, sf_dir):
    t = tiles(spark, sf_dir)
    parts = F.split("tile_name", "_")
    return t.select(
        "tile_name",
        F.substring("tile_name", 3, 10).alias("quad_id"),
        F.element_at(parts, 6).alias("capture_date"),
        F.substring(F.element_at(parts, 6), 1, 4).alias("capture_year"),
        F.element_at(parts, 3).alias("corner"),
        F.element_at(parts, 4).alias("utm_zone"),
        F.element_at(parts, 5).alias("resolution_code"),
    )


@register(
    "d_chip_grid",
    oracle=with_domain("SELECT * FROM images", "images"),
    doc="P4 chip-grid enumeration + P5 pixel-bbox with the reference's "
    "`>` edge clamp (ref: src/az_proc.py:513-517, src/form_calcs.py:"
    "501-513): explode(sequence(...)) x2 generates the grid without "
    "touching pixels.",
    tags=("domain", "projection"),
)
def d_chip_grid(spark, sf_dir):
    return images(spark, sf_dir)


@register(
    "d_chip_parse_roundtrip",
    oracle=with_domain(
        """
SELECT image_name,
       string_split(image_name, '_')[-2]::INT AS parsed_row,
       string_split(image_name, '_')[-1]::INT AS parsed_col,
       regexp_replace(image_name, '_[0-9]{2}_[0-9]{2}$', '') AS parsed_tile,
       (string_split(image_name, '_')[-2]::INT = row_index
        AND string_split(image_name, '_')[-1]::INT = col_index
        AND regexp_replace(image_name, '_[0-9]{2}_[0-9]{2}$', '') = tile_name)
         AS roundtrip_ok
FROM images
""",
        "images",
    ),
    doc="P3 chip row/col parsing + tile-of-chip (ref: src/form_calcs.py:"
    "496-500, src/az_proc.py:642 rsplit): split + element_at(-2/-1), "
    "regexp for the rsplit; round-trips against the grid columns.",
    tags=("domain", "projection"),
)
def d_chip_parse_roundtrip(spark, sf_dir):
    im = images(spark, sf_dir)
    parts = F.split("image_name", "_")
    prow = F.element_at(parts, -2).cast("int")
    pcol = F.element_at(parts, -1).cast("int")
    ptile = F.regexp_replace("image_name", "_[0-9]{2}_[0-9]{2}$", "")
    return im.select(
        "image_name",
        prow.alias("parsed_row"),
        pcol.alias("parsed_col"),
        ptile.alias("parsed_tile"),
        (
            (prow == F.col("row_index"))
            & (pcol == F.col("col_index"))
            & (ptile == F.col("tile_name"))
        ).alias("roundtrip_ok"),
    )


@register(
    "d_global_bbox_utm",
    oracle=with_domain(
        """
SELECT annot_id, tile_name, gxmin, gymin, gxmax, gymax,
       utm_minx, utm_miny, utm_maxx, utm_maxy,
       centroid_x, centroid_y, diameter
FROM gann
""",
        "gann",
    ),
    doc="P6 chip->tile bbox translation + clamp, P7 1->0-index shift, "
    "P8 pixel->UTM linspace interpolation, P10 centroid, P12 diameter "
    "(refs in sources/domain_views.py:g_annotations).",
    tags=("domain", "projection"),
)
def d_global_bbox_utm(spark, sf_dir):
    return g_annotations(spark, sf_dir).select(
        "annot_id", "tile_name", "gxmin", "gymin", "gxmax", "gymax",
        "utm_minx", "utm_miny", "utm_maxx", "utm_maxy",
        "centroid_x", "centroid_y", "diameter",
    )


@register(
    "d_label_standardize",
    oracle=with_domain(
        f"""
SELECT annot_id, raw_label,
       {standardize_label_sql('raw_label')} AS std_label,
       {standardize_label_sql('raw_label', 'undefined_object')} AS std_label_guarded
FROM annotations
""",
        "annotations",
    ),
    doc="P15 label standardization (ref: src/form_calcs.py:322-344): "
    "20-variant map -> 7 canonical classes; unknown labels -> NULL "
    "(reference raises KeyError) with a guarded undefined_object variant.",
    tags=("domain", "projection"),
)
def d_label_standardize(spark, sf_dir):
    a = annotations(spark, sf_dir)
    return a.select(
        "annot_id",
        "raw_label",
        standardize_label(F.col("raw_label")).alias("std_label"),
        standardize_label(F.col("raw_label"), "undefined_object").alias(
            "std_label_guarded"
        ),
    )


@register(
    "d_flag_propagation",
    oracle=with_domain(
        f"""
SELECT annot_id, truncated, difficult,
       {propagate_flags_sql('truncated', 'difficult')} AS truncated_out,
       {propagate_flags_sql('truncated', 'difficult')} AS difficult_out
FROM annotations
""",
        "annotations",
    ),
    doc="P16 flag propagation (ref: src/form_calcs.py:345-350): either "
    "flag set forces both to 1.",
    tags=("domain", "projection"),
)
def d_flag_propagation(spark, sf_dir):
    a = annotations(spark, sf_dir)
    t_out, d_out = propagate_flags(F.col("truncated"), F.col("difficult"))
    return a.select(
        "annot_id", "truncated", "difficult",
        t_out.alias("truncated_out"), d_out.alias("difficult_out"),
    )


@register(
    "d_size_reclass",
    oracle=with_domain(
        f"""
SELECT annot_id,
       cls AS class_before,
       {reclassify_by_size_sql('cls', 'truncated', 'difficult',
                               '(xmax - xmin)', '(ymax - ymin)')} AS class_after,
       (xmax - xmin) AS width, (ymax - ymin) AS height
FROM (
  SELECT annot_id, truncated, difficult, xmin, ymin, xmax, ymax,
         {standardize_label_sql('raw_label', 'undefined_object')} AS cls
  FROM annotations
)
""",
        "annotations",
    ),
    doc="P17 15-px reclassification on clean boxes with the reference's "
    "sequential-if semantics (ref: src/form_calcs.py:387-415; the "
    "reference never writes the result back — we implement the computed "
    "rule and document the divergence).",
    tags=("domain", "projection"),
)
def d_size_reclass(spark, sf_dir):
    a = annotations(spark, sf_dir).withColumn(
        "cls", standardize_label(F.col("raw_label"), "undefined_object")
    )
    w = F.col("xmax") - F.col("xmin")
    h = F.col("ymax") - F.col("ymin")
    return a.select(
        "annot_id",
        F.col("cls").alias("class_before"),
        reclassify_by_size(
            F.col("cls"), F.col("truncated"), F.col("difficult"), w, h
        ).alias("class_after"),
        w.alias("width"),
        h.alias("height"),
    )


@register(
    "d_f5_partition_counts",
    oracle=with_domain(
        f"""
SELECT tile_name,
       sum(CASE WHEN {propagate_flags_sql('truncated', 'difficult')} = 1
                THEN 1 ELSE 0 END)::BIGINT AS n_merge_candidates,
       sum(CASE WHEN {propagate_flags_sql('truncated', 'difficult')} = 0
                THEN 1 ELSE 0 END)::BIGINT AS n_passthrough
FROM annotations
GROUP BY tile_name
""",
        "annotations",
    ),
    doc="F5 trunc/difficult partition (ref: src/form_calcs.py:870-879): "
    "one scan, two conditional branches — no double read.",
    tags=("domain", "filter"),
)
def d_f5_partition_counts(spark, sf_dir):
    a = annotations(spark, sf_dir)
    t_out, _ = propagate_flags(F.col("truncated"), F.col("difficult"))
    return (
        a.withColumn("mc", t_out)
        .groupBy("tile_name")
        .agg(
            F.sum(F.when(F.col("mc") == 1, 1).otherwise(0)).alias("n_merge_candidates"),
            F.sum(F.when(F.col("mc") == 0, 1).otherwise(0)).alias("n_passthrough"),
        )
    )


@register(
    "d_f6_annotated_tiles",
    oracle=with_domain(
        """
SELECT tile_name, tile_width, tile_height FROM tiles
WHERE tile_name IN (SELECT tile_name FROM annotations)
""",
        "tiles",
        "annotations",
    ),
    doc="F6 annotated-tile filter (ref: src/form_calcs.py:456-457, "
    "649-650): tiles with >= 1 annotation via semi join.",
    tags=("domain", "filter"),
)
def d_f6_annotated_tiles(spark, sf_dir):
    t = tiles(spark, sf_dir)
    a = annotations(spark, sf_dir)
    return t.join(a, "tile_name", "left_semi").select(
        "tile_name", "tile_width", "tile_height"
    )


@register(
    "d_f7_verifier_allocation",
    oracle=with_domain(
        """
SELECT image_name, tile_name,
       (['amy', 'bob', 'cat'])[((rn - 1) % 3 + 1)::INT] AS verifier
FROM (
  SELECT image_name, tile_name,
         row_number() OVER (ORDER BY image_name) AS rn
  FROM images
  WHERE image_name NOT IN (SELECT image_name FROM annotations)
) WHERE rn <= 200
""",
        "images",
        "annotations",
    ),
    doc="F7 blank-verifier allocation (ref: src/az_proc.py:731-758): "
    "unannotated chips, deterministic order, head-200, round-robin "
    "verifier assignment.",
    tags=("domain", "filter", "limit"),
)
def d_f7_verifier_allocation(spark, sf_dir):
    im = images(spark, sf_dir)
    a = annotations(spark, sf_dir)
    blank = im.join(a, "image_name", "left_anti")
    # orderBy+limit -> TakeOrderedAndProject (per-partition heaps);
    # the rank window then covers only the 200 surviving rows — the
    # global row_number-then-filter form funneled every blank chip
    # through one reducer.
    w = Window.orderBy("image_name")
    verifiers = F.array(F.lit("amy"), F.lit("bob"), F.lit("cat"))
    return (
        blank.orderBy("image_name").limit(200)
        .withColumn("rn", F.row_number().over(w))
        .select(
            "image_name",
            "tile_name",
            F.element_at(verifiers, ((F.col("rn") - 1) % 3 + 1).cast("int")).alias(
                "verifier"
            ),
        )
    )


@register(
    "d_j9_tracking_table",
    oracle=with_domain(
        """
SELECT i.image_name, i.tile_name,
       (a.image_name IS NOT NULL) AS has_annotation,
       'annotator_1' AS annotator_draw
FROM images i LEFT JOIN (SELECT DISTINCT image_name FROM annotations) a
  ON i.image_name = a.image_name
""",
        "images",
        "annotations",
    ),
    doc="J9 tracking-table composition (ref: src/az_proc.py:624-666 "
    "sorted-zip of img/xml lists == equi join on stem + lit annotator).",
    tags=("domain", "join"),
)
def d_j9_tracking_table(spark, sf_dir):
    im = images(spark, sf_dir)
    ann_imgs = annotations(spark, sf_dir).select("image_name").distinct()
    a = ann_imgs.withColumn("has", F.lit(True))
    return (
        im.join(a, "image_name", "left")
        .select(
            "image_name",
            "tile_name",
            F.coalesce(F.col("has"), F.lit(False)).alias("has_annotation"),
            F.lit("annotator_1").alias("annotator_draw"),
        )
    )


@register(
    "d_a2_class_counts",
    oracle=with_domain(
        f"""
SELECT coalesce({standardize_label_sql('raw_label')}, 'UNKNOWN:' || raw_label) AS object_class,
       count(*)::BIGINT AS n_objects,
       count(DISTINCT image_name)::BIGINT AS n_images
FROM annotations
GROUP BY 1
""",
        "annotations",
    ),
    doc="A2 class-count summary incl. unknown-label collection (ref: "
    "src/az_proc.py:764-837).",
    tags=("domain", "aggregate"),
)
def d_a2_class_counts(spark, sf_dir):
    a = annotations(spark, sf_dir)
    cls = F.coalesce(
        standardize_label(F.col("raw_label")),
        F.concat(F.lit("UNKNOWN:"), F.col("raw_label")),
    )
    return (
        a.withColumn("object_class", cls)
        .groupBy("object_class")
        .agg(
            F.count(F.lit(1)).alias("n_objects"),
            F.countDistinct("image_name").alias("n_images"),
        )
    )


@register(
    "d_a7_per_tile_stats",
    oracle=with_domain(
        """
SELECT tile_name,
       count(*)::BIGINT AS n_objects,
       max((gxmax - gxmin) * (gymax - gymin))::BIGINT AS max_area_px,
       min(diameter) AS min_diameter_m,
       max(diameter) AS max_diameter_m
FROM gann
GROUP BY tile_name
""",
        "gann",
    ),
    doc="A7 group-by-tile processing (ref: src/form_calcs.py:841 outer "
    "tile loop) as a single shuffle on tile_name.",
    tags=("domain", "aggregate"),
)
def d_a7_per_tile_stats(spark, sf_dir):
    g = g_annotations(spark, sf_dir)
    area = (F.col("gxmax") - F.col("gxmin")) * (F.col("gymax") - F.col("gymin"))
    return g.groupBy("tile_name").agg(
        F.count(F.lit(1)).alias("n_objects"),
        F.max(area).cast("long").alias("max_area_px"),
        F.min("diameter").alias("min_diameter_m"),
        F.max("diameter").alias("max_diameter_m"),
    )


@register(
    "d_reproject_roundtrip",
    oracle=with_domain(
        """
SELECT count(*)::BIGINT AS n_points,
       count(*)::BIGINT AS n_within_tol,
       TRUE AS roundtrip_ok
FROM gann
""",
        "gann",
    ),
    doc="P9 reprojection validation (ref: src/form_calcs.py:288-307 "
    "pyproj Transformer per point): every annotation centroid goes "
    "UTM->WGS84 through the codegen Snyder inverse (with_utm_lonlat), "
    "then back through the numpy forward series (lonlat_to_utm_udf, one "
    "Arrow hop), and the query asserts max |roundtrip - original| < 1 mm "
    "per point. Measured series-truncation bound is ~7e-5 m at zone "
    "edges (easting 300-700 km), so the 1e-3 m tolerance is tight yet "
    "safe — and 600x below the 0.6 m/px pixel scale the reference "
    "operates at. The oracle asserts the invariant (all points within "
    "tolerance), not the float intermediates.",
    tags=("domain", "geo"),
)
def d_reproject_roundtrip(spark, sf_dir):
    from ..functions.geo import (
        lonlat_to_utm_udf,
        with_utm_lonlat,
        zone_from_epsg,
    )

    g = g_annotations(spark, sf_dir).select(
        "centroid_x",
        "centroid_y",
        zone_from_epsg(F.col("utm_projection")).alias("zone"),
    )
    g = with_utm_lonlat(
        g, "lon", "lat", F.col("centroid_x"), F.col("centroid_y"), F.col("zone")
    )
    rt = g.withColumn(
        "rt", lonlat_to_utm_udf(F.col("lon"), F.col("lat"), F.col("zone"))
    ).withColumn(
        "err_m",
        F.sqrt(
            F.pow(F.col("rt.easting") - F.col("centroid_x"), 2)
            + F.pow(F.col("rt.northing") - F.col("centroid_y"), 2)
        ),
    )
    return rt.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.count(F.when(F.col("err_m") < 1e-3, 1)).alias("n_within_tol"),
    ).withColumn("roundtrip_ok", F.col("n_points") == F.col("n_within_tol"))
