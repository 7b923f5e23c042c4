"""A1 bbox-merge query surface (SURVEY.md §2.5 A1) — with a real
DuckDB oracle via recursive-CTE connected components.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.labels import standardize_label, standardize_label_sql
from ..operators.merge import merge_oracle_sql, merge_tile_annotations
from ..operators.spatial import adjacency_predicate_sql
from ..registry import register
from ..sources.domain_views import domain_ctes, g_annotations

DIST_LIMIT = 5

_CAND_SQL = f"""
  SELECT annot_id, tile_key, tile_name, image_name,
         {standardize_label_sql('raw_label', 'undefined_object')} AS object_class,
         gxmin, gymin, gxmax, gymax
  FROM gann WHERE truncated = 1 OR difficult = 1
"""
_CLEAN_SQL = f"""
  SELECT annot_id, tile_key, tile_name, image_name,
         {standardize_label_sql('raw_label', 'undefined_object')} AS object_class,
         gxmin, gymin, gxmax, gymax
  FROM gann WHERE NOT (truncated = 1 OR difficult = 1)
"""


def _merged_gann(spark, sf_dir):
    g = g_annotations(spark, sf_dir).withColumn(
        "object_class", standardize_label(F.col("raw_label"), "undefined_object")
    )
    return merge_tile_annotations(g, DIST_LIMIT)


_MERGE_ORACLE = merge_oracle_sql(
    _CAND_SQL,
    _CLEAN_SQL,
    adjacency_predicate_sql("a", "b", DIST_LIMIT),
    extra_ctes=domain_ctes("gann"),
)

# Contract boundary: list cells crash the driver's canonicalizer, so
# the registered query (and its oracle) emits image_names sorted and
# ';'-joined; d_a1_merge_stats keeps using the raw-array _MERGE_ORACLE.
_MERGE_ORACLE_FLAT = f"""
SELECT * REPLACE (array_to_string(list_sort(image_names), ';') AS image_names)
FROM ({_MERGE_ORACLE})
"""


@register(
    "d_a1_bbox_merge",
    oracle=_MERGE_ORACLE_FLAT,
    doc="A1 greedy bbox merge as deterministic per-tile connected "
    "components (ref: src/form_calcs.py:753-792; greedy order-dependence "
    "replaced by the fixpoint, class conflicts -> undefined_object as "
    "intended by :782-783). Spark: repartition(tile_key).mapInPandas; "
    "oracle: recursive-CTE connected components in DuckDB.",
    tags=("domain", "merge", "bench"),
)
def d_a1_bbox_merge(spark, sf_dir):
    return _merged_gann(spark, sf_dir).withColumn(
        "image_names", F.array_join(F.array_sort("image_names"), ";")
    )


@register(
    "d_a1_merge_stats",
    oracle=f"""
SELECT merged_bbox,
       count(*)::BIGINT AS n_components,
       sum(n_members)::BIGINT AS n_boxes,
       max(n_members)::BIGINT AS max_component,
       sum(CASE WHEN object_class = 'undefined_object' THEN 1 ELSE 0 END)::BIGINT
         AS n_undefined
FROM ({_MERGE_ORACLE})
GROUP BY merged_bbox
""",
    doc="Merge summary: component counts / sizes / class-conflict counts "
    "per merged/passthrough branch.",
    tags=("domain", "merge"),
)
def d_a1_merge_stats(spark, sf_dir):
    m = _merged_gann(spark, sf_dir)
    return m.groupBy("merged_bbox").agg(
        F.count(F.lit(1)).alias("n_components"),
        F.sum("n_members").alias("n_boxes"),
        F.max("n_members").alias("max_component"),
        F.sum(F.when(F.col("object_class") == "undefined_object", 1).otherwise(0)).alias(
            "n_undefined"
        ),
    )
