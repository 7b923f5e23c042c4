"""Table catalog over the driver-generated parquet testdata.

At 100 TB these would be partitioned/bucketed external tables; the
loader keeps the interface identical (path-per-table parquet scans,
Catalyst handles column pruning + predicate pushdown).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    # make the package importable on Python workers (pandas-UDF ops)
    from ..shipping import ensure_shipped

    ensure_shipped(spark)
    if name == "events":
        # events.parquet's ts encoding varies by generator version:
        # TIMESTAMP(NANOS) (vectorized reader rejects it — read nanos as
        # long via the legacy conf and convert), or tz-naive micros
        # (arrives as TIMESTAMP_NTZ, which Spark 4 bars from long casts
        # and epoch arithmetic). Normalize both to session-TZ
        # TimestampType (session TZ is pinned UTC in session.py; DuckDB
        # reads the same column as a naive UTC wall clock) so every
        # downstream query/window/watermark sees one stable type.
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
            )
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(table_path(sf_dir, name))


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}
