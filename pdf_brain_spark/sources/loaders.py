"""Parquet loaders for the driver-generated test tables.

At scale these would be external-catalog tables (partitioned parquet /
iceberg); here they are single parquet files per table. Loading stays lazy —
a loader returns an unmaterialized DataFrame so Catalyst can push projections
and predicates into the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
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
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS), which Spark cannot read
        # natively; nanosAsLong is a runtime-settable SQL conf, so set it
        # here rather than at session build — callers (the driver) hand us
        # externally built sessions that won't have it. Guarded: re-setting
        # is avoidable session-state churn on every events load.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) read as long under nanosAsLong; values are
            # micro-aligned so the nanos→micros conversion is lossless
            from pyspark.sql import functions as F

            # integer div, not `/1000`: double division rounds the
            # microsecond (53-bit mantissa) while nanos→micros must
            # truncate like every other engine reading TIMESTAMP(NANOS)
            # at micro precision
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) scans as
            # TIMESTAMP_NTZ, which Spark's epoch functions (unix_micros
            # et al.) reject. Normalize to session-tz TIMESTAMP — the
            # engine session pins UTC, so the cast preserves wall-clock
            # exactly like DuckDB's naive read of the same file.
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view for spark.sql() use."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
