"""Test-table loading for the driver contract queries."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects; read as int64 nanos and truncate to micros —
        # the same truncation DuckDB applies (TIMESTAMP_NS → TIMESTAMP).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return _tz_normalize(df)
    return _tz_normalize(spark.read.parquet(path))


def register_test_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for the SQL-text
    queries — names are bound through the view catalog, not
    interpolated into query strings."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


def _tz_normalize(df: DataFrame) -> DataFrame:
    """Cast TIMESTAMP_NTZ columns to TIMESTAMP. Parquet writers vary in
    whether they mark timestamps UTC-adjusted; downstream operators
    (watermarks, epoch casts) require TIMESTAMP, and with the session
    pinned to UTC the cast is value-preserving — DuckDB reads the same
    files as naive timestamps, so oracle values are unchanged."""
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df
