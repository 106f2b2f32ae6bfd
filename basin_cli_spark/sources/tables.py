"""Fixture-table loaders.

The reference's only scan operators are a Parquet scan
(``SELECT * FROM read_parquet(f)``, reference internal/app/test_util.go:38-39)
and a Postgres ``information_schema`` scan — the analytics surface here reads
the driver-generated TPC-H-ish parquet tables.

Scale note: ``spark.read.parquet`` is the DataSourceV2 vectorized reader —
predicate pushdown + column pruning reach the footer/min-max level, so the
same loader is correct at 100 TB provided queries filter/select before wide
ops (verified with .explain in tests/test_plans.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

# Dimension tables small enough to broadcast at any scale factor (TPC-H
# region/nation are constant-size; supplier/part grow slowly).  Joins against
# these should never shuffle the fact side.
BROADCAST_TABLES = {"region", "nation", "supplier"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing physical quirks.

    The events fixture stores parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong=true`` it surfaces as a raw
    nanosecond LongType which we convert to timestamp_ntz via exact integer
    division (truncation to micros — the same truncation DuckDB applies, so
    the oracle sees identical values).
    """
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            # `div` = integer division: double division would lose the low
            # microseconds at ~1.7e18 nanos (observed as ±1us oracle drift).
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
            )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL surface."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

