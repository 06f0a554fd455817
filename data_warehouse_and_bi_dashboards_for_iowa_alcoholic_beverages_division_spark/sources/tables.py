"""Parquet lakehouse sources over the driver testdata.

Maps S1 (parquet scan), S10 (empty-from-schema), S11 (temp view) of
SURVEY.md §2.1. The reference reads HDFS parquet staging the same way
(``/root/reference/include/scripts/create_store_dim.py:15``); parquet is
our at-rest format everywhere, so the JDBC scan/sink operators (S3-S5)
become plain table reads/writes.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
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


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Canonicalize ``events.ts`` across every on-disk encoding the
    driver has shipped so far:

    * TIMESTAMP(NANOS) → read as ``bigint`` under ``nanosAsLong``;
      floor-divided to micros (integer DIV — double division loses
      precision at 1e18) and rebuilt as a timestamp;
    * plain ``timestamp[us]`` (no tz) → Spark infers TIMESTAMP_NTZ;
    * tz-adjusted micros → TIMESTAMP_LTZ.

    Canonical type is **TIMESTAMP_NTZ**: it matches DuckDB's naive read
    of the same parquet bit-for-bit and never routes values through the
    session timezone, so oracle comparisons are tz-independent.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
        )
    elif dt == "timestamp":
        df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan with pushdown: filters/projections applied by the
    caller reach the parquet reader via Catalyst (PushedFilters /
    ReadSchema) — never pre-collect or pre-filter driver-side.

    ``events`` has drifted between TIMESTAMP(NANOS) and timestamp[us]
    across driver data regenerations; ``normalize_events_ts`` pins one
    canonical type whatever is on disk.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every base table as a temp view so ``spark.sql`` queries
    resolve (reference: ``create_vendor_dim.py:16`` global temp view)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

