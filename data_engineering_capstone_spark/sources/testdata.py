"""Loaders for the driver-generated synthetic tables (TESTDATA.md).

One parquet file per table under ``/root/testdata/sf{0.001,0.01,0.1}/``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import prep
from .pqmeta import spark_schema

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

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table, on a session ``session.prep`` has pinned.

    The schema comes from the file's cached footer
    (``pqmeta.spark_schema``), so a warm read launches no Spark
    inference job; where the footer cannot say, Spark infers.

    ``events.ts`` has shipped as either TIMESTAMP(NANOS) parquet (which
    Spark's vectorized reader rejects — read as int64 via ``nanosAsLong``
    and convert column-side) or native timestamp[us] (read directly).
    Branch on the decoded dtype so both generations of testdata work.
    """
    prep(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark_schema(path, nanos_as_long=name == "events")
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    return _normalize_event_ts(df) if name == "events" else df


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """int64-nanos ``ts`` → micro-precision timestamp; timestamps pass through.

    Integer division, not double: double division rounds at ~1.7e18 ns
    (2024 epoch values) and shifts timestamps by ±1 µs.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dtype == "timestamp_ntz":
        # Streaming watermarks require TIMESTAMP_LTZ; session tz is pinned
        # to UTC (session.py) so this cast preserves the wall-clock value.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register every table as a temp view for the SQL API."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
