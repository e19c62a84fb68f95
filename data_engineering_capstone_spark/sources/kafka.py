"""Kafka source wiring (SURVEY.md §2 C-stream scale path).

The container ships no Kafka broker and no spark-sql-kafka connector
jar, so ``read_kafka_stream`` builds the full production plan shape
(options, JSON value decoding) and surfaces a clear error at
plan-construction time if the connector is absent. On a real cluster
(``--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<ver>``) the
identical code runs unchanged; downstream transformations are the same
DataFrames the file-source streams produce (streaming/windows.py:28).

Reference parity: the reference has no bus source at all (its ingest is
S3 file drops, upload_s3.py:20-39); Kafka is the extension-tier ingest
path for the same pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_INSTALL_HINT = (
    "Kafka connector not on the classpath — submit with "
    "--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>"
)


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    value_schema: T.StructType,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka topic → typed streaming DataFrame.

    Decodes the binary ``value`` as JSON against ``value_schema`` and
    keeps Kafka metadata (topic/partition/offset/timestamp) — offsets
    are what downstream exactly-once sinks key their idempotence on.
    ``max_offsets_per_trigger`` bounds micro-batch size so one huge
    backlog replay can't blow executor memory at 100 TB/day ingest.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    try:
        raw = reader.load()
    except Exception as exc:  # noqa: BLE001 — connector lookup failure
        raise RuntimeError(_INSTALL_HINT) from exc
    return raw.select(
        F.col("key").cast("string").alias("kafka_key"),
        F.from_json(F.col("value").cast("string"), value_schema).alias("v"),
        "topic",
        "partition",
        "offset",
        F.col("timestamp").alias("kafka_ts"),
    ).select("kafka_key", "v.*", "topic", "partition", "offset", "kafka_ts")

