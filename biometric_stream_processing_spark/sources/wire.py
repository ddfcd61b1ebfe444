"""Wire-format ingestion (SURVEY §2.1 S1-S6): the reference's inputs
are JSON lines with snake_case keys, epoch-millis timestamps
(`{"user_id":12345,"heart_rate":200,"timestamp":1491423892000}` —
FIXTURES.md §1), fed from in-memory queues or Kafka topics. Spark
equivalents: JSON file/stream sources with explicit schemas (never
inference in production).

The Kafka adapter is its broker-independent logic only:
``parse_kafka_value`` (value bytes → typed rows) and
``to_kafka_records`` (typed rows → key/value records). The Kafka
connector itself (``readStream.format("kafka")`` /
``writeStream.format("kafka")``) is not wired here; a deployment puts
it on either side of these two functions. Everything downstream of the
source is source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import BLOOD_PRESSURE_SCHEMA, HEART_RATE_SCHEMA


def _with_event_time(df: DataFrame) -> DataFrame:
    """epoch-millis ``timestamp`` (`Akka...scala:27-28`) → TimestampType
    ``ts``; events without one fall back to ingest time (the DStream
    variant's processing-time semantics, documented divergence)."""
    ts = F.when(
        F.col("timestamp").isNotNull(),
        F.timestamp_millis(F.col("timestamp")),
    ).otherwise(F.current_timestamp())
    return df.withColumn("ts", ts).drop("timestamp")


def read_heart_rate_json(
    spark: SparkSession, path: str, streaming: bool = False
) -> DataFrame:
    """JSON-lines heart-rate source → (user_id, heart_rate, ts)."""
    reader = spark.readStream if streaming else spark.read
    raw = reader.schema(HEART_RATE_SCHEMA).json(path)
    return _with_event_time(raw)


def read_blood_pressure_json(
    spark: SparkSession, path: str, streaming: bool = False
) -> DataFrame:
    reader = spark.readStream if streaming else spark.read
    raw = reader.schema(BLOOD_PRESSURE_SCHEMA).json(path)
    return _with_event_time(raw)


def parse_kafka_value(
    raw: DataFrame,
    schema: T.StructType,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """The broker-independent half of S4: a frame with a binary
    ``value`` column (Kafka wire shape) → typed event rows with
    event-time ``ts``. Apply it to the Kafka connector's output; it is
    unit-testable by synthesizing ``value`` bytes (`JsonSerde.scala:24-26`
    deserialization)."""
    parsed = raw.select(
        F.from_json(
            F.col("value").cast("string"), schema, options or {}
        ).alias("j")
    ).select("j.*")
    return _with_event_time(parsed)


def to_kafka_records(df: DataFrame, key_col: str | None = "user_id") -> DataFrame:
    """The broker-independent half of S5: typed rows → (key, value)
    JSON wire records (`JsonSerde.scala:40-47` serialization)."""
    return df.select(
        (F.col(key_col).cast("string") if key_col else F.lit(None)).alias("key"),
        F.to_json(F.struct(*df.columns)).alias("value"),
    )
