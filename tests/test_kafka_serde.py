"""Broker-free validation of the Kafka wire path (SURVEY §2.1 S4/S5).

The connector itself is not wired in this package (it needs a broker
and the kafka jars), but everything it would wrap — value bytes →
typed rows (`parse_kafka_value`, `JsonSerde.scala:24-26`) and typed
rows → (key, value) records
(`to_kafka_records`, `JsonSerde.scala:40-47`) — is pure DataFrame
logic over a binary ``value`` column, exercised here by synthesizing
exactly the bytes Kafka would deliver (FIXTURES.md §1 wire format).
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from biometric_stream_processing_spark.schemas import (
    BLOOD_PRESSURE_SCHEMA,
    HEART_RATE_SCHEMA,
)
from biometric_stream_processing_spark.sources.wire import (
    parse_kafka_value,
    to_kafka_records,
)

_RAW_SCHEMA = T.StructType([
    T.StructField("key", T.BinaryType()),
    T.StructField("value", T.BinaryType()),
])


def _kafka_frame(spark, events: list[dict]):
    """Rows shaped like the Kafka connector's output: binary key/value."""
    rows = [
        (str(e["user_id"]).encode(), json.dumps(e).encode())
        for e in events
    ]
    return spark.createDataFrame(rows, _RAW_SCHEMA)


def test_parse_kafka_value_heart_rate(spark):
    events = [
        {"user_id": 12345, "heart_rate": 200, "timestamp": 1491423892000},
        {"user_id": 12345, "heart_rate": 201, "timestamp": 1491423893000},
        {"user_id": 67890, "heart_rate": 80, "timestamp": 1491423892500},
    ]
    out = parse_kafka_value(_kafka_frame(spark, events), HEART_RATE_SCHEMA)
    assert [f.name for f in out.schema.fields] == ["user_id", "heart_rate", "ts"]
    # compare epoch millis, not Python datetimes — collect() renders
    # timestamps in the driver's local zone (oracle-parity rule: keep
    # wire assertions in epoch space)
    got = {
        (r.user_id, r.heart_rate, r.ems)
        for r in out.withColumn("ems", F.unix_millis("ts")).collect()
    }
    assert got == {
        (12345, 200, 1491423892000),
        (12345, 201, 1491423893000),
        (67890, 80, 1491423892500),
    }


def test_parse_kafka_value_blood_pressure_and_malformed(spark):
    """PERMISSIVE default: a corrupt value row parses to nulls instead
    of failing the stream (the production-safe default; FAILFAST is
    opt-in via options, matching `JsonSerde.scala:24-26` strictness)."""
    frame = _kafka_frame(spark, [
        {"user_id": 1, "systolic": 180, "diastolic": 110,
         "timestamp": 1491423892000},
    ]).union(spark.createDataFrame(
        [(b"9", b"{not json")], _RAW_SCHEMA))
    out = parse_kafka_value(frame, BLOOD_PRESSURE_SCHEMA)
    rows = sorted(out.collect(), key=lambda r: (r.user_id is None, r.user_id or 0))
    assert rows[0].user_id == 1 and rows[0].systolic == 180
    assert rows[1].user_id is None and rows[1].systolic is None
    # malformed row got no wire timestamp -> ingest-time fallback, non-null
    assert rows[1].ts is not None


def test_kafka_round_trip_bytes(spark):
    """typed → to_kafka_records → bytes → parse_kafka_value → typed:
    the full S5→S4 loop a produce/consume pair would execute."""
    src = spark.createDataFrame(
        [(12345, 200, 1491423892000), (67890, 75, 1491423892001)],
        HEART_RATE_SCHEMA,
    )
    records = to_kafka_records(src, key_col="user_id")
    assert [f.name for f in records.schema.fields] == ["key", "value"]
    keys = {r.key for r in records.collect()}
    assert keys == {"12345", "67890"}

    # Kafka delivers key/value as bytes; simulate that cast.
    wire = records.select(
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
    )
    back = parse_kafka_value(wire, HEART_RATE_SCHEMA)
    got = {
        (r.user_id, r.heart_rate, r.ems)
        for r in back.withColumn("ems", F.unix_millis("ts")).collect()
    }
    assert got == {
        (12345, 200, 1491423892000),
        (67890, 75, 1491423892001),
    }
