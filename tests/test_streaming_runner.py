"""The shared events-stream runner (``pipeline._drain_events``) and the
entries that run through it: the shuffle-partition pin covers the
whole run and is restored afterwards, the watermark-flush sentinel
never reaches the result, and no streaming query outlives its entry."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from biometric_stream_processing_spark.streaming import pipeline
from tests.conftest import SF_DIR

_KEY = "spark.sql.shuffle.partitions"

PORTED = [
    "streaming_anomalies", "streaming_ewma", "streaming_user_cadence",
    "streaming_attribution", "streaming_transitions",
    "streaming_state_history", "streaming_approx_users",
    "streaming_enriched_segment_counts",
]


@pytest.fixture
def odd_partitions(spark):
    """A shuffle-partition value no runner uses, restored afterwards."""
    prev = spark.conf.get(_KEY)
    spark.conf.set(_KEY, "7")
    yield "7"
    spark.conf.set(_KEY, prev)


@pytest.mark.parametrize("sentinel", [False, True])
def test_drain_events_pins_partitions_and_drops_the_sentinel(
    spark, odd_partitions, sentinel
):
    seen = []

    def build(src):
        seen.append(spark.conf.get(_KEY))
        return src.select("user_id", "event_id")

    out = pipeline._drain_events(
        spark, SF_DIR, build, state_partitions=3, sentinel=sentinel
    )
    assert seen == ["3"]
    assert spark.conf.get(_KEY) == odd_partitions
    assert spark.streams.active == []
    ids = {r.event_id for r in out.collect()}
    events = pq.read_table(f"{SF_DIR}/events.parquet", columns=["event_id"])
    assert ids == set(events.column("event_id").to_pylist())


def test_drain_events_restores_partitions_when_build_fails(
    spark, odd_partitions
):
    def build(_src):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        pipeline._drain_events(spark, SF_DIR, build, state_partitions=3)
    assert spark.conf.get(_KEY) == odd_partitions
    assert spark.streams.active == []


@pytest.mark.parametrize("name", PORTED)
def test_ported_entry_leaves_no_stream_and_restores_partitions(
    spark, odd_partitions, name
):
    getattr(pipeline, name)(spark, SF_DIR)
    assert spark.streams.active == []
    assert spark.conf.get(_KEY) == odd_partitions
