"""Cross-batch goldens for the NATIVE streaming dedup
(``dropDuplicatesWithinWatermark``). The single-batch relation is
oracle-checked through ``pipeline.streaming_native_dedup``; these pin
the operator's distinguishing semantics: a duplicate arriving in a
LATER batch while its key is still inside the watermark window is
suppressed, and the state-expiry boundary (the documented
at-least-once re-emission once the watermark passes) exists — which
plain ``dropDuplicates`` would never show."""

from __future__ import annotations

import uuid
from datetime import datetime, timedelta

from biometric_stream_processing_spark.streaming.pipeline import (
    read_events_stream,
    run_stream_to_memory,
)
from tests.conftest import write_stream_batch
from tests.test_streaming import tmpdir  # noqa: F401

T0 = datetime(2024, 1, 1)
SCHEMA = "ts timestamp, event_id long, user_id long"


def _run(spark, tmpdir, batches, delay="60 seconds"):  # noqa: F811
    name = "ndd" + uuid.uuid4().hex[:10]
    indir = tmpdir / "in" / name
    for rows in batches:
        data = [
            (T0 + timedelta(seconds=off), eid, uid)
            for off, eid, uid in rows
        ]
        write_stream_batch(spark.createDataFrame(data, SCHEMA), indir)
    src = read_events_stream(
        spark, str(indir), SCHEMA, max_files_per_trigger=1
    )
    dd = src.withWatermark("ts", delay).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    res = run_stream_to_memory(
        dd.select("event_id", "user_id"),
        name, str(tmpdir / "ckpt" / name),
    )
    return sorted((r.event_id, r.user_id) for r in res.collect())


def test_duplicate_across_batches_within_watermark_suppressed(
    spark, tmpdir  # noqa: F811
):
    rows = _run(spark, tmpdir, [
        [(0, 1, 10), (5, 2, 20)],
        [(6, 1, 10), (7, 3, 30)],   # event 1 re-arrives — suppressed
    ])
    assert rows == [(1, 10), (2, 20), (3, 30)]


def test_in_batch_duplicates_collapse(spark, tmpdir):  # noqa: F811
    rows = _run(spark, tmpdir, [
        [(0, 5, 1), (1, 5, 1), (2, 5, 1)],
    ])
    assert rows == [(5, 1)]


def test_state_expiry_reemits_past_the_watermark(spark, tmpdir):  # noqa: F811
    """Once the watermark passes first-seen + delay, the key's state
    is gone and a very late duplicate is re-emitted — the documented
    at-least-once boundary (bounded state is the point: plain
    dropDuplicates would keep the key forever)."""
    rows = _run(spark, tmpdir, [
        [(0, 9, 1)],
        [(500, 8, 2)],     # advances the watermark to 440 ≫ 0+60 …
        [(501, 7, 3)],     # … and eviction runs at the END of the
                           # first batch EXECUTED with that watermark
                           # (this one), so key 9 is forgotten now
        [(502, 9, 1)],     # same id, state gone → re-emitted
    ], delay="60 seconds")
    assert rows == [(7, 3), (8, 2), (9, 1), (9, 1)]
