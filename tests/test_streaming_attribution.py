"""Cross-batch goldens for the round-8 queue's two keyed-state
machines: streaming last-touch attribution
(``state.attribution_stream``) and streaming journey-step mining
(``state.transition_stream``). The single-batch relation of each is
oracle-checked through its ``pipeline`` wrapper; these pin the
CADENCE — the remembered predecessor carries across micro-batches and
across a mid-stream kill/restart, window/gap expiry falls back
correctly, and pre-restart emissions appear exactly once."""

from __future__ import annotations

import uuid
from datetime import datetime, timedelta

from biometric_stream_processing_spark.plans.events_ops import (
    ATTR_WINDOW_S,
)
from biometric_stream_processing_spark.streaming.pipeline import (
    read_events_stream,
    run_stream_to_memory,
)
from biometric_stream_processing_spark.streaming.state import (
    attribution_stream,
    transition_stream,
)
from tests.conftest import write_stream_batch
from tests.test_streaming import tmpdir  # noqa: F401

T0 = datetime(2024, 1, 1)
SCHEMA = ("ts timestamp, event_id long, user_id long, "
          "event_type string, value double")
TOUCH = ("view", "click")


def _write(spark, indir, batches):
    for rows in batches:
        data = [
            (T0 + timedelta(seconds=off), eid, uid, kind, float(v))
            for off, eid, uid, kind, v in rows
        ]
        write_stream_batch(spark.createDataFrame(data, SCHEMA), indir)


def _attr(src):
    return attribution_stream(src, TOUCH, "purchase", ATTR_WINDOW_S)


def _trans(src):
    return transition_stream(src, 1800)


def _run(spark, tmpdir, batches, build):  # noqa: F811
    name = "atr" + uuid.uuid4().hex[:10]
    indir = tmpdir / "in" / name
    _write(spark, indir, batches)
    src = read_events_stream(
        spark, str(indir), SCHEMA, max_files_per_trigger=1
    )
    res = run_stream_to_memory(
        build(src), name, str(tmpdir / "ckpt" / name)
    )
    return [tuple(r) for r in res.collect()]


# ------------------------------------------------------- attribution

def test_touch_carries_across_batches(spark, tmpdir):  # noqa: F811
    got = _run(spark, tmpdir, [
        [(0, 1, 1, "click", 0.0)],
        [(100, 2, 1, "purchase", 5.0)],
    ], _attr)
    assert got == [("click", 5.0)]


def test_no_touch_and_expired_touch_go_direct(spark, tmpdir):  # noqa: F811
    got = _run(spark, tmpdir, [
        # purchase before any touch → direct
        [(0, 1, 1, "purchase", 1.0), (10, 2, 1, "view", 0.0)],
        # this purchase is outside the lookback window → direct again
        [(10 + ATTR_WINDOW_S + 1, 3, 1, "purchase", 2.0)],
    ], _attr)
    assert sorted(got) == [("direct", 1.0), ("direct", 2.0)]


def test_later_touch_takes_credit(spark, tmpdir):  # noqa: F811
    """The REMEMBERED touch updates across batches: the second touch
    (click) replaces the first (view) before the conversion lands."""
    got = _run(spark, tmpdir, [
        [(0, 1, 1, "view", 0.0)],
        [(10, 2, 1, "click", 0.0)],
        [(20, 3, 1, "purchase", 7.5)],
    ], _attr)
    assert got == [("click", 7.5)]


def test_attribution_state_survives_restart(spark, tmpdir):  # noqa: F811
    """Mid-stream kill between the touch and the conversion: the
    (touch_type, touch_us, touch_eid) state must be recovered from the
    checkpoint, and the conversion after restart credits it."""
    run = uuid.uuid4().hex[:10]
    indir, ckpt = tmpdir / "in" / run, tmpdir / "ckpt" / run
    outdir = tmpdir / "out" / run

    def phase():
        src = read_events_stream(
            spark, str(indir), SCHEMA, max_files_per_trigger=1
        )
        q = (
            _attr(src).writeStream.outputMode("append")
            .format("parquet").option("path", str(outdir))
            .option("checkpointLocation", str(ckpt)).start()
        )
        q.processAllAvailable()
        q.stop()

    _write(spark, indir, [[(0, 1, 1, "view", 0.0)]])
    phase()
    _write(spark, indir, [[(50, 2, 1, "purchase", 3.0)]])
    phase()
    rows = [
        (r.channel, r.value)
        for r in spark.read.parquet(str(outdir)).collect()
    ]
    assert rows == [("view", 3.0)]


# ------------------------------------------------------- transitions

def test_transition_chain_continues_across_batches(spark, tmpdir):  # noqa: F811
    got = _run(spark, tmpdir, [
        [(0, 1, 1, "view", 0.0)],
        [(10, 2, 1, "click", 0.0)],
        [(20, 3, 1, "purchase", 0.0)],
    ], _trans)
    assert sorted(got) == [("click", "purchase"), ("view", "click")]


def test_transition_gap_breaks_chain_but_updates_state(spark, tmpdir):  # noqa: F811
    """An out-of-gap successor emits nothing, but it BECOMES the new
    predecessor — the next in-gap event chains from it."""
    got = _run(spark, tmpdir, [
        [(0, 1, 1, "view", 0.0)],
        [(1801, 2, 1, "purchase", 0.0)],   # > 1800 s: no step
        [(1811, 3, 1, "click", 0.0)],      # chains from the purchase
    ], _trans)
    assert got == [("purchase", "click")]


def test_transition_state_survives_restart(spark, tmpdir):  # noqa: F811
    run = uuid.uuid4().hex[:10]
    indir, ckpt = tmpdir / "in" / run, tmpdir / "ckpt" / run
    outdir = tmpdir / "out" / run

    def phase():
        src = read_events_stream(
            spark, str(indir), SCHEMA, max_files_per_trigger=1
        )
        q = (
            _trans(src).writeStream.outputMode("append")
            .format("parquet").option("path", str(outdir))
            .option("checkpointLocation", str(ckpt)).start()
        )
        q.processAllAvailable()
        q.stop()

    _write(spark, indir, [[(0, 1, 1, "view", 0.0)]])
    phase()
    _write(spark, indir, [[(10, 2, 1, "click", 0.0)]])
    phase()
    rows = [
        (r.prev_type, r.event_type)
        for r in spark.read.parquet(str(outdir)).collect()
    ]
    assert rows == [("view", "click")]
