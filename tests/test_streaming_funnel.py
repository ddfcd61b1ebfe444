"""Cross-batch goldens for the streaming funnel
(``state.funnel_stream`` — view→click→purchase ordered-sequence
matching in three longs of keyed state). The single-batch relation is
oracle-checked through ``pipeline.streaming_funnel``; these pin the
CADENCE: the funnel progresses across micro-batches (each batch
re-emits the touched users' current state), a click BEFORE the first
view never anchors, and the O(1)-state late-event contract drops
regressions behind the watermark."""

from __future__ import annotations

import uuid
from datetime import datetime, timedelta
from pathlib import Path

from biometric_stream_processing_spark.streaming.pipeline import (
    read_events_stream,
    run_stream_to_memory,
)
from biometric_stream_processing_spark.streaming.state import funnel_stream
from tests.conftest import write_stream_batch
from tests.test_streaming import tmpdir  # noqa: F401

T0 = datetime(2024, 1, 1)
SCHEMA = "ts timestamp, user_id long, event_type string"


def _run(spark, tmpdir, batches):  # noqa: F811
    name = "fun" + uuid.uuid4().hex[:10]
    indir = tmpdir / "in" / name
    for rows in batches:
        data = [
            (T0 + timedelta(seconds=off), uid, kind)
            for off, uid, kind in rows
        ]
        write_stream_batch(spark.createDataFrame(data, SCHEMA), indir)
    src = read_events_stream(
        spark, str(indir), SCHEMA, max_files_per_trigger=1
    )
    res = run_stream_to_memory(
        funnel_stream(src), name, str(tmpdir / "ckpt" / name)
    )
    return [
        (r.user_id, r.v_es, r.c_es, r.p_es, r.stage)
        for r in res.collect()
    ]


def _es(off: int) -> int:
    return int((T0 + timedelta(seconds=off)).timestamp())


def test_funnel_progresses_across_batches(spark, tmpdir):  # noqa: F811
    """u1 completes one stage per micro-batch — each batch re-emits
    the current state, so the log shows the progression and the last
    emission is the full funnel."""
    rows = _run(spark, tmpdir, [
        [(0, 1, "view")],
        [(10, 1, "click")],
        [(20, 1, "purchase")],
    ])
    assert sorted(rows, key=lambda r: r[4]) == [
        (1, _es(0), None, None, 1),
        (1, _es(0), _es(10), None, 2),
        (1, _es(0), _es(10), _es(20), 3),
    ]


def test_click_before_view_never_anchors(spark, tmpdir):  # noqa: F811
    """A click preceding the first view is not part of the sequence;
    the later click (after the view) is the conditional minimum —
    exactly the batch plan's semantics."""
    rows = _run(spark, tmpdir, [
        [(0, 2, "click"), (5, 2, "view"), (9, 2, "click")],
    ])
    assert rows == [(2, _es(5), _es(9), None, 2)]


def test_user_without_view_emits_nothing(spark, tmpdir):  # noqa: F811
    rows = _run(spark, tmpdir, [
        [(0, 3, "click"), (4, 3, "purchase")],
    ])
    assert rows == []


def test_late_regression_dropped_by_watermark(spark, tmpdir):  # noqa: F811
    """An earlier view arriving AFTER the watermark passed it is late
    and dropped (the documented O(1)-state contract): the funnel keeps
    its original anchor instead of rewriting history."""
    rows = _run(spark, tmpdir, [
        [(50, 4, "view"), (60, 4, "click")],
        [(10, 4, "view")],  # late: watermark is already at 60
    ])
    # batch 2 still re-emits the (unchanged) state for the touched key
    assert set(rows) == {(4, _es(50), _es(60), None, 2)}


def test_same_second_click_qualifies_inclusive(spark, tmpdir):  # noqa: F811
    """A click sharing the first view's SECOND qualifies — the batch
    plan's `es >= v_es` is inclusive, and the kernel's stage-rank tie
    sort (view < click < purchase) absorbs the view first. Pinned
    end-to-end after the round-8 hypothesis suite caught the lexical
    sort skipping this click."""
    rows = _run(spark, tmpdir, [
        [(5, 9, "click"), (5, 9, "view"), (5, 9, "purchase")],
    ])
    assert rows == [(9, _es(5), _es(5), _es(5), 3)]
