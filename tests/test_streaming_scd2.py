"""Cross-batch goldens for the streaming SCD-2 state machine
(``state.scd2_stream``). The single-batch relation is oracle-checked
through ``pipeline.streaming_state_history``; these pin the CADENCE:
a run emits exactly when its successor opens (even across
micro-batches), an unchanged state accumulates silently, the open run
emits only on the sentinel-driven timer flush (ordinary watermark
advances must NOT flush), and late regressions are dropped."""

from __future__ import annotations

import uuid
from datetime import datetime, timedelta

from biometric_stream_processing_spark.streaming.pipeline import (
    read_events_stream,
    run_stream_to_memory,
)
from biometric_stream_processing_spark.streaming.state import (
    SCD2_FLUSH_AT_MS,
    scd2_stream,
)
from tests.conftest import write_stream_batch
from tests.test_streaming import tmpdir  # noqa: F401

T0 = datetime(2024, 1, 1)
SCHEMA = "ts timestamp, event_id long, user_id long, event_type string"
FLUSH_OFF_S = SCD2_FLUSH_AT_MS // 1000 + 10**6  # past the flush mark


def _run(spark, tmpdir, batches, flush=True):  # noqa: F811
    name = "scd" + uuid.uuid4().hex[:10]
    indir = tmpdir / "in" / name
    if flush:
        batches = list(batches) + [
            [(FLUSH_OFF_S, -1, -1, "__sentinel__")]
        ]
    for rows in batches:
        data = [
            (T0 + timedelta(seconds=off), eid, uid, kind)
            for off, eid, uid, kind in rows
        ]
        write_stream_batch(spark.createDataFrame(data, SCHEMA), indir)
    src = read_events_stream(
        spark, str(indir), SCHEMA, max_files_per_trigger=1
    )
    res = run_stream_to_memory(
        scd2_stream(src), name, str(tmpdir / "ckpt" / name)
    )
    return [
        (r.user_id, r.run_id, r.state, r.valid_from_us,
         r.valid_to_us, r.n_events)
        for r in res.collect() if r.user_id != -1
    ]


def _us(off: int) -> int:
    return int((T0 + timedelta(seconds=off)).timestamp()) * 1_000_000


def test_run_closes_when_successor_opens_across_batches(spark, tmpdir):  # noqa: F811
    rows = _run(spark, tmpdir, [
        [(0, 1, 1, "view"), (10, 2, 1, "view")],
        [(20, 3, 1, "click")],       # closes the view run
    ])
    assert sorted(rows) == [
        (1, 1, "view", _us(0), _us(20), 2),
        (1, 2, "click", _us(20), None, 1),
    ]


def test_open_run_held_without_flush(spark, tmpdir):  # noqa: F811
    """Without the sentinel, only CLOSED runs have emitted — the open
    run stays in state (an ordinary watermark advance from batch 2
    must not flush batch 1's open run)."""
    rows = _run(spark, tmpdir, [
        [(0, 1, 1, "view")],
        [(50, 2, 2, "click")],       # advances watermark, other key
    ], flush=False)
    assert rows == []                # both runs still open, none final


def test_unchanged_state_accumulates(spark, tmpdir):  # noqa: F811
    rows = _run(spark, tmpdir, [
        [(0, 1, 3, "view")],
        [(10, 2, 3, "view"), (20, 3, 3, "view")],
    ])
    assert rows == [(3, 1, "view", _us(0), None, 3)]


def test_late_regression_dropped(spark, tmpdir):  # noqa: F811
    """An event behind the watermark neither splits nor extends runs."""
    rows = _run(spark, tmpdir, [
        [(100, 1, 4, "view"), (110, 2, 4, "view")],
        [(5, 3, 4, "click"), (120, 4, 4, "view")],  # event 3 late
    ])
    assert rows == [(4, 1, "view", _us(100), None, 3)]
