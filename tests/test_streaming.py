"""Golden-fixture tests for the Structured Streaming surface
(FIXTURES.md §3): declarative chained pipeline and the stateful
leading-edge throttle, including cross-batch state and late data."""

from __future__ import annotations

import shutil
import uuid
from datetime import datetime, timedelta
from pathlib import Path

import pytest

from biometric_stream_processing_spark.streaming.pipeline import (
    alerts_stream,
    read_events_stream,
    run_stream_to_memory,
)
from biometric_stream_processing_spark.streaming.state import (
    alerts_stream_leading,
)
from tests.conftest import write_stream_batch

T0 = datetime(2024, 1, 1)
SCHEMA = "ts timestamp, event_type string, user_id long, value double"
SENTINEL = (100000, "hr", -1, 0.0)  # watermark pusher; never qualifies


def _write_batches(spark, indir: Path, batches):
    """Each batch of (offset_s, kind, user, value) rows → one parquet
    file; maxFilesPerTrigger=1 then yields one micro-batch per file
    (``write_stream_batch`` orders the files by modification time)."""
    for i, rows in enumerate(batches):
        data = [
            (T0 + timedelta(seconds=off), kind, uid, float(v))
            for off, kind, uid, v in rows
        ]
        write_stream_batch(spark.createDataFrame(data, SCHEMA), indir)


def _run(spark, tmpdir, batches, builder, **kw):
    name = "t" + uuid.uuid4().hex[:12]
    indir = tmpdir / "in" / name
    _write_batches(spark, indir, batches)
    src = read_events_stream(spark, str(indir), SCHEMA, max_files_per_trigger=1)
    out = builder(src, **kw)
    return run_stream_to_memory(out, name, str(tmpdir / "ckpt" / name))


@pytest.fixture
def tmpdir(tmp_path):
    yield tmp_path
    shutil.rmtree(tmp_path, ignore_errors=True)


FIXTURE_A = [
    (0, "bp", 12345, 120), (0, "bp", 12346, 80),
    (2, "hr", 12345, 200), (2, "hr", 12345, 200), (2, "hr", 12346, 101),
    SENTINEL,
]


def test_declarative_fixture_a(spark, tmpdir):
    res = _run(spark, tmpdir, [FIXTURE_A], alerts_stream,
               length_s=5, slide_s=1, cooldown_s=5)
    rows = res.collect()
    assert [(r.user_id, r.message) for r in rows] == [
        (12346, "User 12346 has a problem")
    ]
    assert rows[0].n_windows == 3  # windows starting at -2,-1,0


def test_stateful_fixture_a(spark, tmpdir):
    res = _run(spark, tmpdir, [FIXTURE_A], alerts_stream_leading,
               length_s=5, slide_s=1, cooldown_s=5)
    rows = res.collect()
    assert [(r.user_id, r.message) for r in rows] == [
        (12346, "User 12346 has a problem")
    ]


def test_cross_batch_state_and_rearm(spark, tmpdir):
    """F-F across micro-batches: qualifying pair in batch 1, same pair
    again at t=C+L+1 in batch 2 → two episodes; the cross-batch state
    must survive the batch boundary."""
    L, S, C = 10, 1, 30
    b1 = [(0, "bp", 999, 85), (0, "hr", 999, 150)]
    b2 = [(C + L + 1, "bp", 999, 85), (C + L + 1, "hr", 999, 150), SENTINEL]
    for builder in (alerts_stream, alerts_stream_leading):
        res = _run(spark, tmpdir, [b1, b2], builder,
                   length_s=L, slide_s=S, cooldown_s=C)
        assert res.count() == 2, builder.__name__


def test_suppression_within_cooldown(spark, tmpdir):
    L, S, C = 10, 1, 30
    b1 = [(0, "bp", 999, 85), (0, "hr", 999, 150)]
    b2 = [(C // 2, "bp", 999, 85), (C // 2, "hr", 999, 150), SENTINEL]
    for builder in (alerts_stream, alerts_stream_leading):
        res = _run(spark, tmpdir, [b1, b2], builder,
                   length_s=L, slide_s=S, cooldown_s=C)
        assert res.count() == 1, builder.__name__


def test_late_event_dropped_fixture_e(spark, tmpdir):
    """F-E: with watermark delay 0, an hr event whose ts is far behind
    the already-advanced watermark must not produce an alert.

    The stateful operator enforces the watermark itself, so two
    batches suffice. The declarative aggregation evicts window state
    with a one-batch lag (engine behavior: a late row still merges if
    its window state is alive), so an intermediate batch must advance
    eviction before the late row arrives.
    """
    b1 = [(10, "bp", 888, 90), (20, "hr", 888, 50)]   # wm → 20 after b1
    b_mid = [(21, "hr", 888, 50)]                     # drives eviction pass
    b2 = [(1, "hr", 888, 150), SENTINEL]              # ts=1 ≪ wm: late
    res = _run(spark, tmpdir, [b1, b2], alerts_stream_leading,
               length_s=10, slide_s=1, cooldown_s=15)
    assert res.count() == 0
    res = _run(spark, tmpdir, [b1, b_mid, b2], alerts_stream,
               length_s=10, slide_s=1, cooldown_s=15)
    assert res.count() == 0


def test_late_event_kept_with_delay(spark, tmpdir):
    """F-E variant: watermark delay ≥ 19 s keeps the same late event →
    one alert."""
    b1 = [(10, "bp", 888, 90), (20, "hr", 888, 50)]
    b2 = [(1, "hr", 888, 150), SENTINEL]
    for builder in (alerts_stream, alerts_stream_leading):
        res = _run(spark, tmpdir, [b1, b2], builder,
                   length_s=10, slide_s=1, cooldown_s=15,
                   watermark_delay="25 seconds")
        assert res.count() == 1, builder.__name__
