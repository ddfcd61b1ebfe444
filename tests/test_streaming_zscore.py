"""Cross-batch goldens for the streaming z-score anomaly scorer
(``state.zscore_stream`` — running prior-window scoring in three longs
of keyed state). The single-batch relation is oracle-checked through
``pipeline.streaming_anomalies``; these pin the CADENCE: state carries
across micro-batches (a batch-2 reading is scored against batch-1
history), within-batch absorption follows (us, event_id) order even
when rows arrive shuffled, and pre-watermark late rows are dropped."""

from __future__ import annotations

import math
import uuid
from datetime import datetime, timedelta

import pytest

from biometric_stream_processing_spark.plans.timeseries_ops import (
    ZSCORE_MIN_PRIOR,
)
from biometric_stream_processing_spark.streaming.pipeline import (
    read_events_stream,
    run_stream_to_memory,
)
from biometric_stream_processing_spark.streaming.state import zscore_stream
from tests.conftest import write_stream_batch
from tests.test_streaming import tmpdir  # noqa: F401

T0 = datetime(2024, 1, 1)
SCHEMA = "ts timestamp, event_id long, user_id long, value double"


def _run(spark, tmpdir, batches, min_prior=2, threshold=2.0):  # noqa: F811
    name = "zsc" + uuid.uuid4().hex[:10]
    indir = tmpdir / "in" / name
    for rows in batches:
        data = [
            (T0 + timedelta(seconds=off), eid, uid, float(v))
            for off, eid, uid, v in rows
        ]
        write_stream_batch(spark.createDataFrame(data, SCHEMA), indir)
    src = read_events_stream(
        spark, str(indir), SCHEMA, max_files_per_trigger=1
    )
    res = run_stream_to_memory(
        zscore_stream(src, min_prior, threshold),
        name, str(tmpdir / "ckpt" / name),
    )
    return {r.event_id: r for r in res.collect()}


def _z(prior, v):
    mean = sum(prior) / len(prior)
    var = sum((x - mean) ** 2 for x in prior) / (len(prior) - 1)
    return (v - mean) / math.sqrt(var)


def test_state_carries_across_batches(spark, tmpdir):  # noqa: F811
    """Batch-2 readings score against batch-1 history — the running
    stats survive the micro-batch boundary in keyed state."""
    out = _run(spark, tmpdir, [
        [(0, 1, 7, 100), (1, 2, 7, 120)],
        [(2, 3, 7, 500)],
    ])
    assert out[1].z is None and out[1].n_prior == 0
    assert out[2].z is None and out[2].n_prior == 1
    r3 = out[3]
    assert r3.n_prior == 2
    assert r3.z == pytest.approx(round(_z([10000, 12000], 50000), 6))
    assert r3.is_anomaly


def test_within_batch_rows_absorb_in_time_order(spark, tmpdir):  # noqa: F811
    """Rows staged out of order still score as if processed by
    (us, event_id) — the kernel sorts before absorbing."""
    out = _run(spark, tmpdir, [
        [(20, 3, 9, 300), (0, 1, 9, 100), (10, 2, 9, 200)],
    ])
    assert out[1].n_prior == 0           # earliest despite arriving 2nd
    assert out[2].n_prior == 1
    assert out[3].n_prior == 2
    assert out[3].z == pytest.approx(round(_z([10000, 20000], 30000), 6))


def test_zero_prior_variance_yields_null_z(spark, tmpdir):  # noqa: F811
    out = _run(spark, tmpdir, [
        [(i, i + 1, 5, 50) for i in range(4)],
    ])
    assert all(r.z is None and not r.is_anomaly for r in out.values())


def test_late_rows_dropped_not_scored(spark, tmpdir):  # noqa: F811
    """A pre-watermark straggler neither emits nor pollutes state."""
    out = _run(spark, tmpdir, [
        [(100, 1, 4, 100), (110, 2, 4, 110)],
        [(5, 3, 4, 999), (120, 4, 4, 105)],  # event 3 is late
    ])
    assert 3 not in out
    assert out[4].n_prior == 2          # late row never entered state


def test_default_min_prior_gate(spark, tmpdir):  # noqa: F811
    vals = [100, 104, 98, 101, 103, 99, 102]
    out = _run(
        spark, tmpdir,
        [[(i, i + 1, 2, v) for i, v in enumerate(vals)]],
        min_prior=ZSCORE_MIN_PRIOR,
    )
    for i in range(1, len(vals) + 1):
        if i - 1 < ZSCORE_MIN_PRIOR:
            assert out[i].z is None
        else:
            assert out[i].z is not None
