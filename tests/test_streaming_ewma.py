"""Cross-batch goldens for the streaming EWMA smoother
(``state.ewma_stream`` — one smoothed double of keyed state). The
single-batch relation is oracle-checked through
``pipeline.streaming_ewma``; these pin the CADENCE: the recurrence
continues across micro-batches, within-batch absorption follows
(us, event_id) order even when rows arrive shuffled, pre-watermark
late rows drop, and the smoothed chain survives a mid-stream kill +
checkpoint restart."""

from __future__ import annotations

import uuid
from datetime import datetime, timedelta

import pytest

from biometric_stream_processing_spark.plans.timeseries_ops import (
    EWMA_ALPHA,
)
from biometric_stream_processing_spark.streaming.pipeline import (
    read_events_stream,
    run_stream_to_memory,
)
from biometric_stream_processing_spark.streaming.state import ewma_stream
from tests.conftest import write_stream_batch
from tests.test_streaming import tmpdir  # noqa: F401

T0 = datetime(2024, 1, 1)
SCHEMA = "ts timestamp, event_id long, user_id long, value double"


def _ref(cents_seq, alpha=EWMA_ALPHA):
    s = None
    out = []
    for c in cents_seq:
        s = float(c) if s is None else alpha * c + (1.0 - alpha) * s
        out.append(round(s, 6))
    return out


def _run(spark, tmpdir, batches):  # noqa: F811
    name = "ewm" + uuid.uuid4().hex[:10]
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
        ewma_stream(src, EWMA_ALPHA),
        name, str(tmpdir / "ckpt" / name),
    )
    return {r.event_id: r.ewma_cents for r in res.collect()}


def test_recurrence_continues_across_batches(spark, tmpdir):  # noqa: F811
    """A batch-2 reading smooths against the batch-1 chain — the
    running double survives the micro-batch boundary."""
    out = _run(spark, tmpdir, [
        [(0, 1, 7, 1.00), (1, 2, 7, 2.00)],
        [(2, 3, 7, 10.00)],
    ])
    assert [out[1], out[2], out[3]] == _ref([100, 200, 1000])


def test_within_batch_rows_absorb_in_time_order(spark, tmpdir):  # noqa: F811
    """Rows staged out of order still smooth as if processed by
    (us, event_id) — the kernel sorts before absorbing."""
    out = _run(spark, tmpdir, [
        [(20, 3, 9, 3.00), (0, 1, 9, 1.00), (10, 2, 9, 2.00)],
    ])
    assert [out[1], out[2], out[3]] == _ref([100, 200, 300])


def test_late_rows_drop_from_the_chain(spark, tmpdir):  # noqa: F811
    """A pre-watermark arrival never enters the recurrence: after the
    watermark passed second 30, a second-5 straggler is dropped and
    the next reading continues from the pre-straggler state."""
    out = _run(spark, tmpdir, [
        [(0, 1, 4, 1.00), (30, 2, 4, 2.00)],
        [(5, 3, 4, 9.99)],           # late: watermark is at 30
        [(40, 4, 4, 3.00)],
    ])
    assert 3 not in out
    assert [out[1], out[2], out[4]] == _ref([100, 200, 300])


def test_chain_survives_restart(spark, tmpdir):  # noqa: F811
    """Mid-stream kill + restart from the same checkpoint: the
    post-restart reading continues the PRE-restart chain (the one
    state double recovered), and pre-restart emissions appear once."""
    run = uuid.uuid4().hex[:10]
    indir, ckpt = tmpdir / "in" / run, tmpdir / "ckpt" / run
    outdir = tmpdir / "out" / run

    def write(rows):
        data = [
            (T0 + timedelta(seconds=off), eid, uid, float(v))
            for off, eid, uid, v in rows
        ]
        spark.createDataFrame(data, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(indir))

    def phase():
        src = read_events_stream(
            spark, str(indir), SCHEMA, max_files_per_trigger=1
        )
        q = (
            ewma_stream(src, EWMA_ALPHA)
            .writeStream.outputMode("append").format("parquet")
            .option("path", str(outdir))
            .option("checkpointLocation", str(ckpt)).start()
        )
        q.processAllAvailable()
        q.stop()

    write([(0, 1, 5, 1.00)])
    write([(10, 2, 5, 2.00)])
    phase()
    write([(20, 3, 5, 10.00)])
    phase()

    rows = {
        r.event_id: r.ewma_cents
        for r in spark.read.parquet(str(outdir)).collect()
    }
    assert len(rows) == 3  # exactly-once across the restart
    assert [rows[1], rows[2], rows[3]] == _ref([100, 200, 1000])


def test_kernel_bit_matches_batch_pandas_ewm():
    """The plain-recurrence kernel must be bit-identical to the batch
    kernel's pandas ewm(adjust=False) — IEEE addition commutativity
    is the whole argument, so pin it on awkward doubles."""
    import pandas as pd

    vals = [100, 333, 1, 999999, 77, 12345678, 2, 2, 500000001]
    ewm = (
        pd.Series([float(v) for v in vals])
        .ewm(alpha=EWMA_ALPHA, adjust=False).mean().tolist()
    )
    s = None
    for v, expect in zip(vals, ewm):
        s = float(v) if s is None else (
            EWMA_ALPHA * float(v) + (1.0 - EWMA_ALPHA) * s
        )
        assert s == expect  # bitwise, no tolerance
