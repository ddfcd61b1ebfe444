"""Cross-batch goldens for the streaming cadence moment machine
(``state.cadence_stream`` — six longs of keyed state). The
single-batch profile relation is oracle-checked through
``pipeline.streaming_user_cadence``; these pin the CADENCE: moment
sums continue across micro-batches, within-batch absorption follows
(us, event_id) order even when rows arrive shuffled, pre-watermark
late rows drop, the same-second tie guard skips rather than absorbs
a negative gap, and the sums survive a mid-stream kill + restart."""

from __future__ import annotations

import uuid
from datetime import datetime, timedelta

from biometric_stream_processing_spark.streaming.pipeline import (
    read_events_stream,
    run_stream_to_memory,
)
from biometric_stream_processing_spark.streaming.state import (
    _S2_SPLIT,
    cadence_stream,
)
from tests.conftest import write_stream_batch
from tests.test_streaming import tmpdir  # noqa: F401

T0 = datetime(2024, 1, 1)
SCHEMA = "ts timestamp, event_id long, user_id long, value double"


def _run(spark, tmpdir, batches):  # noqa: F811
    name = "cad" + uuid.uuid4().hex[:10]
    indir = tmpdir / "in" / name
    for rows in batches:
        data = [
            (T0 + timedelta(seconds=off), eid, uid, 1.0)
            for off, eid, uid in rows
        ]
        write_stream_batch(spark.createDataFrame(data, SCHEMA), indir)
    src = read_events_stream(
        spark, str(indir), SCHEMA, max_files_per_trigger=1
    )
    res = run_stream_to_memory(
        cadence_stream(src), name, str(tmpdir / "ckpt" / name)
    )
    # latest snapshot per user: every moment is monotone
    return {
        r.user_id: (r.n_gaps, r.s, r.s2_hi * _S2_SPLIT + r.s2_lo)
        for r in sorted(res.collect(), key=lambda r: (r.user_id, r.n_gaps))
    }


def test_moments_continue_across_batches(spark, tmpdir):  # noqa: F811
    """A batch-2 arrival extends the batch-1 chain: the gap spans the
    micro-batch boundary and sums stay exact."""
    out = _run(spark, tmpdir, [
        [(0, 1, 7), (10, 2, 7)],
        [(25, 3, 7)],
    ])
    # gaps 10_000 and 15_000 ms
    assert out[7] == (2, 25_000, 10_000**2 + 15_000**2)


def test_within_batch_rows_absorb_in_time_order(spark, tmpdir):  # noqa: F811
    out = _run(spark, tmpdir, [
        [(20, 3, 9), (0, 1, 9), (10, 2, 9)],
    ])
    assert out[9] == (2, 20_000, 2 * 10_000**2)


def test_late_rows_drop_from_the_chain(spark, tmpdir):  # noqa: F811
    """A pre-watermark straggler never enters the sums: after the
    watermark passed second 30, a second-5 arrival drops and the next
    reading gaps against the pre-straggler last event."""
    out = _run(spark, tmpdir, [
        [(0, 1, 4), (30, 2, 4)],
        [(5, 3, 4)],            # late: watermark is at 30
        [(40, 4, 4)],
    ])
    assert out[4] == (2, 40_000, 30_000**2 + 10_000**2)


def test_moments_survive_restart(spark, tmpdir):  # noqa: F811
    """Mid-stream kill + restart from the same checkpoint: the
    post-restart gap continues from the recovered last event, and
    the final snapshot carries the full-stream sums."""
    run = uuid.uuid4().hex[:10]
    indir, ckpt = tmpdir / "in" / run, tmpdir / "ckpt" / run
    outdir = tmpdir / "out" / run

    def write(rows):
        data = [
            (T0 + timedelta(seconds=off), eid, uid, 1.0)
            for off, eid, uid in rows
        ]
        spark.createDataFrame(data, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(str(indir))

    def phase():
        src = read_events_stream(
            spark, str(indir), SCHEMA, max_files_per_trigger=1
        )
        q = (
            cadence_stream(src)
            .writeStream.outputMode("append").format("parquet")
            .option("path", str(outdir))
            .option("checkpointLocation", str(ckpt)).start()
        )
        q.processAllAvailable()
        q.stop()

    write([(0, 1, 5)])
    write([(10, 2, 5)])
    phase()
    write([(30, 3, 5)])
    phase()

    rows = sorted(
        (r.n_gaps, r.s, r.s2_hi * _S2_SPLIT + r.s2_lo)
        for r in spark.read.parquet(str(outdir)).collect()
    )
    # three snapshots (one per batch-with-data), monotone sums,
    # final = full stream
    assert len(rows) == 3
    assert rows[-1] == (2, 30_000, 10_000**2 + 20_000**2)
