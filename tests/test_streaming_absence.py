"""Cross-batch goldens for streaming absence detection
(``state.absence_stream`` — `A NOT FOLLOWED BY B WITHIN T` with
event-time timer expiry). The driver gate pins the single-batch
relation against the batch oracle; these pin the CADENCE: a resolver
arriving in a LATER micro-batch kills its pending trigger, an
unresolved trigger expires via the per-key timer even when its key
never sees data again, and an out-of-order resolver (arriving before
its trigger under a lagged watermark) still resolves."""

from __future__ import annotations

import uuid
from datetime import datetime, timedelta
from pathlib import Path

from pyspark.sql import functions as F

from biometric_stream_processing_spark.streaming.pipeline import (
    read_events_stream,
    run_stream_to_memory,
)
from biometric_stream_processing_spark.streaming.state import absence_stream
from tests.conftest import write_stream_batch
from tests.test_streaming import tmpdir  # noqa: F401

T0 = datetime(2024, 1, 1)
SCHEMA = "event_id long, ts timestamp, user_id long, event_type string"
HORIZON = 60
#: watermark pusher — survives the filter via keep_pred, but is
#: neither trigger nor resolver
WM = lambda off: (999, off, -1, "wm")  # noqa: E731


def _run(spark, tmpdir, batches, delay="0 seconds"):  # noqa: F811
    name = "abs" + uuid.uuid4().hex[:10]
    indir = tmpdir / "in" / name
    for rows in batches:
        data = [
            (eid, T0 + timedelta(seconds=off), uid, kind)
            for eid, off, uid, kind in rows
        ]
        write_stream_batch(spark.createDataFrame(data, SCHEMA), indir)
    src = read_events_stream(
        spark, str(indir), SCHEMA, max_files_per_trigger=1
    )
    out = absence_stream(
        src, "click", "purchase", HORIZON, watermark_delay=delay,
        keep_pred=F.col("event_type") == "wm",
    )
    res = run_stream_to_memory(
        out, name, str(tmpdir / "ckpt" / name)
    )
    return sorted(
        (r.event_id, r.user_id, r.click_us)
        for r in res.collect() if r.user_id != -1
    )


def _us(off: int) -> int:
    return int((T0 + timedelta(seconds=off)).timestamp() * 1_000_000)


def test_cross_batch_resolve_and_timer_expiry(spark, tmpdir):  # noqa: F811
    """u1's click is resolved by a purchase in a LATER batch; u2's
    purchase falls outside the horizon and u5 never purchases — both
    expire via the event-time timer in batches carrying NO data for
    their keys (the 1-to-0/1 timer emission)."""
    b1 = [(1, 0, 1, "click"), (2, 0, 2, "click"), (5, 0, 5, "click")]
    b2 = [(11, 10, 1, "purchase"), (12, 100, 2, "purchase")]
    b3 = [WM(10_000)]
    assert _run(spark, tmpdir, [b1, b2, b3]) == [
        (2, 2, _us(0)), (5, 5, _us(0)),
    ]


def test_resolver_before_trigger_with_lagged_watermark(spark, tmpdir):  # noqa: F811
    """Out-of-order arrival: the purchase reaches the operator one
    batch BEFORE its click (admissible under a 100 s watermark delay).
    The retained-resolver state must still kill the trigger — no
    false abandonment."""
    b1 = [(9, 50, 4, "purchase")]
    b2 = [(4, 0, 4, "click")]
    b3 = [WM(10_000)]
    assert _run(spark, tmpdir, [b1, b2, b3], delay="100 seconds") == []


def test_unresolved_trigger_held_until_watermark(spark, tmpdir):  # noqa: F811
    """No watermark advance past the horizon ⇒ the pending trigger
    stays in state — nothing emits prematurely."""
    b1 = [(1, 0, 1, "click")]
    b2 = [WM(30)]  # watermark 30 < horizon 60: still pending
    assert _run(spark, tmpdir, [b1, b2]) == []
