"""Update-mode emission cadence (reference parity): the DStream
`reduceByKeyAndWindow` pipeline re-prints the "same" alert every slide
while the sliding window still contains a qualifying pair
(`BiometricAlertStreamProcessor.scala:56-66`; `README.md:93-131` shows
the repeated `(12346,User 12346 has a problem)` across consecutive
batch times), and the updateStateByKey cure collapses that to one
alert per episode (`README.md:133-159`).

Structured Streaming twin: ``alert_stream_raw`` in UPDATE output mode
re-emits a (window, user) alert row in every micro-batch that touches
it — the per-slide repeat — and chaining the session-window dedup
(``alerts_stream``, append mode) yields exactly one row per episode.
"""

from __future__ import annotations

import uuid
from datetime import datetime, timedelta
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from biometric_stream_processing_spark.streaming.pipeline import (
    alert_stream_raw,
    alerts_stream,
    read_events_stream,
    run_stream_to_memory,
    run_stream_update_log,
)
from tests.conftest import write_stream_batch

T0 = datetime(2024, 1, 1)
SCHEMA = "ts timestamp, event_type string, user_id long, value double"

# README.md:99-101 visualization: one low-bp reading, one high-hr
# reading two ticks later; every sliding window containing BOTH keeps
# the alert alive. L=5, S=1 → qualifying window starts {3, 4, 5}.
BATCH_1 = [(5, "bp", 12346, 80), (7, "hr", 12346, 200)]
# A later high-hr at t=9 still pairs with the t=5 bp only in the
# window starting at 5 → that window's group is touched AGAIN in
# micro-batch 2: the "same alert prints again" cadence.
BATCH_2 = [(9, "hr", 12346, 200)]


def _write_batches(spark, indir: Path, batches):
    for rows in batches:
        data = [
            (T0 + timedelta(seconds=off), kind, uid, float(v))
            for off, kind, uid, v in rows
        ]
        write_stream_batch(spark.createDataFrame(data, SCHEMA), indir)


@pytest.fixture
def indirs(tmp_path):
    return tmp_path


def test_update_mode_repeats_alert_per_slide(spark, indirs):
    name = "u" + uuid.uuid4().hex[:12]
    indir = indirs / "in" / name
    _write_batches(spark, indir, [BATCH_1, BATCH_2])
    src = read_events_stream(spark, str(indir), SCHEMA, max_files_per_trigger=1)
    raw = alert_stream_raw(src, length_s=5, slide_s=1).withColumn(
        "ws", F.unix_timestamp("window_start")
    )
    log = run_stream_update_log(raw, str(indirs / "ckpt" / name))

    by_batch = {
        bid: {(r.user_id, r.ws) for r in rows} for bid, rows in log
    }
    all_ws = sorted({ws for s in by_batch.values() for (_, ws) in s})
    # three consecutive slides alerted (README's x x x run)
    assert [w - all_ws[0] for w in all_ws] == [0, 1, 2]
    # every alert row is the same user with the reference message text
    assert all(
        r.user_id == 12346 and r.message == "User 12346 has a problem"
        for _, rows in log for r in rows
    )
    # batch 0 emits all three qualifying slides; batch 1 RE-emits the
    # window-start-5 alert (its state was touched by the t=9 hr event)
    # — the "same" alert printed again, the DStream cadence.
    last_ws = all_ws[-1]
    assert (12346, last_ws) in by_batch[0]
    assert (12346, last_ws) in by_batch[1]


def test_session_dedup_collapses_to_one_episode(spark, indirs):
    """README.md:133-159: with state + cooldown the repeating alert
    becomes a single one — same fixture, session-window dedup chained,
    append mode."""
    name = "d" + uuid.uuid4().hex[:12]
    indir = indirs / "in" / name
    # sentinel far in the future closes the session so append emits it
    _write_batches(
        spark, indir,
        [BATCH_1, BATCH_2, [(100000, "hr", -1, 0.0)]],
    )
    src = read_events_stream(spark, str(indir), SCHEMA, max_files_per_trigger=1)
    out = alerts_stream(src, length_s=5, slide_s=1, cooldown_s=30)
    res = run_stream_to_memory(out, name, str(indirs / "ckpt" / name))
    rows = res.collect()
    assert [(r.user_id, r.message) for r in rows] == [
        (12346, "User 12346 has a problem")
    ]
    assert rows[0].n_windows == 3
