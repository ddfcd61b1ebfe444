"""Restart-recovery goldens (round-7 verdict item 6) for the two
remaining streaming machines with cross-batch goldens but no
mid-stream-kill coverage: the complete-mode OHLC min_by/max_by
aggregation (``streaming_ohlc``'s state shape) and the foreachBatch
keyed-upsert dedup registry (``streaming_dedup_merge``'s
``dedup_registry_merge``). Pattern follows
test_streaming_restart_machines.py: stop between micro-batches,
restart from the same checkpoint, assert the keyed state SURVIVED and
nothing pre-restart is duplicated."""

from __future__ import annotations

import uuid
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from biometric_stream_processing_spark.streaming.pipeline import (
    dedup_registry_merge,
    read_events_stream,
)
from tests.conftest import write_stream_batch
from tests.test_streaming import SCHEMA, _write_batches, tmpdir  # noqa: F401

T0 = datetime(2024, 1, 1)


def _ohlc_agg(src):
    # streaming_ohlc's aggregation shape over the test SCHEMA (no
    # event_id column: ts is unique per row in these goldens) — same
    # helper as test_streaming_ohlc.py
    keyed = src.select(
        "event_type", "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.struct(
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        ).alias("_ord"),
    )
    return keyed.groupBy(
        F.window("ts", "900 seconds"), "event_type"
    ).agg(
        F.min_by("cents", F.col("_ord")).alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max_by("cents", F.col("_ord")).alias("close_cents"),
        F.count("*").alias("n_events"),
    )


def test_ohlc_state_survives_restart(spark, tmpdir):  # noqa: F811
    """Kill between micro-batches: the recovered min_by/max_by state
    must fold batch-2 events into batch-1 bars — including an EARLIER
    post-restart event retaking a bar's open — and the final
    complete-mode snapshot equals the all-data batch answer with no
    duplicate bars. (Complete-mode memory-sink queries are the one
    memory-sink case Spark recovers from a checkpoint, because every
    trigger re-emits the full snapshot.)"""
    run = uuid.uuid4().hex[:10]
    indir, ckpt = tmpdir / "in" / run, tmpdir / "ckpt" / run

    def phase(name):
        src = read_events_stream(
            spark, str(indir), SCHEMA, max_files_per_trigger=1
        )
        q = (
            _ohlc_agg(src).writeStream.outputMode("complete")
            .format("memory").queryName(name)
            .option("checkpointLocation", str(ckpt)).start()
        )
        q.processAllAvailable()
        q.stop()
        return spark.table(name)

    _write_batches(spark, indir, [
        [(100, "hr", 1, 5.0), (200, "hr", 1, 7.0)],
    ])
    phase("ohlc_r8_a_" + run)
    _write_batches(spark, indir, [
        # earlier event for bar 0 (retakes open) + a second bar
        [(50, "hr", 2, 9.0), (950, "hr", 1, 3.0)],
    ])
    snap = phase("ohlc_r8_b_" + run)

    def bar_off(w):
        return int((w.start - T0).total_seconds())

    got = {
        (r.event_type, bar_off(r["window"])):
        (r.open_cents, r.high_cents, r.low_cents, r.close_cents,
         r.n_events)
        for r in snap.collect()
    }
    assert got == {
        ("hr", 0): (900, 900, 500, 700, 3),   # open retaken at t=50
        ("hr", 900): (300, 300, 300, 300, 1),
    }


def _docs_write(spark, indir, rows):
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")
    data = [(i, t, "en", "s", len(t)) for i, t in rows]
    write_stream_batch(spark.createDataFrame(data, schema), indir)


def test_dedup_merge_registry_survives_restart(spark, tmpdir):  # noqa: F811
    """Kill between micro-batches of the update-mode registry merge:
    after restart the recovered aggregation state must FOLD the new
    duplicate into the pre-restart count (canonical id stays the
    pre-restart min), and untouched keys must NOT re-emit (update
    mode emits only touched rows — the no-duplicate-emission half of
    the exactly-once contract)."""
    run = uuid.uuid4().hex[:10]
    indir, ckpt = tmpdir / "in" / run, tmpdir / "ckpt" / run
    schema = ("doc_id long, text string, lang string, source string, "
              "n_chars long")

    def phase():
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(indir))
        )
        return dedup_registry_merge(src, str(ckpt))

    _docs_write(spark, indir, [(1, "aaa"), (2, "bbb")])
    reg1 = phase()
    assert set(reg1.values()) == {(1, 1), (2, 1)}

    _docs_write(spark, indir, [(3, "aaa"), (4, "ccc")])
    reg2 = phase()
    # the post-restart emission: 'aaa' folded to count 2 with the
    # PRE-restart canonical id (state recovered), 'ccc' fresh,
    # 'bbb' absent (untouched → not re-emitted)
    aaa = [h for h, (c, n) in reg1.items() if c == 1][0]
    bbb = [h for h, (c, n) in reg1.items() if c == 2][0]
    assert reg2[aaa] == (1, 2)
    assert bbb not in reg2
    assert set(reg2.values()) == {(1, 2), (4, 1)}
