"""Streaming exact dedup — ``dropDuplicatesWithinWatermark``: the
streaming complement to the batch dedup family (operators/dedup.py).
At-least-once sources (Kafka redelivery, reference's queue replays)
need dedup with BOUNDED state; the watermark variant keeps a key only
until the watermark passes its event time, so state is O(keys within
the watermark horizon), not O(all keys ever) — the 100 TB/day-safe
shape. Duplicates arriving within the horizon dedup exactly;
everything is GC'd after."""

from __future__ import annotations

import uuid

from biometric_stream_processing_spark.streaming.pipeline import (
    read_events_stream,
    run_stream_to_memory,
)
from tests.conftest import write_stream_batch
from tests.test_streaming import SCHEMA, _write_batches, tmpdir  # noqa: F401


def _run(spark, tmpdir, batches, delay="10 seconds"):
    name = "dd" + uuid.uuid4().hex[:10]
    indir = tmpdir / "in" / name
    _write_batches(spark, indir, batches)
    src = read_events_stream(spark, str(indir), SCHEMA, max_files_per_trigger=1)
    deduped = (
        src.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "ts"])
    )
    return run_stream_to_memory(deduped, name, str(tmpdir / "ckpt" / name))


def test_redelivery_within_horizon_dedupes(spark, tmpdir):
    """The same event delivered in two micro-batches (queue replay)
    must emit once — including the cross-batch case the stateless
    batch dropDuplicates cannot handle incrementally."""
    e = (5, "hr", 1, 150.0)
    rows = _run(spark, tmpdir, [
        [e, (6, "hr", 2, 151.0)],
        [e, (7, "hr", 3, 152.0)],          # exact redelivery of e
    ]).collect()
    got = sorted((r.user_id, r.ts.isoformat()) for r in rows)
    assert len(got) == 3
    assert len([g for g in got if g[0] == 1]) == 1


def test_late_redelivery_still_not_duplicated(spark, tmpdir):
    """Why bounded state is SAFE here: once the watermark passes an
    event's time its dedup key is GC'd — but any redelivery of that
    event is now by definition LATE and dropped by the same watermark
    before reaching the dedup state. The two mechanisms compose into
    exactly-once emission with O(horizon) state: 1 copy emitted, no
    resurrection after GC."""
    e = (0, "hr", 1, 150.0)
    rows = _run(spark, tmpdir, [
        [e],
        [(100, "hr", 9, 150.0)],   # watermark → 90 (delay 10), evicts e
        [e],                       # redelivery far past the horizon: late
    ], delay="10 seconds").collect()
    assert len([r for r in rows if r.user_id == 1]) == 1


def test_complete_mode_registry_folds_across_batches(spark, tmpdir):
    """The streaming dedup REGISTRY (groupBy content-hash, complete
    mode — `streaming_dedup_canonicals`' shape): a duplicate arriving
    in a LATER micro-batch must fold into its group (count grows,
    canonical id stays the min) in the final snapshot."""
    import uuid

    from pyspark.sql import functions as F

    name = "reg" + uuid.uuid4().hex[:10]
    indir = tmpdir / "in" / name
    for batch in (
        [(0, "aaa"), (1, "bbb")],
        [(2, "aaa"), (3, "ccc")],   # doc 2 duplicates doc 0's content
    ):
        write_stream_batch(
            spark.createDataFrame(batch, "doc_id long, text string"), indir
        )
    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1).parquet(str(indir))
    )
    agg = src.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("canonical"), F.count("*").alias("n")
    )
    out = run_stream_to_memory(
        agg, name, str(tmpdir / "ckpt" / name), output_mode="complete"
    )
    got = {(r.canonical, r.n) for r in out.collect()}
    assert got == {(0, 2), (1, 1), (3, 1)}


def test_update_merge_registry_folds_across_batches(spark, tmpdir):
    """The foreachBatch-merge twin of the complete-mode registry:
    duplicate content arriving in a LATER micro-batch must fold into
    its group (count grows, canonical stays the min id), and rows the
    batch didn't touch must survive untouched in the merge target.
    Final registry == batch dedup over the union."""
    import uuid as _uuid

    from biometric_stream_processing_spark.streaming.pipeline import (
        dedup_registry_merge,
    )

    name = "ddm" + _uuid.uuid4().hex[:8]
    indir = str(tmpdir / "in" / name)
    schema = "doc_id long, text string"
    b1 = [(1, "aaa"), (2, "bbb"), (3, "aaa")]
    b2 = [(9, "aaa"), (4, "ccc")]          # dup of batch-1 content + new
    for i, rows in enumerate([b1, b2]):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(indir)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    reg = dedup_registry_merge(src, str(tmpdir / "ckpt" / name))
    import hashlib
    h = lambda t: hashlib.md5(t.encode()).hexdigest()  # noqa: E731
    assert reg == {
        h("aaa"): (1, 3),   # folded across batches, min id kept
        h("bbb"): (2, 1),   # untouched by batch 2, survived the merge
        h("ccc"): (4, 1),
    }


def test_keyed_upsert_sink_carries_the_dedup_registry(spark, tmpdir):
    """The PRODUCTION form of the two registry tests above (round-11
    `sinks.idempotent_keyed_upsert_writer`): the same content-hash
    aggregation in update mode, upserted into the versioned keyed
    store instead of a driver dict. Duplicate content arriving in a
    later micro-batch folds (count grows, canonical stays the min
    id), untouched keys survive the merge, and the committed registry
    equals the batch dedup over the union — the MERGE INTO shape,
    checkable with plain files."""
    import hashlib
    import uuid as _uuid

    from pyspark.sql import functions as F

    from biometric_stream_processing_spark.streaming.sinks import (
        idempotent_keyed_upsert_writer,
        read_keyed_registry,
        start_with_foreach_batch,
    )

    name = "ups" + _uuid.uuid4().hex[:8]
    indir = str(tmpdir / "in" / name)
    out = str(tmpdir / "reg" / name)
    schema = "doc_id long, text string"
    b1 = [(1, "aaa"), (2, "bbb"), (3, "aaa")]
    b2 = [(9, "aaa"), (4, "ccc")]          # dup of batch-1 content + new
    for rows in (b1, b2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(indir)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    agg = src.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("n_docs"),
    )
    q = start_with_foreach_batch(
        agg,
        idempotent_keyed_upsert_writer(out, ["content_hash"]),
        str(tmpdir / "ckpt" / name),
        output_mode="update",
    )
    q.processAllAvailable()
    q.stop()

    reg = {
        r.content_hash: (r.canonical_doc_id, r.n_docs)
        for r in read_keyed_registry(spark, out).collect()
    }
    h = lambda t: hashlib.md5(t.encode()).hexdigest()  # noqa: E731
    assert reg == {
        h("aaa"): (1, 3),   # folded across batches, min id kept
        h("bbb"): (2, 1),   # untouched by batch 2, survived the merge
        h("ccc"): (4, 1),
    }


def test_dedup_merge_to_keyed_store_is_the_registered_path(
    spark, tmpdir
):
    """Round-17 (VERDICT_r16 #2): the registered streaming_dedup_merge
    entry routes through ``dedup_merge_to_keyed_store`` — the
    production versioned keyed store, zero driver-side state. Drive
    that exact helper multi-batch: duplicate content arriving in a
    later micro-batch folds (count grows, canonical stays the min
    id), untouched keys survive, and the returned relation equals the
    batch dedup over the union — same golden as the driver-dict
    demonstration helper it replaced."""
    import hashlib
    import uuid as _uuid

    from biometric_stream_processing_spark.streaming.pipeline import (
        dedup_merge_to_keyed_store,
    )

    name = "dmk" + _uuid.uuid4().hex[:8]
    indir = str(tmpdir / "in" / name)
    schema = "doc_id long, text string"
    b1 = [(1, "aaa"), (2, "bbb"), (3, "aaa")]
    b2 = [(9, "aaa"), (4, "ccc")]          # dup of batch-1 content + new
    for rows in (b1, b2):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(indir)
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(indir)
    )
    out = dedup_merge_to_keyed_store(src, str(tmpdir / "store" / name))
    reg = {
        r.content_hash: (r.canonical_doc_id, r.n_docs)
        for r in out.collect()
    }
    h = lambda t: hashlib.md5(t.encode()).hexdigest()  # noqa: E731
    assert reg == {
        h("aaa"): (1, 3),
        h("bbb"): (2, 1),
        h("ccc"): (4, 1),
    }
