"""Structured Streaming surface: the biometric alert pipeline as ONE
declarative streaming query (SURVEY §7.1's primary plan — the Akka
union-then-window-aggregate shape J4+A1, with Beam's session-based
throttle T5 chained on top).

Pipeline::

    readStream (file/kafka/memory)
      → union typed streams (event_type discriminator)
      → withWatermark(ts, delay)                      [W4]
      → groupBy(window(ts, L, S), user_id)            [W1/A1]
          .agg(existential flags)                     [F1 as max(when)]
      → filter(both flags)
      → groupBy(session_window(window_time, C+1s), user_id)   [T5/W7]
          .agg(first qualifying window time)
      → append-mode sink

Chained stateful ops (windowed agg → session agg) are native in Spark
3.5+ via ``window_time`` event-time propagation — zero custom state
code for the gap-throttle semantics. The strict leading-edge throttle
variant (T2) is in ``state.py``.

Session gap is ``cooldown + 1s``: ``session_window`` starts a new
session when the time diff is ≥ gap, while the batch twin
(``throttle_gap``) merges when diff ≤ cooldown; with second-aligned
window times, gap = C+1 makes both merge exactly on diff ≤ C, so
streaming output == ``alerts_throttled`` batch output.

Scale: state per (window,user) is two ints (flags), per session one
timestamp — both watermark-GC'd. At 100 TB/day the knobs are
``spark.sql.shuffle.partitions`` for the two keyed exchanges and the
RocksDB state store provider
(``spark.sql.streaming.stateStore.providerClass``); nothing here
holds per-event state (the reference's list-concat flaw, avoided).
Live micro-batches pay a fixed commit cost per batch (state-store
deltas, offset and commit logs) whatever their size.
``get_spark`` sessions write those files through the FileSystem-based
checkpoint manager (``session.DEFAULT_CONFS``), which keeps the local
filesystem from forking ``readlink`` per file; a host session on HDFS
keeps Spark's atomic ``FileContext`` default. Local ``get_spark``
sessions also set file modes in-process (``session._session_confs``)
instead of forking ``chmod`` for each checkpoint and sink file.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.alerting import BP_THRESHOLD, HR_THRESHOLD

# Scratch dirs (streaming checkpoints, staged sentinel sources) handed
# out by ``scratch_dir`` — removed at interpreter exit so repeated
# gate/bench runs don't accumulate one leaked mkdtemp per entry
# invocation. Cleanup is atexit, not per-entry: the memory-sink result
# table survives the query but the checkpoint may still be referenced
# until the session dies.
_SCRATCH_DIRS: list[str] = []


def scratch_dir(prefix: str) -> str:
    import atexit
    import shutil
    import tempfile

    if not _SCRATCH_DIRS:
        atexit.register(
            lambda: [shutil.rmtree(d, ignore_errors=True)
                     for d in _SCRATCH_DIRS]
        )
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(d)
    return d


@contextlib.contextmanager
def pinned_shuffle_partitions(spark: SparkSession, n: int = 4):
    """Pin ``spark.sql.shuffle.partitions`` for a streaming gate/bench
    entry and ALWAYS restore the previous value — the whole entry body
    (parquet footer sniffing, sentinel staging, plan construction, the
    run itself) executes inside the ``try``, so an exception anywhere
    can no longer leave the shared session pinned at the streaming
    state-parallelism value for every subsequent batch query.

    Why 4: every stateful operator writes one delta file per state
    partition per micro-batch, so at test scale few partitions keep
    the commit cost down. A 1000-executor deployment raises this with
    cluster size — it is the state parallelism knob, locked into the
    checkpoint at first run."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def read_events_stream(
    spark: SparkSession,
    path: str,
    schema: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source (S1/S4 test stand-in; production
    would be ``format("kafka")`` — same downstream plan)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def qualifying_windows_stream(
    events: DataFrame,
    length_s: int,
    slide_s: int,
    watermark_delay: str = "0 seconds",
    ts_col: str = "ts",
    user_col: str = "user_id",
    hr_pred=None,
    bp_pred=None,
) -> DataFrame:
    """Watermarked sliding-window existential-flag aggregation; emits
    one row per qualifying (window, user) with the window's event-time
    (``wt``) for downstream chaining."""
    hr_q = hr_pred if hr_pred is not None else (
        (F.col("event_type") == "hr") & (F.col("value") > HR_THRESHOLD)
    )
    bp_q = bp_pred if bp_pred is not None else (
        (F.col("event_type") == "bp") & (F.col("value") < BP_THRESHOLD)
    )
    return (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.window(ts_col, f"{length_s} seconds", f"{slide_s} seconds"),
            user_col,
        )
        .agg(
            F.max(hr_q.cast("int")).alias("has_high_hr"),
            F.max(bp_q.cast("int")).alias("has_low_bp"),
        )
        .where((F.col("has_high_hr") == 1) & (F.col("has_low_bp") == 1))
        .select(F.col(user_col), F.window_time("window").alias("wt"),
                F.col("window"))
    )


def alert_stream_raw(
    events: DataFrame,
    length_s: int,
    slide_s: int,
    watermark_delay: str = "0 seconds",
    **kw,
) -> DataFrame:
    """The reference's UNthrottled ``alertStream``
    (`BiometricAlertStreamProcessor.scala:56-66`): one alert row per
    (sliding window, user) while the window still contains a
    qualifying hr×bp pair. Run with ``outputMode("update")`` to get
    the DStream cadence `README.md:93-131` documents — every
    micro-batch re-emits the rows it touched, so a user in a
    persistent alarm state prints again slide after slide; chain the
    session dedup (``alerts_stream``) for the once-per-episode
    variant (`README.md:133-159`, the updateStateByKey cure)."""
    qual = qualifying_windows_stream(
        events, length_s, slide_s, watermark_delay, **kw
    )
    return qual.select(
        "user_id",
        F.col("window.start").alias("window_start"),
        F.format_string(
            "User %d has a problem", F.col("user_id")
        ).alias("message"),
    )


def alerts_stream(
    events: DataFrame,
    length_s: int,
    slide_s: int,
    cooldown_s: int,
    watermark_delay: str = "0 seconds",
    **kw,
) -> DataFrame:
    """Full throttled alert stream (append mode). One alert per
    episode: qualifying windows ≤ cooldown apart merge into one
    session; the alert carries the FIRST qualifying window's time."""
    qual = qualifying_windows_stream(
        events, length_s, slide_s, watermark_delay, **kw
    )
    sessions = (
        qual.groupBy(
            F.session_window(F.col("wt"), f"{cooldown_s + 1} seconds"),
            "user_id",
        )
        .agg(F.min("wt").alias("alert_wt"), F.count("*").alias("n_windows"))
    )
    return sessions.select(
        "user_id",
        F.col("alert_wt").alias("alert_ts"),
        "n_windows",
        F.format_string("User %d has a problem", F.col("user_id")).alias("message"),
    )


def interval_pairs_stream(
    events: DataFrame,
    tolerance_s: int,
    watermark_delay: str = "0 seconds",
    hr_pred=None,
    bp_pred=None,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream time-range join of the hr and bp slices — the
    Kafka Streams ``JoinWindows`` pairing (J2/W5). ``how`` supports
    the reference's ``outerJoin`` too (`README.md` Kafka section):
    with ``left_outer``/``full_outer``, an unmatched row is held in
    the join state until BOTH watermarks pass its match window, then
    emitted once with nulls — Spark's state-cleanup-driven null
    emission, golden-tested in test_streaming_outer_join.py.

    Scale: each side's state is time-bounded (tolerance + watermark
    delay) and GC'd; both sides shuffle once on user_id."""
    hr_q = hr_pred if hr_pred is not None else (
        (F.col("event_type") == "hr") & (F.col("value") > HR_THRESHOLD)
    )
    bp_q = bp_pred if bp_pred is not None else (
        (F.col("event_type") == "bp") & (F.col("value") < BP_THRESHOLD)
    )
    hr = (
        events.where(hr_q)
        .select(
            "user_id",
            F.col("ts").alias("hr_ts"),
            F.col("value").alias("hr_value"),
        )
        .withWatermark("hr_ts", watermark_delay)
    )
    bp = (
        events.where(bp_q)
        .select(
            F.col("user_id").alias("bp_user"),
            F.col("ts").alias("bp_ts"),
            F.col("value").alias("bp_value"),
        )
        .withWatermark("bp_ts", watermark_delay)
    )
    return hr.join(
        bp,
        F.expr(
            f"user_id = bp_user AND bp_ts BETWEEN "
            f"hr_ts - INTERVAL {tolerance_s} SECONDS AND "
            f"hr_ts + INTERVAL {tolerance_s} SECONDS"
        ),
        how,
    )


def alerts_stream_interval(
    events: DataFrame,
    tolerance_s: int,
    cooldown_s: int,
    watermark_delay: str = "0 seconds",
    hr_pred=None,
    bp_pred=None,
) -> DataFrame:
    """The ALTERNATE plan (SURVEY §7.2 step 5, the Kafka J2/W5 shape,
    `KafkaBiometricAlertStreamProcessor.scala:42-51`): stream-stream
    interval join — qualifying hr×bp pairs with |hr_ts − bp_ts| ≤
    tolerance per user — then chained session-window episode dedup.

    Equivalence: for second-aligned events and slide 1 s, "both in
    some sliding (L, 1) window" ⟺ "|Δts| ≤ L − 1", so this plan with
    ``tolerance_s = L − 1`` yields the same alert episodes as
    ``alerts_stream`` (hypothesis-tested). With coarser slides the
    window plan's reach depends on epoch alignment (between L−S and
    L−1), while the interval predicate is alignment-free — pick the
    tolerance to taste; the pairing semantics here match Kafka's
    ``JoinWindows.of`` exactly.

    Scale: the join state holds each side for ``tolerance`` +
    watermark delay (time-bounded buffers, GC'd by the two
    watermarks); shuffle is on user_id for both sides. Join-then-
    window-agg chaining is native in Spark 3.5+.
    """
    pairs = interval_pairs_stream(
        events, tolerance_s, watermark_delay, hr_pred, bp_pred
    )
    sessions = (
        pairs.groupBy(
            F.session_window("hr_ts", f"{cooldown_s + 1} seconds"), "user_id"
        )
        .agg(F.min("hr_ts").alias("alert_ts"), F.count("*").alias("n_pairs"))
    )
    return sessions.select(
        "user_id", "alert_ts", "n_pairs",
        F.format_string("User %d has a problem", F.col("user_id")).alias("message"),
    )


#: Reserved sentinel identity: a user_id no real fixture row uses and
#: an event_type matching neither biometric predicate, so the sentinel
#: advances the watermark without ever producing a qualifying window.
SENTINEL_USER_ID = -1
#: Far-future event time in MICROSECONDS (≈ year 2191, well inside
#: int64/Spark timestamp range and past any fixture ts + window +
#: cooldown). Scaled to the source file's native unit when staged.
SENTINEL_TS_MICROS = 7_000_000_000_000_000


def _events_ts_unit(events_path: str) -> str:
    """Sniff the parquet footer's ``ts`` unit. The driver's testdata
    has shipped ``ts`` as both TIMESTAMP(NANOS) (rounds 1-3) and
    TIMESTAMP(MICROS); the streaming file source must declare a
    read schema up front, so adapt to whichever unit is on disk."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(events_path).schema_arrow.field("ts").type.unit


def _events_stream_source(
    spark: SparkSession, path: str, glob: str, ts_unit: str
) -> DataFrame:
    """Streaming events source with a proper microsecond TimestampType
    ``ts`` regardless of the on-disk unit. NANOS needs the legacy
    nanos-as-long read + integer ``div`` rebuild (going through DOUBLE
    would lose precision: 1.7e18 does not fit a 53-bit mantissa);
    MICROS reads natively as TimestampType."""
    if ts_unit == "ns":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
        schema = ("event_id long, ts long, user_id long, "
                  "event_type string, value double, props string")
        return (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", glob)
            .parquet(path)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .parquet(path)
    )


def _staged_events_dir_with_sentinel(sf_dir: str, ts_unit: str) -> str:
    """Stage a temp streaming-source dir holding (a) a symlink to the
    real ``events.parquet`` and (b) a one-row far-future sentinel file
    with the identical Arrow schema. Reading BOTH in the first
    micro-batch pushes the final watermark past every real session's
    end + gap, so append mode flushes ALL episodes — the watermark-
    flush sentinel that makes the streaming output equal the batch
    relation exactly (no held-back tail sessions)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    staged = scratch_dir("bspe_src_")
    os.symlink(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(staged, "events.parquet"),
    )
    ts_val = (SENTINEL_TS_MICROS * 1000 if ts_unit == "ns"
              else SENTINEL_TS_MICROS)
    sentinel = pa.table({
        "event_id": pa.array([-1], pa.int64()),
        "ts": pa.array([ts_val], pa.timestamp(ts_unit)),
        "user_id": pa.array([SENTINEL_USER_ID], pa.int64()),
        "event_type": pa.array(["__sentinel__"], pa.string()),
        "value": pa.array([0.0], pa.float64()),
        "props": pa.array(["{}"], pa.string()),
    })
    pq.write_table(sentinel, os.path.join(staged, "zz_sentinel.parquet"))
    return staged


#: State partitions of the entries whose operator is a Python keyed
#: state machine. They invert the windowed-aggregate tuning: the
#: per-key Arrow/state round-trips parallelize across Python workers,
#: so more partitions win until the state-commit cost bites (measured
#: at sf0.1: 2→6.3 s, 4→4.6 s, 8→3.9 s, 16→3.9 s, 32→5.5 s). 8 is the
#: knee; the declarative entries keep 4.
PYTHON_STATE_PARTITIONS = 8


def _drain_events(
    spark: SparkSession, sf_dir: str, build, *,
    state_partitions: int = 4, sentinel: bool = False,
    output_mode: str = "append",
) -> DataFrame:
    """Stream ``sf_dir``'s events table through ``build`` (a function
    from the events stream to the streaming result) into a memory sink
    and return the sink's table.

    The whole run, ``build`` included, has
    ``spark.sql.shuffle.partitions`` pinned to ``state_partitions``
    (restored afterwards, also on error). With ``sentinel`` the source
    also holds the watermark-flush sentinel
    (``_staged_events_dir_with_sentinel``) and the sentinel user's
    rows are filtered from the result."""
    import os
    import uuid

    with pinned_shuffle_partitions(spark, state_partitions):
        ts_unit = _events_ts_unit(os.path.join(sf_dir, "events.parquet"))
        if sentinel:
            src = _events_stream_source(
                spark, _staged_events_dir_with_sentinel(sf_dir, ts_unit),
                "*.parquet", ts_unit,
            )
        else:
            src = _events_stream_source(
                spark, sf_dir, "events.parquet", ts_unit
            )
        out = run_stream_to_memory(
            build(src), "events_stream_" + uuid.uuid4().hex[:8],
            scratch_dir("bspe_ckpt_"), output_mode=output_mode,
        )
    if sentinel:
        out = out.where(F.col("user_id") != SENTINEL_USER_ID)
    return out


def biometric_alerts_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline run through Structured Streaming over the
    driver's events table. A watermark-flush sentinel (one synthetic
    far-future event for the reserved ``SENTINEL_USER_ID``, matching
    neither biometric predicate) rides along in the first micro-batch:
    after it, the no-data flush batch closes every session, so append
    mode emits exactly the batch ``alerts_throttled`` relation — which
    is therefore this entry's DuckDB hash oracle. Output
    (user_id, alert_epoch, message).

    The sentinel never reaches the output: its event_type matches
    neither the hr nor the bp predicate, so no (window, sentinel-user)
    row survives the existential-flag filter; a belt-and-braces
    user_id filter guards the contract anyway."""
    import os as _os
    import uuid

    from pyspark.sql import functions as F

    from ..plans.biometric import (
        BP_TYPE,
        COOLDOWN_S,
        HR_TYPE,
        SLIDE_S,
        WINDOW_S,
    )

    with pinned_shuffle_partitions(spark):
        ts_unit = _events_ts_unit(_os.path.join(sf_dir, "events.parquet"))
        # No maxFilesPerTrigger: both files (events + sentinel) must
        # land in ONE micro-batch — were the sentinel processed first
        # on its own, the watermark would jump ahead and drop every
        # real event as late.
        src = _events_stream_source(
            spark, _staged_events_dir_with_sentinel(sf_dir, ts_unit),
            "*.parquet", ts_unit,
        )
        alerts = alerts_stream(
            src,
            WINDOW_S,
            SLIDE_S,
            COOLDOWN_S,
            watermark_delay="0 seconds",
            hr_pred=(F.col("event_type") == HR_TYPE) & (F.col("value") > 100),
            bp_pred=(F.col("event_type") == BP_TYPE) & (F.col("value") < 100),
        )
        name = "stream_alerts_" + uuid.uuid4().hex[:8]
        out = run_stream_to_memory(
            alerts, name, scratch_dir("bspe_ckpt_")
        )
    # alert_wt is the first qualifying window's event-time (end - 1μs);
    # recover the window START epoch to match the batch twin's shape.
    return out.where(F.col("user_id") != SENTINEL_USER_ID).select(
        "user_id",
        (F.unix_timestamp("alert_ts") + 1 - WINDOW_S).alias("alert_epoch"),
        "message",
    )


def alert_windows_update_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-contract entry for the UPDATE-mode surface: the raw
    (unthrottled) alert stream run through the streaming engine in
    update mode over the events table. With the single-file source
    the whole table is one micro-batch, so the emission log contains
    each qualifying (window, user) exactly once — the same relation
    as the batch ``alert_windows`` query, which is therefore its
    DuckDB oracle (multi-batch cadence — re-emission per touched
    slide — is golden-tested in test_streaming_update_mode.py).
    Output (wstart, user_id) epoch-seconds, matching the oracle."""
    import os as _os
    import uuid

    from ..plans.biometric import BP_TYPE, HR_TYPE, SLIDE_S, WINDOW_S

    with pinned_shuffle_partitions(spark):
        events_path = _os.path.join(sf_dir, "events.parquet")
        src = _events_stream_source(
            spark, sf_dir, "events.parquet", _events_ts_unit(events_path)
        )
        raw = alert_stream_raw(
            src, WINDOW_S, SLIDE_S,
            hr_pred=(F.col("event_type") == HR_TYPE) & (F.col("value") > 100),
            bp_pred=(F.col("event_type") == BP_TYPE) & (F.col("value") < 100),
        )
        name = "upd_alerts_" + uuid.uuid4().hex[:8]
        out = run_stream_to_memory(
            raw, name, scratch_dir("bspe_upd_"),
            output_mode="update",
        )
    return out.select(
        F.unix_timestamp("window_start").alias("wstart"), "user_id"
    )


def alert_windows_complete_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-contract entry for the COMPLETE-mode surface (the third
    output mode, `README.md:93-131` cadence family): the raw alert
    aggregation run in complete mode, where every micro-batch re-emits
    the ENTIRE result table (the memory sink keeps the latest full
    snapshot). With the single-file source the snapshot after the one
    micro-batch IS the full qualifying-windows relation — the same
    relation as batch ``alert_windows``, which is therefore its DuckDB
    oracle (multi-batch full-table re-emission cadence is golden-tested
    in test_output_modes_sql.py). Output (wstart, user_id).

    Scale note: complete mode retains ALL aggregation state forever by
    design (no watermark GC) — correct for bounded-cardinality
    dashboards, a deliberate non-choice for the 100 TB event firehose
    where update/append + watermark is the scalable mode."""
    import os as _os
    import uuid

    from ..plans.biometric import BP_TYPE, HR_TYPE, SLIDE_S, WINDOW_S

    with pinned_shuffle_partitions(spark):
        events_path = _os.path.join(sf_dir, "events.parquet")
        src = _events_stream_source(
            spark, sf_dir, "events.parquet", _events_ts_unit(events_path)
        )
        raw = alert_stream_raw(
            src, WINDOW_S, SLIDE_S,
            hr_pred=(F.col("event_type") == HR_TYPE) & (F.col("value") > 100),
            bp_pred=(F.col("event_type") == BP_TYPE) & (F.col("value") < 100),
        )
        name = "cmp_alerts_" + uuid.uuid4().hex[:8]
        out = run_stream_to_memory(
            raw, name, scratch_dir("bspe_cmp_"),
            output_mode="complete",
        )
    return out.select(
        F.unix_timestamp("window_start").alias("wstart"), "user_id"
    )


def streaming_dedup_canonicals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming TRAINING-DATA ingestion dedup (the LLM-pipeline
    operators run through the streaming engine, not just batch): the
    documents table read as a stream, grouped by content hash with
    canonical-id/count aggregation in complete mode — the incremental
    form of ``operators/dedup.exact_dup_groups``. With the single-file
    source the final snapshot equals the batch relation, which is the
    DuckDB oracle; multi-batch incremental behavior (a duplicate
    arriving in a later batch folds into its group) is golden-tested
    in test_streaming_dedup.py.

    Scale: state is one (hash → min-id, count) entry per DISTINCT
    content — the md5 shuffles, never the text. Complete mode is the
    bounded-output choice here (the dedup registry IS the result); an
    unbounded-output deployment would switch to update mode +
    ``foreachBatch`` merge into the registry table with the identical
    plan."""
    import uuid

    with pinned_shuffle_partitions(spark):
        schema = ("doc_id long, text string, lang string, source string, "
                  "n_chars long")
        src = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
        agg = src.groupBy(F.md5("text").alias("content_hash")).agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_docs"),
        )
        name = "dedup_stream_" + uuid.uuid4().hex[:8]
        out = run_stream_to_memory(
            agg, name, scratch_dir("bspe_ddp_"),
            output_mode="complete",
        )
    return out


def streaming_dedup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNBOUNDED-output twin of ``streaming_dedup_canonicals``:
    the same content-hash registry aggregation run in UPDATE mode with
    a ``foreachBatch`` upsert — the deployment shape when the registry
    is too large for complete-mode re-emission. Update mode emits only
    the (hash → min-id, count) rows each micro-batch TOUCHED; the sink
    merges them by key, so store state == the full registry while each
    emission is O(batch), not O(registry).

    Round-17 rework (VERDICT_r16 #2, in its front window): this entry
    now runs the PRODUCTION registry shape end-to-end —
    ``sinks.idempotent_keyed_upsert_writer`` merges each batch's
    touched keys into a versioned parquet-backed keyed store
    (last-write-wins per key, exactly-once under forced batch replay:
    tests/test_exactly_once_sink.py drives the real crash window) and
    ``sinks.read_keyed_registry`` serves the newest committed
    version. Zero ``collect()`` on this path; the registry never
    transits the driver, so billions of keys stream through executor
    partitions — a transactional MERGE INTO at deployment scale
    (the persistent-store semantics the reference claims via
    changelogged state stores + transactional producers,
    `Kafka.scala:67-72`). The old driver-dict harness remains only as
    the documented demonstration helper ``dedup_registry_merge``.
    Single-batch source ⇒ final registry equals the batch
    ``dedup_exact`` relation (the DuckDB oracle); multi-batch
    incremental folding through the production store is golden-tested
    in test_streaming_dedup.py."""
    with pinned_shuffle_partitions(spark):
        schema = ("doc_id long, text string, lang string, source string, "
                  "n_chars long")
        src = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
        out = dedup_merge_to_keyed_store(src, scratch_dir("bspe_ddm_"))
    return out


def dedup_merge_to_keyed_store(src: DataFrame, root: str) -> DataFrame:
    """PRODUCTION registry fold: aggregate a streaming documents
    source into the content-hash registry and upsert each update-mode
    micro-batch's touched keys into the versioned keyed store
    (``sinks.idempotent_keyed_upsert_writer`` under
    ``root/registry``, checkpoint under ``root/ckpt``); returns the
    newest committed registry version via
    ``sinks.read_keyed_registry``. Exactly-once under batch replay
    (the store rewrites ``version=N`` from the newest version below
    N); multi-batch incremental folding is golden-tested in
    test_streaming_dedup.py, the crash-window replay in
    test_exactly_once_sink.py. Empty source ⇒ no committed version ⇒
    empty relation (the only legitimately-empty case — real read
    errors propagate)."""
    import os

    from .sinks import idempotent_keyed_upsert_writer, read_keyed_registry

    spark = src.sparkSession
    agg = src.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("n_docs"),
    )
    store = os.path.join(root, "registry")
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(
            idempotent_keyed_upsert_writer(store, ["content_hash"])
        )
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    try:
        registry = read_keyed_registry(spark, store)
    except FileNotFoundError:
        return spark.createDataFrame(
            [],
            "content_hash string, canonical_doc_id long, n_docs long",
        )
    return registry.select("content_hash", "canonical_doc_id", "n_docs")


def streaming_interval_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream time-range INNER join (J2/W5, Kafka
    ``JoinWindows`` core) as a driver-gate entry: the events table
    streamed through ``interval_pairs_stream`` with the SAME
    predicates/tolerance as the batch twin
    (``plans/events_ops.interval_join_pairs``), whose DuckDB oracle it
    therefore shares.

    Parity detail: the batch predicate compares FLOORED epoch seconds
    (``abs(floor(a) − floor(b)) ≤ TOL``) while the stream-stream join
    ranges over raw timestamps, and the testdata carries sub-second
    components — so event time is truncated to second granularity
    BEFORE the join (``date_trunc``), making the two predicates
    identical. No sentinel is needed: inner-join matches emit eagerly
    per micro-batch (append output); the watermark exists to bound
    join state, not to release inner results."""
    import os
    import uuid

    from ..plans.events_ops import INTERVAL_TOL_S

    with pinned_shuffle_partitions(spark):
        ts_unit = _events_ts_unit(os.path.join(sf_dir, "events.parquet"))
        src = _events_stream_source(spark, sf_dir, "events.parquet", ts_unit)
        ev = src.withColumn("ts", F.date_trunc("second", F.col("ts")))
        pairs = interval_pairs_stream(
            ev,
            INTERVAL_TOL_S,
            watermark_delay="0 seconds",
            hr_pred=(F.col("event_type") == "error") & (F.col("value") > 100),
            bp_pred=(F.col("event_type") == "view") & (F.col("value") < 100),
        )
        name = "ivj_stream_" + uuid.uuid4().hex[:8]
        out = run_stream_to_memory(
            pairs, name, scratch_dir("bspe_ivj_")
        )
    return out.select(
        "user_id",
        F.unix_timestamp("hr_ts").alias("hr_es"),
        F.round("hr_value", 2).alias("hr_value"),
        F.unix_timestamp("bp_ts").alias("bp_es"),
        F.round("bp_value", 2).alias("bp_value"),
    )


def streaming_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7's NATIVE ``session_window`` run through the STREAMING engine
    (the batch twin is ``plans/events_ops.native_session_stats``,
    whose DuckDB gaps-and-islands oracle this entry shares): per-user
    sessions over the events stream, closed and emitted in append mode
    by the watermark-flush sentinel (same mechanism as the flagship —
    without it the final sessions would sit in state forever).

    Scale: state is one (user, open-session) row — merge-on-arrival,
    watermark-GC'd; the shuffle is the session_window groupBy on
    user_id. The sentinel user's own session is filtered from the
    output."""
    import os
    import uuid

    from ..operators.windows import epoch_seconds
    from ..plans.events_ops import SESSION_GAP_S

    with pinned_shuffle_partitions(spark):
        ts_unit = _events_ts_unit(os.path.join(sf_dir, "events.parquet"))
        src = _events_stream_source(
            spark, _staged_events_dir_with_sentinel(sf_dir, ts_unit),
            "*.parquet", ts_unit,
        )
        agg = (
            src.withWatermark("ts", "0 seconds")
            .groupBy(
                F.session_window("ts", f"{SESSION_GAP_S} seconds"), "user_id"
            )
            .agg(F.count("*").alias("n_events"))
        )
        name = "sess_stream_" + uuid.uuid4().hex[:8]
        out = run_stream_to_memory(
            agg, name, scratch_dir("bspe_ses_")
        )
    return out.where(F.col("user_id") != SENTINEL_USER_ID).select(
        "user_id",
        epoch_seconds(F.col("session_window.start")).alias("start_es"),
        "n_events",
    )


def streaming_enriched_segment_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-STATIC join: the events stream enriched against the
    static ``customer`` dimension (user_id = c_custkey) and
    aggregated per (market segment, event type) in complete mode —
    the standard streaming-enrichment deployment shape (dimension
    broadcast to every micro-batch; no state held for the static
    side). Single-batch source ⇒ the final snapshot equals the batch
    join+agg relation, which is the DuckDB oracle.

    Scale: the static side is re-planned per micro-batch and
    broadcast when under the threshold — exactly the batch broadcast
    story; the streaming state is one row per (segment, type) group.
    The exact-decimal sum keeps the double aggregate
    order-independent (``plans/events_ops.dsum``).

    Measurement and registration history: ``OPTIMIZATION_r19.md``."""
    from ..plans.events_ops import dsum
    from ..sources.readers import load_table

    def build(src: DataFrame) -> DataFrame:
        dim = load_table(spark, sf_dir, "customer").select(
            "c_custkey", F.col("c_mktsegment").alias("segment")
        )
        enriched = src.join(
            dim, src["user_id"] == dim["c_custkey"], "inner"
        )
        # no countDistinct here: distinct aggregation is unsupported on
        # streaming frames (it needs per-group member state; Spark
        # offers approx_count_distinct instead, which has no exact
        # oracle)
        return enriched.groupBy("segment", "event_type").agg(
            F.count("*").alias("n_events"),
            dsum(F.col("value"), "sum_value"),
        )

    return _drain_events(spark, sf_dir, build, output_mode="complete")


def streaming_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary tracking through the STREAMING engine: the
    documents stream exploded to words, counted, and re-ranked in
    COMPLETE mode — the live "trending terms" deployment shape (sort +
    limit are legal in complete mode because each emission is the full
    re-ranked snapshot). Single-batch source ⇒ the final snapshot
    equals the batch term-frequency top-k.

    The batch twin (``plans/corpus_ops.vocab_topk``) also reports
    document frequency; ``countDistinct`` is unsupported on streaming
    frames (see ``streaming_enriched_segment_counts``), so the
    streaming vocabulary is tf-only by design — its oracle ranks by
    the same (tf desc, word asc) total order."""
    import uuid

    from ..plans.corpus_ops import VOCAB_TOPK

    from ..functions.text import words as _words

    with pinned_shuffle_partitions(spark):
        schema = ("doc_id long, text string, lang string, source string, "
                  "n_chars long")
        src = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
        top = (
            src.select(F.explode(_words(F.col("text"))).alias("word"))
            .groupBy("word")
            .agg(F.count("*").alias("tf"))
            .orderBy(F.desc("tf"), F.asc("word"))
            .limit(VOCAB_TOPK)
        )
        name = "vocab_stream_" + uuid.uuid4().hex[:8]
        out = run_stream_to_memory(
            top, name, scratch_dir("bspe_voc_"),
            output_mode="complete",
        )
    return out


def streaming_native_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE streaming deduplication (`dropDuplicatesWithinWatermark`,
    the engine's built-in twin of the custom registry/foreachBatch
    dedup entries) over REAL duplicate traffic: the staged source
    holds the events file TWICE, so every event arrives twice and the
    operator must collapse each pair on ``event_id``. State per key
    is dropped once the watermark passes the event time plus the
    delay — the bounded-state contract that distinguishes this from
    plain ``dropDuplicates`` (whose state never expires; the operator
    exists precisely for the at-least-once-source dedup deployment).
    The deduplicated emission equals the batch events relation —
    exact-integer columns so the oracle hash-matches. ROUND-6 GATE
    QUEUE."""
    import os
    import uuid

    with pinned_shuffle_partitions(spark):
        ts_unit = _events_ts_unit(os.path.join(sf_dir, "events.parquet"))
        staged = scratch_dir("bspe_dup2_")
        for alias in ("ev_a.parquet", "ev_b.parquet"):
            os.symlink(
                os.path.join(sf_dir, "events.parquet"),
                os.path.join(staged, alias),
            )
        src = _events_stream_source(spark, staged, "*.parquet", ts_unit)
        dd = (
            src.withWatermark("ts", "0 seconds")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select(
                "event_id", "user_id", "event_type",
                F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
                F.round(F.col("value") * 100).cast("long").alias("cents"),
            )
        )
        name = "ndd_stream_" + uuid.uuid4().hex[:8]
        out = run_stream_to_memory(dd, name, scratch_dir("bspe_ndd_"))
    return out


#: streaming approx-distinct bounded check: default HLL++ rsd = 5%,
#: accept 3σ relative error with a small absolute slack for tiny groups
APPROX_USERS_REL = 0.15
APPROX_USERS_ABS = 3


def streaming_approx_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROXIMATE DISTINCT on streams: hourly tumbling windows per
    event type with ``approx_count_distinct(user_id)`` — exact
    ``countDistinct`` is UNSUPPORTED on streaming frames (its state
    would be the full value set per group), so the HLL++ sketch IS
    the stream-native cardinality path; its per-group state is the
    fixed-size sketch regardless of user count — the property that
    makes it deployable at 100 TB/day. Complete-mode snapshot over
    the single-batch source.

    Bounded oracle (the approx_distinct_bounds pattern — sketches
    differ across engines): the STREAMED estimate is compared against
    the exact batch distinct per (window, type) and the oracled value
    is the tolerance check (3σ of the 5% default rsd + small-group
    slack).

    Measurement and registration history: ``OPTIMIZATION_r19.md``."""
    from ..operators.windows import tumbling_window_start
    from ..sources.readers import load_table

    out = _drain_events(
        spark, sf_dir,
        lambda src: (
            src.groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.approx_count_distinct("user_id").alias("_approx"))
        ),
        output_mode="complete",
    )
    streamed = out.select(
        F.unix_timestamp(F.col("window.start")).alias("wstart"),
        "event_type", "_approx",
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            tumbling_window_start(F.col("ts"), 3600).alias("wstart"),
            "event_type",
        )
        .agg(F.countDistinct("user_id").alias("_exact"))
    )
    tol = F.greatest(
        F.ceil(APPROX_USERS_REL * F.col("_exact")),
        F.lit(APPROX_USERS_ABS),
    )
    return streamed.join(exact, ["wstart", "event_type"]).select(
        "wstart", "event_type",
        (F.abs(F.col("_approx") - F.col("_exact")) <= tol)
        .alias("est_ok"),
    )


def streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars — the candlestick twin of
    ``plans/timeseries_ops.event_type_ohlc``, whose exact oracle it
    shares: 15-minute tumbling windows per event type with
    ``min_by``/``max_by`` over the (us, event_id) total order picking
    open/close under STREAMING aggregation state (they are ordinary
    declarative aggregates — per-group state is the running
    (value, orderkey) pair, O(1) like min/max, never a row list).
    Complete-mode snapshot over the single-batch source equals the
    batch relation; cross-batch fold-in follows from the aggregate's
    merge semantics (same engine machinery as every windowed agg twin
    here). ROUND-7 QUEUE (registers round 8)."""
    import os
    import uuid

    from ..plans.timeseries_ops import OHLC_BAR_S

    with pinned_shuffle_partitions(spark):
        ts_unit = _events_ts_unit(os.path.join(sf_dir, "events.parquet"))
        src = _events_stream_source(
            spark, sf_dir, "events.parquet", ts_unit
        )
        keyed = src.select(
            "event_type", "ts",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            F.struct(
                F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
                F.col("event_id"),
            ).alias("_ord"),
        )
        agg = keyed.groupBy(
            F.window("ts", f"{OHLC_BAR_S} seconds"), "event_type"
        ).agg(
            F.min_by("cents", F.col("_ord")).alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.max_by("cents", F.col("_ord")).alias("close_cents"),
            F.count("*").alias("n_events"),
        )
        name = "ohlc_stream_" + uuid.uuid4().hex[:8]
        out = run_stream_to_memory(
            agg, name, scratch_dir("bspe_ohlc_"), output_mode="complete"
        )
    return out.select(
        "event_type",
        F.unix_timestamp(F.col("window.start")).alias("bar_es"),
        "open_cents", "high_cents", "low_cents", "close_cents",
        "n_events",
    )


def streaming_abandoned_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ABSENCE detection (`A NOT FOLLOWED BY B WITHIN T`) —
    the CEP-negation twin of ``plans/events_ops.abandoned_clicks``,
    whose exact-microsecond DuckDB oracle it shares: clicks with no
    purchase by the same user within the horizon, emitted by EVENT-TIME
    TIMER expiry in ``state.absence_stream`` (applyInPandasWithState).
    This is the repo's first timer-driven 1-to-0/1 stateful emission —
    a row exists precisely because nothing arrived — i.e. the canonical
    "unacked alert" deployment.

    The watermark-flush sentinel survives the input filter via
    ``keep_pred`` (a pre-watermark filter would drop it and the clock
    would never pass the last horizon); it is neither trigger nor
    resolver, so it contributes only its far-future event time, which
    expires every pending trigger. Cross-batch cadence (resolver in a
    later batch, timer firing with no further data for the key) is
    golden-tested in test_streaming_absence.py."""
    import os
    import uuid

    from ..plans.events_ops import ABANDON_T_S
    from .state import absence_stream

    # Python-STATEFUL entries invert the windowed-agg tuning: the
    # per-key Arrow/state round-trips parallelize across Python
    # workers, so MORE partitions win until state-commit overhead
    # bites (measured at sf0.1: 2→6.3 s, 4→4.6 s, 8→3.9 s, 16→3.9 s,
    # 32→5.5 s). 8 is the knee; the declarative entries keep 4.
    with pinned_shuffle_partitions(spark, 8):
        ts_unit = _events_ts_unit(os.path.join(sf_dir, "events.parquet"))
        src = _events_stream_source(
            spark, _staged_events_dir_with_sentinel(sf_dir, ts_unit),
            "*.parquet", ts_unit,
        )
        out = absence_stream(
            src,
            trigger_type="click",
            resolve_type="purchase",
            horizon_s=ABANDON_T_S,
            keep_pred=F.col("event_type") == "__sentinel__",
        )
        name = "abs_stream_" + uuid.uuid4().hex[:8]
        out = run_stream_to_memory(out, name, scratch_dir("bspe_abs_"))
    return out.where(F.col("user_id") != SENTINEL_USER_ID).select(
        "event_id", "user_id", "click_us"
    )


def streaming_outer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream FULL OUTER interval join as a driver-gate
    entry (J1's streaming form — Kafka Streams ``outerJoin``,
    `KafkaBiometricAlertStreamProcessor.scala:42-51` via `README.md`'s
    Kafka section): matched hr×bp pairs emit eagerly; an unmatched row
    is HELD in join state until both watermarks pass its match window,
    then emitted exactly once with nulls — the state-cleanup-driven
    null emission a hash oracle should pin (golden-tested cadence in
    test_streaming_outer_join.py; this entry pins the VALUES).

    Sentinel mechanics: null emission only happens once the watermark
    passes, and each side's watermark is driven by rows that SURVIVE
    that side's pre-join filter — so the far-future sentinel must
    qualify on BOTH sides (it matches only itself: reserved user, and
    the self-pair is filtered from the output). Second-granularity
    event time (date_trunc pre-join) keeps the raw-timestamp BETWEEN
    predicate equal to the batch floored-seconds oracle."""
    import os
    import uuid

    from ..plans.events_ops import INTERVAL_TOL_S

    with pinned_shuffle_partitions(spark):
        ts_unit = _events_ts_unit(os.path.join(sf_dir, "events.parquet"))
        src = _events_stream_source(
            spark, _staged_events_dir_with_sentinel(sf_dir, ts_unit),
            "*.parquet", ts_unit,
        )
        ev = src.withColumn("ts", F.date_trunc("second", F.col("ts")))
        sent = F.col("event_type") == "__sentinel__"
        pairs = interval_pairs_stream(
            ev,
            INTERVAL_TOL_S,
            watermark_delay="0 seconds",
            hr_pred=((F.col("event_type") == "error")
                     & (F.col("value") > 100)) | sent,
            bp_pred=((F.col("event_type") == "view")
                     & (F.col("value") < 100)) | sent,
            how="full_outer",
        )
        name = "ovj_stream_" + uuid.uuid4().hex[:8]
        out = run_stream_to_memory(pairs, name, scratch_dir("bspe_ovj_"))
    # the sentinel matches only itself → one (-1, -1) pair; real
    # unmatched rows keep their null side
    return out.where(
        F.coalesce("user_id", "bp_user") != SENTINEL_USER_ID
    ).select(
        "user_id",
        F.unix_timestamp("hr_ts").alias("hr_es"),
        F.round("hr_value", 2).alias("hr_value"),
        F.col("bp_user"),
        F.unix_timestamp("bp_ts").alias("bp_es"),
        F.round("bp_value", 2).alias("bp_value"),
    )


def streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming FUNNEL (CEP ordered-sequence matching) over the
    events table — the streaming twin of
    ``plans/events_ops.funnel_view_click_purchase``, whose DuckDB
    oracle it shares: per user, earliest view → earliest click
    at-or-after → earliest purchase at-or-after, held in five longs
    of keyed state (``state.funnel_stream``; two track the max
    click/purchase second seen, repairing stage-inverted same-second
    ties that straddle batch boundaries — the round-9 kernel fix). With the single-file
    source the whole table is one micro-batch, so the per-batch
    emission equals the batch funnel relation exactly; multi-batch
    progression cadence is golden-tested in test_streaming_funnel.py.

    NOTE (gate registration): implemented and oracled in round 5, but
    the round-5 verdict-bearing prefix is fully occupied by the
    rotation obligation — register this entry in ROUND 6's front
    block (it is never-verified until then, so the CI gate-window
    test forces exactly that)."""
    import os
    import uuid

    from .state import funnel_stream

    # Python-stateful: 8 partitions, see streaming_abandoned_clicks
    with pinned_shuffle_partitions(spark, 8):
        ts_unit = _events_ts_unit(os.path.join(sf_dir, "events.parquet"))
        src = _events_stream_source(
            spark, sf_dir, "events.parquet", ts_unit
        )
        out = funnel_stream(src)
        name = "fun_stream_" + uuid.uuid4().hex[:8]
        out = run_stream_to_memory(out, name, scratch_dir("bspe_fun_"))
    return out


def streaming_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user Z-SCORE ANOMALY flags — the streaming twin
    of ``plans/timeseries_ops.running_zscore_flags``, whose DuckDB
    oracle it shares: every reading scored against the mean/stddev of
    that user's strictly-prior readings, held in THREE LONGS of keyed
    state (``state.zscore_stream``). With the single-file source the
    whole table is one micro-batch and the kernel's (us, event_id)
    sort makes the absorption order equal the batch window's total
    order, so the emission equals the batch relation exactly;
    cross-batch running-state cadence and the late-drop contract are
    golden-tested in test_streaming_zscore.py.

    Measurement and registration history: ``OPTIMIZATION_r19.md``."""
    from ..plans.timeseries_ops import ZSCORE_MIN_PRIOR, ZSCORE_THRESHOLD
    from .state import zscore_stream

    return _drain_events(
        spark, sf_dir,
        lambda src: zscore_stream(src, ZSCORE_MIN_PRIOR, ZSCORE_THRESHOLD),
        state_partitions=PYTHON_STATE_PARTITIONS,
    )


def streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user EWMA — the streaming twin of
    ``plans/timeseries_ops.user_value_ewma``, whose DuckDB oracle it
    shares: the s₁ = v₁, sᵢ = α·vᵢ + (1−α)·sᵢ₋₁ recurrence over
    (us, event_id) order, held in ONE DOUBLE of keyed state
    (``state.ewma_stream``) — the smallest T1-family machine, and the
    streaming complement of the batch kernel's partition-batched
    ``mapInPandas`` carry dict. With the single-file source the whole
    table is one micro-batch and the kernel's sort makes absorption
    order equal the batch total order, so the emission equals the
    batch relation exactly; cross-batch smoothing continuation and
    the late-drop contract are golden-tested in
    test_streaming_ewma.py.

    Measurement and registration history: ``OPTIMIZATION_r19.md``."""
    from ..plans.timeseries_ops import EWMA_ALPHA
    from .state import ewma_stream

    return _drain_events(
        spark, sf_dir, lambda src: ewma_stream(src, EWMA_ALPHA),
        state_partitions=PYTHON_STATE_PARTITIONS,
    )


def streaming_user_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming TEMPORAL BOT-CADENCE PROFILING — the streaming twin
    of ``plans/events_ops.user_cadence_profile``, whose DuckDB oracle
    it shares: per-user inter-arrival moments (n, Σ, Σ² over exact
    integer-ms gaps) held in six longs of keyed state
    (``state.cadence_stream``; Σ² rides as hi/lo longs so the
    near-BIGINT square sum stays exact). Each batch-with-data emits
    the user's current moment snapshot; every moment is monotone, so
    the LATEST snapshot per user — a max(struct) over the memory
    sink — carries the full stream's sums, and the profile derives
    through the SAME ``cadence_finish`` IEEE dag as the batch plan
    (shared code: the two surfaces cannot drift). With the
    single-file source the whole table is one micro-batch and the
    kernel's (us, event_id) sort makes absorption order equal the
    batch total order, so the finished relation equals the batch
    profile exactly; cross-batch moment continuation and the
    same-second tie guard are property-tested in
    tests/test_round10_properties.py and golden-tested in
    test_streaming_cadence.py.

    Measurement and registration history: ``OPTIMIZATION_r19.md``."""
    from ..plans.events_ops import cadence_finish
    from .state import cadence_stream

    out = _drain_events(
        spark, sf_dir, cadence_stream,
        state_partitions=PYTHON_STATE_PARTITIONS,
    )
    latest = out.groupBy("user_id").agg(
        F.max(F.struct("n_gaps", "s2_hi", "s2_lo", "s")).alias("_m")
    )
    agg = latest.select(
        "user_id",
        F.col("_m.n_gaps").alias("n_gaps"),
        F.col("_m.s").alias("_s"),
        (
            F.col("_m.s2_hi").cast("decimal(38,0)")
            * F.lit(10**18).cast("decimal(19,0)")
            + F.col("_m.s2_lo").cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("_s2"),
    )
    return cadence_finish(agg)


def streaming_user_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HOURLY GAP-FILL — the streaming twin of
    ``plans/timeseries_ops.user_hourly_gapfill``, whose DuckDB oracle
    it shares: per user, one row per hour of the active span, closed
    hours and their trailing gap runs emitted INCREMENTALLY on hour
    advance (observed: exact count + cents sum; gaps: n=0, NULL
    observed sum, forward-filled sum, is_gap) and the final open hour
    flushed via event-time timer when the watermark-flush sentinel
    passes ``state.SCD2_FLUSH_AT_MS`` (the SCD-2 cadence — an
    ordinary watermark advance must not flush, the key may still get
    data). Three longs of keyed state (open hour's index/count/sum);
    the spine needs no carry because a gap run's fill value is the
    closing hour's own sum. ORDER-FREE per the state.py ledger:
    hour-bucket sums are commutative, the output is all-integer, so
    same-second cross-batch ties cannot move any field. With the
    single-file staged source the whole table is one micro-batch and
    the emission equals the batch relation exactly — the shared
    oracle. Gap-fill was the one timeseries op with no streaming twin
    (round-10 verdict item 6). ROUND-11 QUEUE (registers round 12).

    Wall (sf0.1, local[32]): 10.5 s cold (QUEUED_BENCH_r11), 8.0 s
    warm best-of-3 — above the 2-4 s Python-stateful class because
    the RELATION is big, not the machine: the hourly spine is
    ~1.05 M rows at sf0.1 (×700 the cadence twin's output); the keyed
    state itself is three longs and the kernel is one dict pass per
    batch. DuckDB replays the same relation in 1.7 s (no state
    machinery — the ratio_report streaming caveat applies).
    State-partition A/B (round 12, warm pairs): 4 → 13.7-14.4 s (the
    big emission SERIALIZES — opposite of the light machines'
    4-is-best rule), 8 → 6.5-7.8 s, 16 → 7.5-8.4 s, 32 → 5.1-9.2 s
    (unstable); 8 stands.

    ROUND-18 SINK REWORK (guide §5 driver-memory bound; the
    streaming_dedup_merge precedent): the memory sink held the whole
    ~1.05 M-row emission ON THE DRIVER (a ``collect()`` in disguise —
    the one remaining unbounded-driver-memory shape in a registered
    path, VERDICT_r17 #3), and its 8→32-core speedup of 1.09×
    confirmed the wall was the driver transfer, not the kernel. Now
    each micro-batch writes straight from the executors through the
    exactly-once ``sinks.idempotent_parquet_writer`` (batch_id=N
    directory, overwritten on replay) and the entry returns the
    read-back relation — zero driver-side rows at any scale. Same
    relation by construction (append-mode emission union == the
    memory table; asserted row-identical at sf0.001 AND sf0.01 via
    exceptAll both ways against the memory-sink form before the
    swap, and the shared hourly-gapfill oracle re-hashes it at the
    gate). Measured (sf0.1, local[32], bench confs): interleaved
    best-of-3 in one session, memory vs parquet — 16.1/10.0/11.4 s
    vs 10.9/8.6/7.1 s (~-30%); fresh-process SINGLE-SHOT pairs
    (3 alternating processes, bench-style warmup) — mem
    8.1/9.3/10.1 s vs pq 8.7/7.8/5.9 s (median -16%). The streaming
    in-bench band is wide (the r17 protocol note), so the structural
    claim — driver memory no longer scales with the spine — is the
    load-bearing one; the wall-clock delta is consistently
    negative."""
    import os

    from .sinks import (
        idempotent_parquet_writer,
        read_idempotent_output,
        start_with_foreach_batch,
    )
    from .state import gapfill_stream

    # Python-stateful: 8 partitions, see streaming_abandoned_clicks
    with pinned_shuffle_partitions(spark, 8):
        ts_unit = _events_ts_unit(os.path.join(sf_dir, "events.parquet"))
        src = _events_stream_source(
            spark, _staged_events_dir_with_sentinel(sf_dir, ts_unit),
            "*.parquet", ts_unit,
        )
        out = gapfill_stream(src)
        out_dir = scratch_dir("bspe_gap_out_")
        q = start_with_foreach_batch(
            out, idempotent_parquet_writer(out_dir),
            scratch_dir("bspe_gap_"),
        )
        q.processAllAvailable()
        q.stop()
        res = read_idempotent_output(spark, out_dir).drop("batch_id")
    return res.where(F.col("user_id") != SENTINEL_USER_ID)


def streaming_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD-2 STATE HISTORY — the streaming twin of
    ``plans/timeseries_ops.user_state_history``, whose DuckDB oracle
    it shares: each user's event stream collapses into maximal
    same-event_type runs, emitted INCREMENTALLY — a run emits the
    moment its successor opens (the CDC-to-dimension pipeline shape),
    and the final open run (valid_to NULL) emits via event-time timer
    when the watermark-flush sentinel passes ``state.SCD2_FLUSH_AT_MS``
    (an ordinary watermark advance must not flush — the key may still
    get data). Cross-batch run continuation and the flush cadence are
    golden-tested in test_streaming_scd2.py.

    Measurement and registration history: ``OPTIMIZATION_r19.md``."""
    from .state import scd2_stream

    return _drain_events(
        spark, sf_dir, scd2_stream,
        state_partitions=PYTHON_STATE_PARTITIONS, sentinel=True,
    )


def dedup_registry_merge(
    src: DataFrame, checkpoint_dir: str
) -> dict[str, tuple[int, int]]:
    """Run the content-hash registry aggregation over a streaming
    documents source in update mode, folding each micro-batch's
    touched rows into a DRIVER-DICT merge target by key (last write
    wins — the emitted row always carries the CURRENT aggregate).
    Returns the final registry.

    DEMONSTRATION HARNESS ONLY (round 17): the registered gate entry
    ``streaming_dedup_merge`` no longer routes through this — it runs
    ``sinks.idempotent_keyed_upsert_writer`` +
    ``sinks.read_keyed_registry``, the production parquet-backed
    versioned store with zero driver-side state. This helper stays as
    the minimal illustration of update-mode merge semantics that
    test_streaming_dedup.py / test_streaming_restart_r8.py exercise
    directly (driver dict ⇒ O(registry) driver memory — never deploy
    this shape)."""
    agg = src.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count("*").alias("n_docs"),
    )
    registry: dict[str, tuple[int, int]] = {}

    def _merge(bdf: DataFrame, _bid: int) -> None:
        for r in bdf.collect():
            registry[r.content_hash] = (r.canonical_doc_id, r.n_docs)

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return registry


def run_stream_to_memory(
    df: DataFrame, name: str, checkpoint_dir: str,
    output_mode: str = "append",
) -> DataFrame:
    """Drive a streaming DataFrame to completion into a memory sink
    (test/driver harness; S7-S9 console sinks become
    ``format("console")`` in production). Returns the batch result.
    With ``output_mode="update"`` the table is the full emission LOG
    (one row per update per micro-batch), i.e. the DStream print
    cadence, not a deduplicated result."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return df.sparkSession.table(name)


def run_stream_update_log(
    df: DataFrame, checkpoint_dir: str
) -> list[tuple[int, list]]:
    """Drive a streaming frame in UPDATE mode via ``foreachBatch``,
    returning the per-micro-batch emission log ``[(batch_id, rows)]``
    — the exact shape of the reference's per-interval console prints
    (`README.md:102-131`). Test harness: the capture closure runs on
    the driver; a production ``foreachBatch`` would write each batch
    idempotently instead (see ``sinks.py``)."""
    log: list[tuple[int, list]] = []

    def _capture(bdf: DataFrame, bid: int) -> None:
        log.append((bid, bdf.collect()))

    q = (
        df.writeStream.outputMode("update")
        .foreachBatch(_capture)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return log


def streaming_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LAST-TOUCH ATTRIBUTION — the streaming twin of
    ``plans/events_ops.purchase_attribution``, whose DuckDB oracle it
    shares: each conversion credited to the user's most recent
    preceding touch within the lookback window, held in ONE
    (touch_type, touch_us, touch_eid) triple of keyed state
    (``state.attribution_stream`` — the same keyed-state shape as the
    SCD-2 machine with the run machinery replaced by a single
    remembered predecessor; the event_id tie arbiter is the round-10
    same-second cross-batch repair). With the single-file source the
    whole table is one micro-batch and the kernel's (us, event_id)
    sort makes absorption order equal the batch window's total
    order, so the attributed per-conversion emission equals the
    batch frame's row set exactly; cross-batch carry of the
    remembered touch is golden-tested in
    test_streaming_attribution.py and the tie classes are
    property-tested in tests/test_round10_properties.py.

    The per-channel rollup (3 rows) runs batch-side over the memory
    sink — Structured Streaming forbids an aggregation AFTER a Python
    stateful operator in append mode (the module-head note), and at
    deployment scale that rollup is the downstream reader's windowed
    aggregate, not this operator's job.

    Measurement and registration history: ``OPTIMIZATION_r19.md``."""
    from ..plans.events_ops import (
        ATTR_TOUCH_TYPES,
        ATTR_WINDOW_S,
        dsum,
    )
    from .state import attribution_stream

    out = _drain_events(
        spark, sf_dir,
        lambda src: attribution_stream(
            src, ATTR_TOUCH_TYPES, "purchase", ATTR_WINDOW_S
        ),
        state_partitions=PYTHON_STATE_PARTITIONS,
    )
    return out.groupBy("channel").agg(
        F.count("*").alias("n_conversions"),
        dsum(F.col("value"), "sum_value"),
    )


def streaming_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SESSION-TRANSITION MINING — the streaming twin of
    ``plans/events_ops.session_transitions``, whose DuckDB oracle it
    shares: per user, each event within the session gap of its
    predecessor emits one (prev_type, event_type) journey step, held
    in the user's TWO most recent events of keyed state — leader +
    runner-up, each (type, us, event_id)
    (``state.transition_stream`` — the streaming form of the batch
    lag(); the runner-up is the round-10 same-second cross-batch
    repair). Single-batch source ⇒ the step emission equals the
    batch lag relation exactly; cross-batch chain continuation is
    golden-tested in test_streaming_attribution.py and the tie
    classes are property-tested in tests/test_round10_properties.py.

    The Markov-matrix rollup (counts + row-normalized p_next over the
    tiny |types|² relation) runs batch-side over the memory sink for
    the same stateful-then-aggregate reason as
    ``streaming_attribution``.

    Measurement and registration history: ``OPTIMIZATION_r19.md``."""
    from pyspark.sql import Window as W

    from ..plans.events_ops import TRANSITION_GAP_S
    from .state import transition_stream

    out = _drain_events(
        spark, sf_dir, lambda src: transition_stream(src, TRANSITION_GAP_S),
        state_partitions=PYTHON_STATE_PARTITIONS,
    )
    counts = out.groupBy("prev_type", "event_type").agg(
        F.count("*").alias("n_transitions")
    )
    wt = W.partitionBy("prev_type")
    return counts.select(
        "prev_type", "event_type", "n_transitions",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(wt), 6
        ).alias("p_next"),
    )
