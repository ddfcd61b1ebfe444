"""The ``stream-alerts`` workload: the paper's pipeline, window-flag
aggregate plus session-window cooldown on the JVM state store, reading
the JSON wire format through ``sources.wire`` and writing through
``streaming.sinks``.

One query runs three phases:

1. warm-up: release 0 is already in the source dir when the query
   starts; its micro-batch is the last part of the set-up.
2. live (open loop): one generator thread renames one release into
   the source dirs every ``INTERVAL_S`` seconds for ``--seconds``
   seconds, whatever the query is doing. A release's latency runs from
   its due time to the return of the sink call of the micro-batch that
   read it (for append mode this excludes the wait for the watermark).
3. catch-up: ``ROUNDS`` backlogs of ``BACKLOG`` slices each, released
   one at a time; each drains as one large micro-batch (plus the
   no-data batch that moves the watermark) before the next is
   released. Then one far-future event flushes every open window and
   session.

The traced run adds the leading-edge throttle
``state.alerts_stream_leading`` (``applyInPandasWithState``) on a query
of its own over the same generated releases: the Python worker and
Arrow state path, with its own output check.
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import threading
import time

from perfbench import checks, gen
from perfbench.common import SETUPS, STATE_FIELDS, STREAM_PHASES, Result
from perfbench.spans import job_group_counters, median, tail

USERS = 1000
PER_RELEASE = 1000        # events per release (one 20 min slice)
INTERVAL_S = 0.2          # live release period
BACKLOG = 120             # slices per catch-up release
ROUNDS = 5                # catch-up releases
CATCHUP_NAMES = [f"c{j:02d}" for j in range(ROUNDS)]
FLUSH_NAME = "r9999"
ALERT_COLS = ["user_id", "alert_epoch", "message"]


class TimedSink:
    """``foreachBatch`` function: the package's idempotent parquet
    writer, with the wall time of each call recorded."""

    def __init__(self, out_dir: str):
        from biometric_stream_processing_spark.streaming import sinks

        self.out_dir = out_dir
        self._write = sinks.idempotent_parquet_writer(out_dir)
        self.calls: list[tuple[int, float, float]] = []

    def __call__(self, bdf, batch_id: int) -> None:
        t = time.perf_counter()
        self._write(bdf, batch_id)
        self.calls.append((batch_id, t, time.perf_counter()))


def build_query(spark, src: str, leading: bool):
    from pyspark.sql import functions as F

    from biometric_stream_processing_spark.operators import alerting
    from biometric_stream_processing_spark.plans import biometric
    from biometric_stream_processing_spark.sources import wire
    from biometric_stream_processing_spark.streaming import pipeline, state

    hr = wire.read_heart_rate_json(spark, f"{src}/hr", streaming=True)
    bp = wire.read_blood_pressure_json(spark, f"{src}/bp", streaming=True)
    events = alerting.union_streams(hr, bp)
    kw = dict(
        watermark_delay=gen.WATERMARK_DELAY,
        hr_pred=(F.col("event_type") == "hr")
        & (F.col("heart_rate") > alerting.HR_THRESHOLD),
        bp_pred=(F.col("event_type") == "bp")
        & (F.col("systolic") < alerting.BP_THRESHOLD),
    )
    fn = state.alerts_stream_leading if leading else pipeline.alerts_stream
    return fn(events, biometric.WINDOW_S, biometric.SLIDE_S,
              biometric.COOLDOWN_S, **kw)


def start_query(ctx, spark, leading: bool, k: int):
    from biometric_stream_processing_spark.streaming import sinks

    sink = TimedSink(ctx.path(f"out{k}"))
    with ctx.tracer.span("query.start", k=k):
        q = sinks.start_with_foreach_batch(
            build_query(spark, ctx.path(f"src{k}"), leading), sink,
            ctx.path(f"ckpt{k}"), "append")
    return q, sink


def release(stage: str, src: str, name: str) -> None:
    """Makes a pair visible: a rename is atomic, so the source never
    lists a partly written file. The heart-rate file goes first."""
    for kind in ("hr", "bp"):
        os.rename(os.path.join(stage, kind, f"{name}.json"),
                  os.path.join(src, kind, f"{name}.json"))


def live_phase(stage: str, src: str, names: list[str], interval: float):
    """Releases ``names`` on a fixed schedule from one thread; returns
    ``[(name, due, released)]`` in ``perf_counter`` seconds."""
    log: list[tuple[str, float, float]] = []
    errors: list[Exception] = []
    t0 = time.perf_counter() + 0.05

    def body():
        try:
            for i, name in enumerate(names):
                due = t0 + i * interval
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                release(stage, src, name)
                log.append((name, due, time.perf_counter()))
        except Exception as e:  # re-raised by the caller
            errors.append(e)

    th = threading.Thread(target=body, name="perfbench-generator")
    th.start()
    th.join(timeout=t0 - time.perf_counter() + len(names) * interval + 60)
    if th.is_alive():
        raise RuntimeError("generator thread did not finish")
    if errors:
        raise errors[0]
    return log


def files_by_batch(ckpt: str) -> dict[str, int]:
    """Source file -> id of the micro-batch that read it.

    The file-source log under ``sources/<i>/`` numbers its entries by
    the source's own log offset, which only advances when new files
    appear; the offset log ``offsets/<batch>`` records, per source, the
    log offset each micro-batch read up to."""
    ends: dict[int, list[int]] = {}
    for path in glob.glob(os.path.join(ckpt, "offsets", "*")):
        base = os.path.basename(path)
        if base.isdigit():
            with open(path) as f:
                lines = f.read().splitlines()[2:]
            ends[int(base)] = [json.loads(x)["logOffset"] for x in lines]
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "*", "*")):
        base = os.path.basename(path)
        if not base.split(".")[0].isdigit() or base.endswith(".crc"):
            continue
        src = int(os.path.basename(os.path.dirname(path)))
        with open(path) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    out[e["path"]] = min(b for b, offs in ends.items()
                                         if offs[src] >= e["batchId"])
    return out


def batch_watermarks(ckpt: str) -> dict[int, int]:
    """Batch id -> the watermark (ms) the batch ran with, from the
    offset log's metadata line."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "offsets", "*")):
        base = os.path.basename(path)
        if base.isdigit():
            with open(path) as f:
                meta = json.loads(f.read().splitlines()[1])
            out[int(base)] = int(meta.get("batchWatermarkMs", 0))
    return out


def release_of(path: str) -> tuple[str, str]:
    """``.../hr/r0012.json`` -> ``("r0012", "hr")``."""
    parts = path.rstrip("/").split("/")
    return parts[-1].split(".")[0], parts[-2]


def progress_records(q) -> list[dict]:
    """One progress record per executed micro-batch."""
    recs = {}
    for p in q.recentProgress:
        d = json.loads(p.json)
        if "addBatch" in d.get("durationMs", {}):
            recs[d["batchId"]] = d
    return [recs[b] for b in sorted(recs)]


def is_data_batch(rec: dict) -> bool:
    return any(s.get("startOffset") != s.get("endOffset")
               for s in rec.get("sources", []))


def wall_to_perf(iso: str) -> float:
    t = datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp()
    return t - (time.time() - time.perf_counter())


def read_output(out_dir: str):
    import pyarrow.dataset as ds

    files = glob.glob(os.path.join(out_dir, "batch_id=*", "*.parquet"))
    if not files:
        return None
    return ds.dataset(out_dir, format="parquet",
                      partitioning="hive").to_table().to_pandas()


def run(ctx) -> Result:
    from biometric_stream_processing_spark.plans import biometric

    n_live = max(20, int(ctx.seconds / INTERVAL_S))
    stage, src = ctx.path("stage"), ctx.path(f"src{SETUPS - 1}")
    live_names = [f"r{i:04d}" for i in range(1, n_live + 1)]
    with ctx.untimed():
        inputs = gen.StreamInputs(
            ctx.seed, USERS, PER_RELEASE, n_live, BACKLOG, ROUNDS,
            late_gap_ms=(biometric.WINDOW_S + biometric.COOLDOWN_S + 3600)
            * 1000)
        for k in range(SETUPS):
            inputs.write_release(0, ctx.path(f"src{k}"), "r0000")
        for i, name in enumerate(live_names, 1):
            inputs.write_release(i, stage, name)
        for rel, name in zip(inputs.backlog_releases, CATCHUP_NAMES):
            inputs.write_release(rel, stage, name)
        inputs.write_release(inputs.flush_release, stage, FLUSH_NAME)

    started = []

    def first_op(spark, k):
        q, sink = start_query(ctx, spark, False, k)
        q.processAllAvailable()
        if k < SETUPS - 1:
            with ctx.tracer.span("query.stop", k=k):
                q.stop()
        started.append((q, sink))

    setup_s = ctx.setups(first_op)
    spark = ctx.spark
    q, sink = started[-1]
    ckpt = ctx.path(f"ckpt{SETUPS - 1}")

    with ctx.tracer.span("live"):
        t_live = time.perf_counter()
        log = live_phase(stage, src, live_names, INTERVAL_S)
        q.processAllAvailable()
        live_s = time.perf_counter() - t_live
    drains = []
    for name in CATCHUP_NAMES:
        with ctx.tracer.span("catchup", release=name):
            t = time.perf_counter()
            release(stage, src, name)
            q.processAllAvailable()
            drains.append(time.perf_counter() - t)
    with ctx.tracer.span("flush"):
        release(stage, src, FLUSH_NAME)
        q.processAllAvailable()
    exec_counts = (job_group_counters(spark, str(q.runId))
                   if ctx.trace else {})
    progress = progress_records(q)
    with ctx.tracer.span("query.stop", k=SETUPS - 1):
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"stream query failed: {q.exception()}")

    batch_of, _ = batches_read(ckpt)
    sink_end = {b: e for b, _, e in sink.calls}
    latencies = [1000.0 * (sink_end[batch_of[name]] - due)
                 for name, due, _ in log]
    catchup_events = inputs.traffic["backlog_events"]

    # ---- output checks
    got = emitted_alerts(read_output(sink.out_dir), False,
                         biometric.WINDOW_S)
    want, _ = checks.duckdb_rows(inputs.on_time_events_table(),
                                 biometric.ORACLE["alerts_throttled"])
    output_ok = bool(want) and checks.same_rows(got, want, ALERT_COLS)
    state_ops = state_metrics(progress, False)
    dropped_ok = state_ops["window"]["rows_dropped_by_watermark"] > 0
    attempted = len(progress)
    failed = 0 if (output_ok and dropped_ok) else attempted

    e2e = {
        "setup_s": median(setup_s),
        "latency_p50_ms": median(latencies),
        "throughput_per_s": catchup_events / median(drains),
    }
    tl, tp, tn = tail(latencies)
    notes = [
        f"traffic {json.dumps(inputs.traffic)}",
        f"{ctx.workload}: setup_s={e2e['setup_s']:.3f} s "
        f"(set-ups {', '.join(f'{s:.3f}' for s in setup_s)}), "
        f"batch_latency_p50_ms={e2e['latency_p50_ms']:.1f} ms, "
        f"batch_latency_tail_ms={tl:.1f} ms (p{tp}, n={tn}), "
        f"catchup_events_per_s={e2e['throughput_per_s']:.0f} 1/s "
        f"(drains {', '.join(f'{d:.3f}' for d in drains)} s), "
        f"failed_share={failed / attempted:.3f} "
        f"({failed}/{attempted} micro-batches; alerts got {len(got)}, "
        f"want {len(want)}; live {live_s:.1f} s)",
    ]
    if not output_ok:
        notes.append(f"{ctx.workload}: OUTPUT MISMATCH against the "
                     f"DuckDB oracle")
    if not dropped_ok:
        notes.append(f"{ctx.workload}: no window rows dropped by watermark")

    layers = {}
    if ctx.trace:
        layers = trace_layers(ctx, spark, progress, state_ops, log,
                              batch_of, sink, latencies, exec_counts,
                              inputs, catchup_events, live_s + sum(drains))
        lead, l_notes, l_attempted, l_failed = leading_layers(ctx, spark,
                                                              inputs)
        layers.update(lead)
        notes += l_notes
        attempted += l_attempted
        failed += l_failed
        layers["baseline.local1_catchup_events_per_s"] = local1_catchup(
            ctx, inputs, catchup_events)
    return Result(e2e, layers, attempted, failed, notes)


def batches_read(ckpt: str) -> tuple[dict[str, int], dict[int, set]]:
    """``(release name -> id of the last micro-batch that read one of
    its files, batch id -> {(release name, kind)} it read)``."""
    batch_of: dict[str, int] = {}
    kinds_read: dict[int, set] = {}
    for path, b in files_by_batch(ckpt).items():
        rel, kind = release_of(path)
        batch_of[rel] = max(batch_of.get(rel, -1), b)
        kinds_read.setdefault(b, set()).add((rel, kind))
    return batch_of, kinds_read


def emitted_alerts(out, leading: bool, window_s: int) -> list[tuple]:
    """Sink output as ``(user_id, alert_epoch, message)``. The session
    path emits the first qualifying window's event time (window end
    minus 1 µs); its start is that plus 1 µs minus the window."""
    if out is None:
        return []
    if leading:
        epoch = out.alert_epoch.astype(int)
    else:
        epoch = (out.alert_ts.astype("int64") // 10**9 + 1 - window_s)
    return list(zip(out.user_id.astype(int), epoch.astype(int), out.message))


def model_alerts(inputs, kinds_read, watermarks, names) -> list[tuple]:
    """The leading-edge model replayed over the batch composition and
    watermarks recorded in the checkpoint. ``names`` maps the file name
    of each release the query read to its release id."""
    from biometric_stream_processing_spark.plans import biometric

    rows_of = {}
    for name, rel_id in names.items():
        ev = inputs.release_events(rel_id)
        for kind, part in (("hr", ev[ev.is_hr]), ("bp", ev[~ev.is_hr])):
            rows_of[(name, kind)] = list(zip(
                part.user_id, part.ts_ms, part.is_hr, part.value))
    batches = [(watermarks.get(b, 0),
                [r for key in sorted(kinds_read[b])
                 for r in rows_of.get(key, [])])
               for b in sorted(kinds_read)]
    return sorted(
        (u, w, f"User {u} has a problem")
        for u, w in checks.leading_edge_model(
            batches, biometric.WINDOW_S, biometric.SLIDE_S,
            biometric.COOLDOWN_S))


def state_metrics(progress: list[dict], leading: bool) -> dict:
    """Per stateful operator: rows and memory at their maximum, the
    update/removal/commit times as the p50 over data batches, and the
    rows dropped by the watermark summed over the run."""
    names = ["pandas"] if leading else ["window", "session"]
    out = {n: {f: 0.0 for f in STATE_FIELDS} for n in names}
    series = {n: {f: [] for f in STATE_FIELDS} for n in names}
    for rec in progress:
        ops = rec.get("stateOperators", [])
        # operators are listed from the sink side: the session window
        # (when present) first, then the window aggregate
        if not leading:
            ops = list(reversed(ops))
        for name, op in zip(names, ops):
            s = series[name]
            s["rows_total"].append(op.get("numRowsTotal", 0))
            s["memory_bytes"].append(op.get("memoryUsedBytes", 0))
            s["rows_dropped_by_watermark"].append(
                op.get("numRowsDroppedByWatermark", 0))
            if is_data_batch(rec):
                s["updates_ms"].append(op.get("allUpdatesTimeMs", 0))
                s["removals_ms"].append(op.get("allRemovalsTimeMs", 0))
                s["commit_ms"].append(op.get("commitTimeMs", 0))
    for name in names:
        s = series[name]
        o = out[name]
        o["rows_total"] = max(s["rows_total"], default=0)
        o["memory_bytes"] = max(s["memory_bytes"], default=0)
        o["rows_dropped_by_watermark"] = sum(s["rows_dropped_by_watermark"])
        for f in ("updates_ms", "removals_ms", "commit_ms"):
            o[f] = median(s[f])
    return out


def trace_layers(ctx, spark, progress, state_ops, log, batch_of, sink,
                 latencies, exec_counts, inputs, catchup_events,
                 measured_s) -> dict:
    tr = ctx.tracer
    layers = dict(ctx.session_layers())
    t_track = time.perf_counter()

    # data batches of the live phase; no-data batches of the whole run
    # (every release moves the watermark, so one follows each data
    # batch that finds no new release waiting)
    live_ids = {batch_of[name] for name, _, _ in log}
    data = [r for r in progress if r["batchId"] in live_ids]
    nodata = [r for r in progress if not is_data_batch(r)]
    for kind, recs in (("data", data), ("nodata", nodata)):
        for ph, key in STREAM_PHASES.items():
            layers[f"streaming.{kind}.{ph}_ms"] = median(
                [r["durationMs"].get(key, 0) for r in recs])
    layers["streaming.data_batch_ms"] = median(
        [r["durationMs"]["triggerExecution"] for r in data])
    layers["streaming.no_data_batch_ms"] = median(
        [r["durationMs"]["triggerExecution"] for r in nodata])
    unaccounted = []
    for r in progress:
        d = r["durationMs"]
        parts = sum(d.get(k, 0) for k in STREAM_PHASES.values())
        if d["triggerExecution"] > 0:
            unaccounted.append(
                100.0 * (d["triggerExecution"] - parts) / d["triggerExecution"])
    layers["streaming.unaccounted_pct"] = max(unaccounted, default=0.0)
    tl, tp, tn = tail(latencies)
    layers["streaming.latency_tail_ms"] = tl
    layers["streaming.latency_tail_percentile"] = tp
    layers["streaming.latency_samples"] = tn
    layers["streaming.generator_late_ms"] = max(
        1000.0 * (rel - due) for _, due, rel in log)

    # backlog: releases due but not yet listed by a batch
    start_of = {r["batchId"]: wall_to_perf(r["timestamp"]) for r in progress}
    moves = []
    for name, due, _ in log:
        moves.append((due, 1))
        moves.append((start_of.get(batch_of[name], due), -1))
    depth = peak = 0
    for _, step in sorted(moves, key=lambda m: (m[0], -m[1])):
        depth += step
        peak = max(peak, depth)
    layers["streaming.backlog_max"] = peak

    for name, fields in state_ops.items():
        for f, v in fields.items():
            layers[f"state.{name}.{f}"] = v

    writes = [1000.0 * (e - s) for _, s, e in sink.calls]
    layers["sinks.write_ms"] = median(writes)
    out = read_output(sink.out_dir)
    layers["sinks.rows"] = 0 if out is None else len(out)

    n_batches = max(len(progress), 1)
    for k, v in exec_counts.items():
        layers[f"exec.{k}"] = v / n_batches

    span_of = {}
    for r in progress:
        start = wall_to_perf(r["timestamp"])
        span_of[r["batchId"]] = tr.add(
            "micro_batch", start,
            start + r["durationMs"]["triggerExecution"] / 1000.0,
            batch=r["batchId"], data=is_data_batch(r))
    for b, s, e in sink.calls:
        tr.add("sink.write", s, e, parent=span_of.get(b), batch=b)
    for name, due, rel in log:
        tr.add("generator.release", due, rel, release=name)
    tr.self_s += time.perf_counter() - t_track
    layers["trace.overhead_pct"] = 100.0 * tr.self_s / measured_s

    layers["sources.json_parse_ms"] = json_parse_ms(ctx, spark)
    return layers


def leading_layers(ctx, spark, inputs) -> tuple[dict, list[str], int, int]:
    """The leading-edge throttle ``state.alerts_stream_leading`` on a
    query of its own: the warm-up release, then the first catch-up
    backlog as one release, then the flush event. Its output is checked
    against ``checks.leading_edge_model`` replayed over the batch
    composition and watermarks its checkpoint recorded. Returns
    ``(state.pandas.* layers, notes, attempted, failed)``."""
    k = "leading"
    src, stage, ckpt = (ctx.path(f"src{k}"), ctx.path(f"stage{k}"),
                        ctx.path(f"ckpt{k}"))
    names = {"r0000": 0, CATCHUP_NAMES[0]: inputs.backlog_releases[0]}
    for name, rel in names.items():
        inputs.write_release(rel, src if rel == 0 else stage, name)
    inputs.write_release(inputs.flush_release, stage, FLUSH_NAME)
    from biometric_stream_processing_spark.plans import biometric

    with ctx.tracer.span("leading"):
        q, sink = start_query(ctx, spark, True, k)
        q.processAllAvailable()
        for name in (CATCHUP_NAMES[0], FLUSH_NAME):
            release(stage, src, name)
            q.processAllAvailable()
        progress = progress_records(q)
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"leading query failed: {q.exception()}")
    _, kinds_read = batches_read(ckpt)
    got = emitted_alerts(read_output(sink.out_dir), True, biometric.WINDOW_S)
    want = model_alerts(inputs, kinds_read, batch_watermarks(ckpt), names)
    ok = bool(want) and checks.same_rows(got, want, ALERT_COLS)
    notes = [f"leading: {len(progress)} micro-batches; alerts got "
             f"{len(got)}, want {len(want)}"]
    if not ok:
        notes.append("leading: OUTPUT MISMATCH against the leading-edge model")
    layers = {f"state.pandas.{f}": v
              for f, v in state_metrics(progress, True)["pandas"].items()}
    return layers, notes, len(progress), 0 if ok else len(progress)


def json_parse_ms(ctx, spark) -> float:
    """Batch-mode ``wire.read_*_json`` over the first live release, with
    every parsed column aggregated (a bare count would skip the parse);
    median of three."""
    from pyspark.sql import functions as F

    from biometric_stream_processing_spark.sources import wire

    d = ctx.path(f"src{SETUPS - 1}")
    times = []
    for _ in range(3):
        with ctx.tracer.span("sources.json_parse"):
            t = time.perf_counter()
            wire.read_heart_rate_json(spark, f"{d}/hr/r0001.json").agg(
                F.sum("user_id"), F.sum("heart_rate"), F.max("ts")).collect()
            wire.read_blood_pressure_json(spark, f"{d}/bp/r0001.json").agg(
                F.sum("user_id"), F.sum("systolic"), F.sum("diastolic"),
                F.max("ts")).collect()
            times.append(1000.0 * (time.perf_counter() - t))
    return median(times)


def local1_catchup(ctx, inputs, catchup_events: int) -> float:
    """The first catch-up round again on a single-threaded session:
    warm-up release, then the backlog as one release."""
    spark = ctx.session("local[1]")
    k = "local1"
    src, stage = ctx.path(f"src{k}"), ctx.path(f"stage{k}")
    inputs.write_release(0, src, "r0000")
    inputs.write_release(inputs.backlog_releases[0], stage, CATCHUP_NAMES[0])
    from biometric_stream_processing_spark.streaming import sinks

    with ctx.tracer.span("baseline.local1_catchup"):
        q = sinks.start_with_foreach_batch(
            build_query(spark, src, False), TimedSink(ctx.path(f"out{k}")),
            ctx.path(f"ckpt{k}"), "append")
        q.processAllAvailable()
        t = time.perf_counter()
        release(stage, src, CATCHUP_NAMES[0])
        q.processAllAvailable()
        s = time.perf_counter() - t
        q.stop()
    return catchup_events / s
