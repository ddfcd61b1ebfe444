"""The ``batch-alerts`` workload: the flagship batch plans over a
generated ``events.parquet`` in the schema of the ``events`` test table.

An operation is one call of ``biometric.alerts_throttled`` (window
explode, grouped flags, ``lag`` throttle) or
``biometric.alerts_leading_debounce`` (same prefix, ``mapInPandas``
debounce), built and forced with ``count()``. A pass runs one of each; after
the set-ups and one untimed warm-up pass, passes repeat until
``--seconds`` have gone. Every operation's count is
checked against the DuckDB oracle, and the full output of both plans is
value-hashed against it once per run.

The traced run adds the per-layer probes and, because this workload's
set-up already pays for the JVM, the connected-components closure of
``operators.dedup`` over a generated chain-and-clique pair graph.
"""

from __future__ import annotations

import json
import time

from perfbench import checks, gen
from perfbench.common import Result
from perfbench.spans import catalyst_phases_ms, median

N_EVENTS = 1_000_000
N_USERS = 2000
PLANS = ("alerts_throttled", "alerts_leading_debounce")
WARMUP_PASSES = 1

# closure graph (traced run only): chains of fixed diameter, cliques
N_CHAINS, CHAIN_LEN = 300, 12
N_CLIQUES, CLIQUE_MAX = 2000, 6


def plan(spark, sf_dir: str, name: str):
    from biometric_stream_processing_spark.plans import biometric

    return getattr(biometric, name)(spark, sf_dir)


def run(ctx) -> Result:
    sf_dir = ctx.path("sf")
    with ctx.untimed():
        traffic = gen.write_events_parquet(ctx.seed, N_EVENTS, N_USERS, sf_dir)

    counts: dict[str, list[int]] = {p: [] for p in PLANS}

    def first_op(spark, k):
        for name in PLANS:
            counts[name].append(plan(spark, sf_dir, name).count())

    setup_s = ctx.setups(first_op)
    spark = ctx.spark
    # the first passes after a session restart still run 30-60% slow
    # while the JIT settles; the set-up's pass and this one are checked
    # but not timed
    with ctx.tracer.span("warmup"):
        for _ in range(WARMUP_PASSES):
            first_op(spark, None)

    walls = {p: [] for p in PLANS}
    build = []
    catalyst = {"analysis": [], "optimization": [], "planning": []}
    exec_pass = []
    t_meas = time.perf_counter()
    deadline = t_meas + ctx.seconds
    while time.perf_counter() < deadline or not all(walls.values()):
        per_pass = {}
        for name in PLANS:
            with ctx.tracer.span("op", plan=name), \
                    ctx.counters.group(spark, name) as cnt:
                t = time.perf_counter()
                with ctx.tracer.span("plans.build"):
                    df = plan(spark, sf_dir, name)
                t_built = time.perf_counter()
                n = df.count()
                walls[name].append(time.perf_counter() - t)
            counts[name].append(n)
            build.append(1000.0 * (t_built - t))
            per_pass[name] = cnt
            if ctx.trace:
                t = time.perf_counter()
                for k, v in catalyst_phases_ms(df).items():
                    catalyst[k].append(v)
                ctx.tracer.self_s += time.perf_counter() - t
        if ctx.trace:
            exec_pass.append({k: sum(c[k] for c in per_pass.values())
                              for k in per_pass[PLANS[0]]})
    measured_s = time.perf_counter() - t_meas

    # ---- output checks: every count, then both outputs in full
    events = events_frame(sf_dir)
    from biometric_stream_processing_spark.plans import biometric

    failed = 0
    ok_full = True
    cols = ["user_id", "alert_epoch", "message"]
    sizes = {}
    for name in PLANS:
        want, _ = checks.duckdb_rows(events, biometric.ORACLE[name])
        got = [tuple(r) for r in plan(spark, sf_dir, name).collect()]
        sizes[name] = (len(got), len(want))
        if bool(want) and checks.same_rows(got, want, cols):
            failed += sum(1 for n in counts[name] if n != len(want))
        else:   # the plan's output is wrong: every call of it failed
            ok_full = False
            failed += len(counts[name])
    attempted = sum(len(v) for v in counts.values())

    e2e = {
        "setup_s": median(setup_s),
        "latency_p50_ms": 1000.0 * median(walls["alerts_throttled"]),
        "throughput_per_s":
            N_EVENTS / median(walls["alerts_leading_debounce"]),
    }
    pass_walls = "; ".join(
        f"{name}: " + " ".join(f"{1000.0 * w:.0f}" for w in ws)
        for name, ws in walls.items())
    notes = [
        f"traffic {json.dumps(traffic)}",
        f"batch-alerts: setup_s={e2e['setup_s']:.3f} s (set-ups "
        f"{', '.join(f'{s:.3f}' for s in setup_s)}), "
        f"throttled_events_per_s="
        f"{N_EVENTS / median(walls['alerts_throttled']):.0f} 1/s "
        f"(p50 {e2e['latency_p50_ms']:.1f} ms, n="
        f"{len(walls['alerts_throttled'])}), "
        f"debounce_events_per_s={e2e['throughput_per_s']:.0f} 1/s "
        f"(n={len(walls['alerts_leading_debounce'])}), "
        f"pass walls ms [{pass_walls}], "
        f"failed_share={failed / attempted:.3f} ({failed}/{attempted} "
        f"queries; rows got/want {sizes})",
    ]
    if not ok_full:
        notes.append("batch-alerts: OUTPUT MISMATCH against the DuckDB oracle")

    layers = {}
    if ctx.trace:
        layers, c_notes, c_attempted, c_failed = trace_layers(
            ctx, spark, sf_dir, walls, build, catalyst, exec_pass,
            measured_s)
        notes += c_notes
        attempted += c_attempted
        failed += c_failed
    return Result(e2e, layers, attempted, failed, notes)


def events_frame(sf_dir: str):
    import pyarrow.parquet as pq

    return pq.read_table(f"{sf_dir}/events.parquet",
                         columns=["ts", "user_id", "event_type",
                                  "value"]).to_pandas()


def timed(ctx, name: str, fn, reps: int = 3) -> float:
    """Median wall time of ``fn()`` in ms."""
    out = []
    for _ in range(reps):
        with ctx.tracer.span(name):
            t = time.perf_counter()
            fn()
            out.append(1000.0 * (time.perf_counter() - t))
    return median(out)


def trace_layers(ctx, spark, sf_dir, walls, build, catalyst, exec_pass,
                 measured_s) -> tuple[dict, list[str], int, int]:
    """Per-layer metrics of a traced run: ``(layers, notes, attempted,
    failed)``, the last three from the closure calls."""
    from pyspark.sql import functions as F

    from biometric_stream_processing_spark.operators import alerting
    from biometric_stream_processing_spark.plans import biometric
    from biometric_stream_processing_spark.sources import readers

    layers = dict(ctx.session_layers())
    layers["plans.build_ms"] = median(build)
    for k, v in catalyst.items():
        layers[f"catalyst.{k}_ms"] = median(v)
    for k in exec_pass[0]:
        layers[f"exec.{k}"] = median([p[k] for p in exec_pass])
    layers["trace.overhead_pct"] = 100.0 * ctx.tracer.self_s / measured_s

    def scan():
        ev = readers.load_table(spark, sf_dir, "events")
        ev.agg(F.sum("event_id"), F.max("ts"), F.sum("user_id"),
               F.max(F.length("event_type")), F.sum("value"),
               F.count("props")).collect()

    def qualifying():
        ev = readers.load_table(spark, sf_dir, "events")
        alerting.qualifying_windows(
            ev, is_hr=F.col("event_type") == biometric.HR_TYPE,
            is_bp=F.col("event_type") == biometric.BP_TYPE,
            hr_reading=F.col("value"), bp_reading=F.col("value"),
            length_s=biometric.WINDOW_S, slide_s=biometric.SLIDE_S).count()

    layers["sources.scan_ms"] = timed(ctx, "sources.scan", scan)
    qw = timed(ctx, "operators.qualifying_windows", qualifying)
    layers["operators.qualifying_windows_ms"] = qw
    layers["operators.throttle_gap_ms"] = (
        1000.0 * median(walls["alerts_throttled"]) - qw)
    layers["operators.throttle_leading_ms"] = (
        1000.0 * median(walls["alerts_leading_debounce"]) - qw)

    closure, notes, attempted, failed = closure_layers(ctx, spark)
    layers.update(closure)

    spark1 = ctx.session("local[1]")
    with ctx.tracer.span("baseline.local1_throttled"):
        plan(spark1, sf_dir, "alerts_throttled").count()
        t = time.perf_counter()
        plan(spark1, sf_dir, "alerts_throttled").count()
        layers["baseline.local1_throttled_events_per_s"] = (
            N_EVENTS / (time.perf_counter() - t))
    return layers, notes, attempted, failed


def closure_layers(ctx, spark) -> tuple[dict, list[str], int, int]:
    """``dedup.connected_components`` on the chain part and the clique
    part of a generated pair graph: one warm-up call each, then the
    median of two timed calls (call plus collecting its output), each
    checked against a union-find. Returns ``(layers, notes, attempted,
    failed)``."""
    from biometric_stream_processing_spark.operators import dedup

    chains, cliques, traffic = gen.closure_graph(
        ctx.seed, N_CHAINS, CHAIN_LEN, N_CLIQUES, CLIQUE_MAX)
    out = {}
    notes = [f"closure traffic {json.dumps(traffic)}"]
    attempted = failed = 0
    for part, pdf in (("chains", chains), ("cliques", cliques)):
        pairs = spark.createDataFrame(pdf)
        want = checks.components(zip(pdf.id_a, pdf.id_b))
        walls, jobs = [], []
        for rep in range(3):
            with ctx.tracer.span("closure", part=part, rep=rep), \
                    ctx.counters.group(spark, f"closure-{part}") as cnt:
                t = time.perf_counter()
                got = dict(dedup.connected_components(pairs).collect())
                wall = time.perf_counter() - t
            attempted += 1
            if got != want:
                failed += 1
                notes.append(f"closure: OUTPUT MISMATCH on {part}")
            if rep:
                walls.append(wall)
                jobs.append(cnt["jobs"])
        out[f"closure.{part}_s"] = median(walls)
        out[f"closure.jobs_{part}"] = median(jobs)
    return out, notes, attempted, failed
