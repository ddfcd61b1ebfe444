"""Shared pieces of the workloads: the run context (session lifecycle,
set-up timing, paths), the per-layer metric registry and the result."""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import time

from perfbench.spans import SparkCounters, Tracer, median

MASTER = "local[4]"
SETUPS = 3            # set-ups per run; setup_s is their median

END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
}

# per-layer phase name -> key in StreamingQueryProgress.durationMs
STREAM_PHASES = {"latest_offset": "latestOffset", "get_batch": "getBatch",
                 "planning": "queryPlanning", "wal_commit": "walCommit",
                 "add_batch": "addBatch", "commit_offsets": "commitOffsets"}
_STATE_FIELDS = (("rows_total", "count"), ("memory_bytes", "bytes"),
                 ("updates_ms", "ms"), ("removals_ms", "ms"),
                 ("commit_ms", "ms"), ("rows_dropped_by_watermark", "count"))

# Every per-layer metric, printed by every traced run. A layer that is
# not on a workload's path reads 0 there (see README.md for the map).
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "session.restart_s": "s",
    "sources.json_parse_ms": "ms",
    "sources.scan_ms": "ms",
    **{f"streaming.{kind}.{ph}_ms": "ms"
       for kind in ("data", "nodata") for ph in STREAM_PHASES},
    "streaming.data_batch_ms": "ms",
    "streaming.no_data_batch_ms": "ms",
    "streaming.unaccounted_pct": "%",
    "streaming.latency_tail_ms": "ms",
    "streaming.latency_tail_percentile": "pct",
    "streaming.latency_samples": "count",
    "streaming.backlog_max": "count",
    "streaming.generator_late_ms": "ms",
    **{f"state.{op}.{f}": u for op in ("window", "session", "pandas")
       for f, u in _STATE_FIELDS},
    "sinks.write_ms": "ms",
    "sinks.rows": "count",
    "plans.build_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "operators.qualifying_windows_ms": "ms",
    "operators.throttle_gap_ms": "ms",
    "operators.throttle_leading_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "exec.gc_ms": "ms",
    "closure.chains_s": "s",
    "closure.cliques_s": "s",
    "closure.jobs_chains": "count",
    "closure.jobs_cliques": "count",
    "baseline.local1_catchup_events_per_s": "1/s",
    "baseline.local1_throttled_events_per_s": "1/s",
    "trace.overhead_pct": "%",
}

STATE_FIELDS = tuple(f for f, _ in _STATE_FIELDS)


def require_package() -> None:
    """Raises ImportError when the package under test is missing."""
    import duckdb  # noqa: F401
    import pyspark  # noqa: F401

    import biometric_stream_processing_spark.session  # noqa: F401
    import tools.check_oracle  # noqa: F401


def manifest_problem(path: str, workloads: set[str]) -> str | None:
    """Why ``BENCHMARK.json`` and the workloads and metrics of this code
    disagree, or None when they agree."""
    with open(path) as f:
        manifest = json.load(f)
    listed = {w["name"] for w in manifest["workloads"]}
    if listed != workloads:
        return f"BENCHMARK.json workloads {sorted(listed)} != {sorted(workloads)}"
    for key, ours in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        theirs = {m["name"]: m["unit"] for m in manifest[key]}
        if theirs != ours:
            diff = sorted(set(theirs.items()) ^ set(ours.items()))
            return f"BENCHMARK.json {key} differs from the code: {diff}"
    return None


@dataclasses.dataclass
class Result:
    end_to_end: dict[str, float]
    layers: dict[str, float]
    attempted: int
    failed: int
    notes: list[str]

    @property
    def per_layer(self) -> dict[str, tuple[float, str]]:
        unknown = set(self.layers) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"unregistered per-layer metrics: {sorted(unknown)}")
        return {k: (float(self.layers.get(k, 0.0)), u)
                for k, u in PER_LAYER.items()}


class Context:
    """One benchmark run: arguments, work dir, tracer and the Spark
    session, which the context starts, restarts and stops."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str, t_process: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.t_process = t_process
        self.tracer = Tracer(trace, t_process)
        self.counters = SparkCounters(self.tracer)
        self.spark = None
        self.session_s: list[float] = []
        self.untimed_s = 0.0     # input generation, kept out of setup_s

    @contextlib.contextmanager
    def untimed(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def confs(self) -> dict[str, str]:
        from biometric_stream_processing_spark.session import DEFAULT_CONFS

        tmp = self.path("tmp")
        java = DEFAULT_CONFS.get("spark.driver.extraJavaOptions", "")
        return {
            "spark.sql.shuffle.partitions": "4",
            # recentProgress keeps 100 entries by default; a run has more
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.local.dir": tmp,
            # -XX:-UsePerfData: HotSpot writes hsperfdata under /tmp
            # whatever java.io.tmpdir says
            "spark.driver.extraJavaOptions":
                f"{java} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip(),
        }

    def session(self, master: str = MASTER):
        """Stops the current session, if any, and starts a new one with
        ``session.get_spark``. The first call also launches the JVM."""
        from biometric_stream_processing_spark.session import get_spark

        with self.tracer.span("session.start", master=master):
            t = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            self.spark = get_spark(f"perfbench-{self.workload}", master,
                                   self.confs())
            self.session_s.append(time.perf_counter() - t)
        return self.spark

    def setups(self, first_op) -> list[float]:
        """``SETUPS`` set-ups: each starts a session and runs
        ``first_op(spark, k)``. The first one is timed from process
        start, so it includes the imports and the JVM launch, less the
        time spent generating inputs."""
        out = []
        for k in range(SETUPS):
            t = (self.t_process + self.untimed_s if k == 0
                 else time.perf_counter())
            with self.tracer.span("setup", k=k):
                first_op(self.session(), k)
            out.append(time.perf_counter() - t)
        return out

    def session_layers(self) -> dict[str, float]:
        return {"session.start_s": self.session_s[0],
                "session.restart_s": median(self.session_s[1:])}

    def close(self) -> None:
        """Stops the session, then the JVM, and waits for the JVM to
        exit (it exits when its stdin closes)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
