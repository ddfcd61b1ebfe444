"""Span recording and the Spark-side counters the traced run reads.

Spans are recorded by the benchmark around its own calls into each
layer of the package; nothing inside the package is patched. They are
kept in memory and written once, at the end of the run. The untraced
run uses ``Tracer(enabled=False)``: every method returns at once and no
job group, status-store query or plan inspection happens.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
import uuid


def pct(values, p: float) -> float:
    """Percentile by linear interpolation (``p`` in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values) -> tuple[float, int, int]:
    """The highest percentile of 50/75/90/95/99 with at least ten
    samples beyond it: ``(value, percentile, n)``. With fewer than 20
    samples no such percentile exists and the maximum is returned with
    percentile 100."""
    n = len(values)
    best = None
    for p in (50, 75, 90, 95, 99):
        if n * (1 - p / 100.0) >= 10:
            best = p
    if best is None:
        return max(values), 100, n
    return pct(values, best), best, n


def median(values, default: float = 0.0) -> float:
    return statistics.median(values) if values else default


class Tracer:
    """Spans of one run: name, start, end (``perf_counter`` seconds
    since the run started), parent span id and the shared run id."""

    def __init__(self, enabled: bool, t0: float):
        self.enabled = enabled
        self.t0 = t0
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.self_s = 0.0          # time spent in the tracer itself

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def add(self, name: str, start: float, end: float, parent=None,
            **attrs):
        """A span whose times were measured elsewhere (micro-batches,
        sink calls, releases), given in ``perf_counter`` seconds.
        Returns its id."""
        if not self.enabled:
            return None
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": parent, "start": start - self.t0,
               "end": end - self.t0}
        rec.update(attrs)
        self.spans.append(rec)
        return rec["id"]

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class SparkCounters:
    """Job, stage and task counts per timed call, from the status
    tracker and the JVM status store, grouped by a job group the
    benchmark sets around the call."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._n = 0

    @contextlib.contextmanager
    def group(self, spark, name: str):
        """Runs the body under a fresh job group and yields a dict that
        holds the group's counters once the body returns."""
        out: dict = {}
        if not self.tracer.enabled:
            yield out
            return
        sc = spark.sparkContext
        self._n += 1
        gid = f"perfbench-{self.tracer.run_id[:8]}-{self._n}"
        t = time.perf_counter()
        sc.setJobGroup(gid, name)
        self.tracer.self_s += time.perf_counter() - t
        try:
            yield out
        finally:
            t = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            out.update(job_group_counters(spark, gid))
            self.tracer.self_s += time.perf_counter() - t


def job_group_counters(spark, group: str) -> dict:
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    c = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0.0,
         "executor_cpu_ms": 0.0, "shuffle_write_bytes": 0, "gc_ms": 0.0}
    for jid in st.getJobIdsForGroup(group):
        c["jobs"] += 1
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the status store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += sd.numTasks()
            c["executor_run_ms"] += sd.executorRunTime()
            c["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["gc_ms"] += sd.jvmGcTime()
    return c


def catalyst_phases_ms(df) -> dict:
    """Analysis, optimization and planning time of ``df``'s own query
    execution, planning it if it has not been planned yet."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        out[k] = float(phases.apply(k).durationMs()) if phases.contains(k) else 0.0
    return out
