"""Per-phase decomposition of streaming entries.

For each named streaming entry (default: every ``streaming_*`` in the
registry) this collects every micro-batch's
``StreamingQueryProgress.durationMs`` through a
``StreamingQueryListener`` registered for the run, and prints, per
entry:

  wall      total entry seconds (same clock as bench.py: the entry
            call + a count() on the returned frame)
  batches   number of micro-batches the run executed
  b0 t/a    batch 0 triggerExecution / addBatch millis (the data batch)
  bN t/a    last batch's trigger/addBatch millis (the watermark-flush
            sentinel batch for the append-mode machines)
  other s   wall − Σ triggerExecution — query start (checkpoint dir,
            source listing, analysis), stop, and the final count

Usage::

    SPARK_GRAFT_CPUS=32 python tools/stream_phases.py [entry ...]

Runs against ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1)
under the bench confs. A warm-up entry runs first so the streaming
machinery cold-start (~7 s for the first query in a JVM) is not billed
to the first table row.
"""

from __future__ import annotations

import os
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

#: seconds to wait for a stopped query's termination event
TERMINATION_WAIT_S = 60.0


class _ProgressLog(StreamingQueryListener):
    """Progress of the queries started since the last ``take()``.

    ``onQueryStarted`` runs synchronously inside ``start()``; progress
    and termination events arrive later on the listener bus, in the
    order they were posted, so a query's progress is complete once its
    termination event is in."""

    def __init__(self):
        self._cond = threading.Condition()
        self._started: list = []
        self._terminated: set = set()
        self._progress: dict = {}

    def onQueryStarted(self, event) -> None:
        with self._cond:
            self._started.append(event.id)

    def onQueryProgress(self, event) -> None:
        with self._cond:
            self._progress.setdefault(event.progress.id, []).append(
                event.progress
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cond:
            self._terminated.add(event.id)
            self._cond.notify_all()

    def take(self, timeout: float) -> "list[tuple[int, int]] | None":
        """(triggerExecution, addBatch) millis per micro-batch of the
        queries started since the last call, in start then batch
        order; None when one of them did not report its termination
        within ``timeout`` seconds. Resets the log either way."""
        with self._cond:
            done = self._cond.wait_for(
                lambda: self._terminated.issuperset(self._started),
                timeout,
            )
            byb = {}
            for i, qid in enumerate(self._started):
                for p in self._progress.get(qid, []):
                    d = p.durationMs or {}
                    byb[(i, p.batchId)] = (
                        d.get("triggerExecution", 0), d.get("addBatch", 0)
                    )
            self._started, self._terminated, self._progress = [], set(), {}
        return [byb[k] for k in sorted(byb)] if done else None


def main() -> int:
    names = sys.argv[1:]

    import __spark_entry__ as entrymod
    from bench import BENCH_CONFS
    from biometric_stream_processing_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_sf = "/root/testdata/sf0.001"
    spark = get_spark("stream_phases", extra_confs=BENCH_CONFS)
    qs = entrymod.queries()
    if not names:
        names = [n for n in qs if n.startswith("streaming_")]

    log = _ProgressLog()
    spark.streams.addListener(log)
    try:
        if os.path.isdir(warm_sf):
            try:
                qs[names[0]](spark, warm_sf).count()
            except Exception as e:
                print(f"warm-up {names[0]} <failed: {e!r}>")

        hdr = (f"{'entry':<36} {'wall':>6} {'batches':>7} "
               f"{'b0 trig/add ms':>15} {'bN trig/add ms':>15} {'other s':>8}")
        print(hdr)
        print("-" * len(hdr))
        for name in names:
            log.take(0)
            t0 = time.time()
            try:
                qs[name](spark, sf_dir).count()
            except Exception as e:
                print(f"{name:<36} <failed: {e!r}>")
                continue
            wall = time.time() - t0
            batches = log.take(TERMINATION_WAIT_S)
            if batches is None:
                print(f"{name:<36} <a query reported no termination "
                      f"within {TERMINATION_WAIT_S:.0f} s>")
                continue
            b0 = batches[0] if batches else (0, 0)
            bn = batches[-1] if batches else (0, 0)
            trig_total = sum(trig for trig, _ in batches)
            print(
                f"{name:<36} {wall:>6.2f} {len(batches):>7} "
                f"{b0[0]:>7}/{b0[1]:<7} "
                f"{bn[0]:>7}/{bn[1]:<7} "
                f"{wall - trig_total / 1000.0:>8.2f}"
            )
    finally:
        spark.streams.removeListener(log)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
