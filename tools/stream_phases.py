"""Per-phase decomposition of streaming entries — the round-17
StreamingQueryProgress probe, promoted from a session monkeypatch to a
committed tool (round-17 verdict item 6).

For each named streaming entry (default: every ``streaming_*`` in the
registry) this wraps the harness drivers
(``pipeline.run_stream_to_memory`` / ``sinks.start_with_foreach_batch``)
to capture every micro-batch's ``StreamingQueryProgress.durationMs``
and prints, per entry:

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
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)


def main() -> int:
    names = sys.argv[1:]

    import __spark_entry__ as entrymod
    from bench import BENCH_CONFS
    from biometric_stream_processing_spark.session import get_spark
    from biometric_stream_processing_spark.streaming import (
        pipeline as P,
        sinks as S,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_sf = "/root/testdata/sf0.001"
    spark = get_spark("stream_phases", extra_confs=BENCH_CONFS)
    qs = entrymod.queries()
    if not names:
        names = [n for n in qs if n.startswith("streaming_")]

    progresses: list = []

    def _drain(q) -> None:
        q.processAllAvailable()
        progresses.extend(
            p for p in (q.recentProgress or []) if p is not None
        )
        q.stop()

    real_mem, real_fb = P.run_stream_to_memory, S.start_with_foreach_batch

    def probe_mem(df, name, ckpt, output_mode="append"):
        q = (
            df.writeStream.outputMode(output_mode).format("memory")
            .queryName(name).option("checkpointLocation", ckpt).start()
        )
        _drain(q)
        return df.sparkSession.table(name)

    def probe_fb(df, writer, ckpt, output_mode="append"):
        q = (
            df.writeStream.outputMode(output_mode).foreachBatch(writer)
            .option("checkpointLocation", ckpt).start()
        )
        # drain + capture but do NOT stop: the caller owns the
        # processAllAvailable()/stop() lifecycle (both are cheap
        # no-ops once everything has been processed here)
        q.processAllAvailable()
        progresses.extend(
            p for p in (q.recentProgress or []) if p is not None
        )
        return q

    P.run_stream_to_memory = probe_mem
    S.start_with_foreach_batch = probe_fb
    # entries import these names at module top only via attribute
    # access inside function bodies EXCEPT the sink imports inside
    # streaming_user_gapfill / streaming_dedup_merge, which bind at
    # call time from the sinks module — patched above.
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
            progresses.clear()
            t0 = time.time()
            try:
                qs[name](spark, sf_dir).count()
            except Exception as e:
                print(f"{name:<36} <failed: {e!r}>")
                continue
            wall = time.time() - t0
            byb: dict[int, dict] = {}
            for p in progresses:
                d = p.durationMs or {}
                byb[p.batchId] = {
                    "trig": d.get("triggerExecution", 0),
                    "add": d.get("addBatch", 0),
                }
            bids = sorted(byb)
            trig_total = sum(b["trig"] for b in byb.values())
            b0 = byb.get(bids[0]) if bids else {"trig": 0, "add": 0}
            bn = byb.get(bids[-1]) if bids else {"trig": 0, "add": 0}
            print(
                f"{name:<36} {wall:>6.2f} {len(bids):>7} "
                f"{b0['trig']:>7}/{b0['add']:<7} "
                f"{bn['trig']:>7}/{bn['add']:<7} "
                f"{wall - trig_total / 1000.0:>8.2f}"
            )
    finally:
        P.run_stream_to_memory = real_mem
        S.start_with_foreach_batch = real_fb
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
