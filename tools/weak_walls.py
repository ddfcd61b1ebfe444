"""Warm-wall adjudication entry point (round 15) — automates the
per-round protocol three verdicts have now repeated by hand:

1. read the newest committed ``BENCH_DETAIL_r<N>.json``;
2. select the WEAK candidates: batch entries with warm >1 s,
   excluding the structural rows (streaming / bounded-guarantee /
   io-round-trip — same sets as tools/ratio_report.py);
3. time ONLY those entries' oracles in same-session DuckDB at the
   given SF (best-of-3) and print warm-vs-DuckDB ratios alongside
   the entry's warm-pass GC millis from the artifact;
4. flag each line PINNED when a recorded pin/adjudication marker is
   anchored to the entry (its own source, or a module comment block
   naming it), so the output reads as "what still needs an isolated
   A/B this round"; and annotate each line's warm-loop POSITION from
   the artifact's ``queries_order`` map (round 16) — a ``*`` marks
   the last fifth of the loop, where in-bench warm readings carry
   the documented 2-3× end-of-run inflation, and ``inv`` marks a
   warm reading >1.2× the entry's own first-pass time (physically
   backwards for an identical plan — the reading itself is
   inflated; the alerts_throttled round-15/16 signature).

This is a REPORT, not a judgment: the isolated same-boot best-of-5
protocol (verify skill) still governs any entry this table flags —
in-bench warm readings of late-loop entries inflate 2-3× over
isolated A/Bs of identical plans (the round-14 finding the GC column
records). Run it AFTER bench.py, never concurrently.

Usage:
  python tools/weak_walls.py [sf_dir] [detail_json]
  python tools/weak_walls.py --ab <entry> [entry ...] [--sf sf_dir]

``--ab`` runs the SECOND half of the protocol for the named entries:
a fresh bench-conf session (4g heap pin honored, bench warmups, the
four lazy persists), one cold call per entry (materializes its
memos), then warm best-of-5 vs same-session DuckDB best-of-5 —
printing the pin-ready line the docstring adjudications record.
``--floor`` (round 16, with ``--ab``) adds the floor-share half:
the same entry re-timed warm best-of-5 at sf0.001 in the SAME
session, printing floor% = t(sf0.001)/t(sf_dir) — the two-timing
scheduling-floor attribution every floor pin records (a high share
means the wall is per-job constants, not data). Run it alone on a
quiet host; it is the isolated same-boot A/B, so nothing else may
share the machine while it times.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import re
import sys

# repo root on sys.path (round-16 advice: "." only resolved
# __spark_entry__ / bench when the tool was launched from the repo
# root — compute the root from this file's location instead so the
# tool runs from any cwd)
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

from ratio_report import BOUNDED_ORACLE, ROUND_TRIP_ORACLE  # noqa: E402

WARM_WALL_SECONDS = 1.0
RATIO_BAR = 2.0
#: markers a recorded adjudication leaves in (or directly above) the
#: entry's defining function — module comments land in the source
#: file text, docstring pins in the function body
PIN_MARKERS = ("FLOOR PIN", "PIN RE-CHECK", "ADJUDICATION",
               "Pin accepted", "pin reproduce", "floor pin",
               "Floor-bound", "stage-decomposition",
               "isolated warm", "inside the ≤3× target",
               "inside the bar")

#: entries whose recorded pin lives in a HELPER's docstring the
#: source-proximity heuristic cannot see (annotated explicitly —
#: update when a pin moves):
#:   embedding_similar_pairs / embedding_srp_pairs — FLOOR PINS
#:     paragraph in operators/similarity.similar_pairs_blocked
#:     (round 12; srp re-pinned round 14);
#:   split_overlap_matrix — presence-relation shape pin in
#:     plans/documents_ops.split_grams (round 12, 1.1-1.4×
#:     isolated, fused-bitmask rewrite measured slower);
#:   dup_graph_pagerank / dup_graph_bfs_depths / dup_graph_stats —
#:     round-14 finding: late-warm-loop inflation 2-3× over
#:     isolated A/Bs (pagerank 3.5-3.8 s isolated vs 8.6 in-bench),
#:     plans reproduce their pins; GC column attributes it.
#:   doc_perplexity_buckets — FLOOR PIN (round 12, 72% floor,
#:     0.458 s warm / 3.6×) in the ``corpus_ops.perplexity_buckets``
#:     helper docstring (annotated here in round 16 when the pin
#:     detector stopped accepting unanchored neighboring text).
HELPER_PINNED = {
    "embedding_similar_pairs", "embedding_srp_pairs",
    "split_overlap_matrix", "dup_graph_pagerank",
    "dup_graph_bfs_depths", "dup_graph_stats",
    "doc_perplexity_buckets",
}


def select_candidates(warm: dict, oracles: dict) -> list:
    """The weak-candidate rule, shared with the CI smoke test: batch
    entries over the warm wall, structural rows excluded, slowest
    first."""
    return [
        n for n, w in sorted(warm.items(), key=lambda kv: -kv[1])
        if w > WARM_WALL_SECONDS
        and not n.startswith("streaming_")
        and n not in BOUNDED_ORACLE
        and n not in ROUND_TRIP_ORACLE
        and n in oracles
    ]


def _newest_detail(root: str) -> str:
    paths = glob.glob(os.path.join(root, "BENCH_DETAIL_r*.json"))
    if not paths:
        raise SystemExit("no BENCH_DETAIL_r*.json found")
    return max(
        paths,
        key=lambda p: int(re.search(r"r(\d+)\.json$", p).group(1)),
    )


def _pin_status(fn, name: str = "") -> str:
    """PINNED when an adjudication marker is ANCHORED to the entry:
    either inside the entry's own source (docstring pins), or in a
    module-level comment block carrying the EXPLICIT anchor token
    ``PIN(<entry_name>)`` (where pins for fingerprint-frozen entries
    live). Round-17 advice fix: the round-16 named-block heuristic
    still over-matched — a block adjudicating entry A that mentioned
    entry B in passing (e.g. the alerts_throttled block's aside about
    alerts_leading_debounce's kernel) marked B PINNED via substring
    containment. Module blocks now count ONLY on the explicit
    ``PIN(name)`` token, so a passing mention can never suppress the
    needs-isolated-A/B flag; writing a module pin means writing the
    anchor (all four existing module pins carry it)."""
    if name in HELPER_PINNED:
        return "PINNED(helper)"
    try:
        target = getattr(fn, "__wrapped__", fn)
        src = inspect.getsource(target)
        module_src = inspect.getsource(inspect.getmodule(target))
    except (OSError, TypeError):
        return "?"
    if any(m in src for m in PIN_MARKERS):
        return "PINNED"
    if name and re.search(
        r"#.*\bPIN\(\s*" + re.escape(name) + r"\s*\)", module_src
    ):
        return "PINNED"
    return "UNPINNED"


def _duck_connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def run_isolated_ab(entries: list, sf_dir: str,
                    floor: bool = False) -> int:
    """The isolated same-boot best-of-5 A/B (verify-skill protocol),
    mechanized: bench confs + warmups + the four lazy persists, one
    cold call per entry, then 5 warm Spark timings vs 5 same-session
    DuckDB timings. The printed RESULT line is what a docstring pin
    records."""
    import statistics
    import time

    import __spark_entry__ as entrymod
    from bench import BENCH_CONFS, _warn_if_driver_mem_diverged
    from biometric_stream_processing_spark.plans.documents_ops import (
        doc_winnow_fingerprints,
        documents_clean_corpus,
        minhash_lsh_pairs,
        shared_ivf_cells,
    )
    from biometric_stream_processing_spark.session import get_spark

    spark = get_spark("weak-walls-ab", extra_confs=BENCH_CONFS)
    _warn_if_driver_mem_diverged(spark, BENCH_CONFS)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = [n for n in entries if n not in qs]
    if unknown:
        raise SystemExit(f"unknown entries: {unknown}")

    qs["alerts_throttled"](spark, sf_dir).count()
    qs["alerts_leading_debounce"](spark, sf_dir).count()
    for f in (minhash_lsh_pairs, shared_ivf_cells,
              doc_winnow_fingerprints, documents_clean_corpus):
        f(spark, sf_dir).persist()

    con = _duck_connect(sf_dir)
    for name in entries:
        fn = qs[name]
        t0 = time.time()
        fn(spark, sf_dir).count()
        cold = time.time() - t0
        warm = []
        for _ in range(5):
            t0 = time.time()
            fn(spark, sf_dir).count()
            warm.append(time.time() - t0)
        dd = []
        for _ in range(5):
            t0 = time.time()
            con.execute(oracles[name]).fetchall()
            dd.append(time.time() - t0)
        bs, bd = min(warm), min(dd)
        print(
            f"RESULT {name}: cold={cold:.2f}s "
            f"warm best={bs:.3f} median={statistics.median(warm):.3f} "
            f"all={[round(w, 3) for w in warm]} | "
            f"duckdb best={bd:.3f} median={statistics.median(dd):.3f} "
            f"| ratio(best)={bs / bd:.2f}x",
            flush=True,
        )
        if floor:
            # floor-share attribution in the SAME session (the
            # sf0.001-vs-sf_dir two-timing every floor pin records):
            # one cold call to build the tiny-SF memos, then warm
            # best-of-5 — share = tiny/base; per-job scheduling
            # constants dominate when it is high
            fn(spark, "/root/testdata/sf0.001").count()
            tiny = []
            for _ in range(5):
                t0 = time.time()
                fn(spark, "/root/testdata/sf0.001").count()
                tiny.append(time.time() - t0)
            bt = min(tiny)
            print(
                f"FLOOR  {name}: sf0.001 warm best={bt:.3f} "
                f"median={statistics.median(tiny):.3f} -> "
                f"floor share {100 * bt / bs:.0f}% of the {bs:.3f}s "
                f"wall, data term ~{max(bs - bt, 0):.2f}s",
                flush=True,
            )
    return 0


def main() -> int:
    import time

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    args = sys.argv[1:]
    if args and args[0] == "--ab":
        rest = args[1:]
        sf_dir = "/root/testdata/sf0.1"
        floor = "--floor" in rest
        if floor:
            rest.remove("--floor")
        if "--sf" in rest:
            i = rest.index("--sf")
            sf_dir = rest[i + 1]
            rest = rest[:i] + rest[i + 2:]
        if not rest:
            raise SystemExit("--ab needs at least one entry name")
        return run_isolated_ab(rest, sf_dir, floor=floor)

    import __spark_entry__ as entrymod

    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    detail_path = args[1] if len(args) > 1 else _newest_detail(root)

    with open(detail_path) as f:
        detail = json.load(f)
    warm = detail.get("queries_warm") or {}
    warm_gc = detail.get("queries_warm_gc_ms") or {}
    order = detail.get("queries_order") or {}
    n_order = (max(order.values()) + 1) if order else 0
    cold = detail.get("queries") or {}
    if not warm:
        raise SystemExit(
            f"{detail_path} has no queries_warm (warm pass skipped: "
            f"{detail.get('warm_skipped')!r})"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    candidates = select_candidates(warm, oracles)
    print(
        f"{os.path.basename(detail_path)}: {len(warm)} warm entries, "
        f"{len(candidates)} over the {WARM_WALL_SECONDS:.0f}s wall "
        f"(structural rows excluded)"
    )
    if not candidates:
        return 0

    con = _duck_connect(sf_dir)

    n_unadjudicated = 0
    print(f"{'entry':34} {'warm':>6} {'gc_ms':>6} {'pos':>8} "
          f"{'duck':>6} {'ratio':>6}  status")
    for name in candidates:
        best = None
        for _ in range(3):
            t0 = time.time()
            con.execute(oracles[name]).fetchall()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        w = warm[name]
        ratio = w / best if best else float("inf")
        status = _pin_status(qs[name], name)
        # loop position (round-15 verdict #4): late-loop warm
        # readings inflate 2-3× over isolated A/Bs — annotate the
        # position so the "tail-position inflation" hypothesis reads
        # off the table instead of being re-derived by hand
        if name in order:
            pos = f"{order[name] + 1}/{n_order}"
            if n_order and order[name] >= 0.8 * n_order:
                pos += "*"  # late-loop: inflation-suspect reading
        else:
            pos = "-"
        # warm>cold inversion (round 16: the alerts_throttled
        # signature) — a warm repeat reading well above the entry's
        # own first-pass time is physically backwards for an
        # identical plan and marks the READING as inflated; 1.2×
        # threshold so run-to-run noise (first-pass and warm within
        # ~15% of each other) doesn't spam the column
        if cold.get(name) and w > 1.2 * cold[name]:
            pos += " inv"
        flag = ""
        if ratio > RATIO_BAR and not status.startswith("PINNED"):
            flag = "  <-- needs isolated A/B"
            n_unadjudicated += 1
        print(f"{name:34} {w:6.2f} {warm_gc.get(name, 0):6d} "
              f"{pos:>8} {best:6.2f} {ratio:5.1f}x  {status}{flag}")
    print(f"unadjudicated >1s/> {RATIO_BAR:.0f}x entries: "
          f"{n_unadjudicated}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
