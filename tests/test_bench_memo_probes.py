"""Pins on bench.py's telemetry: the observed shared-memo billing,
the GC probe, the driver-heap pin and the BENCH_DETAIL fields that
tools/weak_walls.py reads. The driver's bench run at round close
cannot be retried, so a break here must surface in CI."""

from __future__ import annotations

import ast
import importlib
import os
import shutil
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1] / "bench.py"
PACKAGE = BENCH.parent / "biometric_stream_processing_spark"
SF_DIR = "/root/testdata/sf0.001"


def _package_dicts():
    """Every module-level dict of the loaded package modules."""
    for name, mod in list(sys.modules.items()):
        if name.startswith("biometric_stream_processing_spark.") and mod:
            for val in list(vars(mod).values()):
                if isinstance(val, dict):
                    yield val


def _session_memo_caches() -> dict[str, dict]:
    """``module._NAME`` -> cache for every first argument of a
    ``session_memo(`` call in the package, each checked to be a
    module-level dict."""
    caches = {}
    for path in PACKAGE.rglob("*.py"):
        mod_name = ".".join(
            path.relative_to(BENCH.parent).with_suffix("").parts
        )
        for node in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(node, ast.Call)
                    and getattr(node.func, "id", None) == "session_memo"):
                continue
            arg = node.args[0]
            assert isinstance(arg, ast.Name), (
                f"{mod_name}: session_memo's cache is not a plain name"
            )
            cache = getattr(importlib.import_module(mod_name), arg.id,
                            None)
            assert isinstance(cache, dict), (
                f"{mod_name}.{arg.id} is not a module-level dict"
            )
            caches[f"{mod_name.rpartition('.')[2]}.{arg.id}"] = cache
    return caches


def test_memo_scan_reports_every_session_memo_cache(tmp_path):
    """Every cache handed to memo.session_memo is found by the bench's
    scan once it holds the session key, and nothing else is."""
    import bench
    from biometric_stream_processing_spark.memo import session_memo

    caches = _session_memo_caches()
    assert len(caches) >= 11, sorted(caches)

    class _Session:
        class sparkContext:
            applicationId = "app-memo-scan-test"

    key = (_Session.sparkContext.applicationId,
           os.path.realpath(tmp_path))
    assert bench._keyed_memos(key) == set()
    try:
        for cache in caches.values():
            session_memo(cache, _Session, str(tmp_path), lambda: "built")
        assert bench._keyed_memos(key) == set(caches)
    finally:
        for cache in caches.values():
            cache.pop(key, None)


@pytest.fixture
def fresh_sf(tmp_path):
    """A private copy of the sf0.001 tables: its realpath is a memo key
    nothing else in the session has built under."""
    sf = os.path.realpath(shutil.copytree(SF_DIR, tmp_path / "sf0.001"))
    yield sf
    for val in _package_dicts():
        for k in [k for k in val if isinstance(k, tuple) and sf in k]:
            del val[k]


def test_persist_list_prekeys_only_its_lazy_plan_memos(spark, fresh_sf):
    """Building the bench's persist list keys exactly the clean-corpus
    and LSH-verify plan memos, and nothing reads as built before the
    timed loop: no ``__prebuilt__`` owner."""
    import bench

    memos = bench._MemoLedger(spark, fresh_sf)
    try:
        assert memos.prekeyed == {
            "documents_ops._CLEAN_CORPUS_CACHE",
            "documents_ops._JACCARD_DUPS_CACHE",
        }
        assert memos.owners == {}
        from biometric_stream_processing_spark.plans.documents_ops import (
            shared_split_grams,
        )

        shared_split_grams(spark, fresh_sf)
        memos.bill("first_entry")
        memos.bill("second_entry")
        assert memos.owners == {
            "documents_ops._SPLIT_GRAMS_CACHE": "first_entry"
        }
    finally:
        for df in memos.frames.values():
            df.unpersist()


def test_memo_built_before_the_loop_reads_prebuilt(spark, fresh_sf):
    """A memo keyed before the persist list, i.e. off the clock, is
    billed to ``__prebuilt__``, not to the timed entry that would
    otherwise read it first."""
    import bench
    from biometric_stream_processing_spark.plans.documents_ops import (
        shared_split_grams,
    )

    shared_split_grams(spark, fresh_sf)
    memos = bench._MemoLedger(spark, fresh_sf)
    try:
        memos.bill("first_entry")
        assert memos.owners == {
            "documents_ops._SPLIT_GRAMS_CACHE": "__prebuilt__"
        }
    finally:
        for df in memos.frames.values():
            df.unpersist()


def test_gc_probe_returns_live_counter(spark):
    """The round-14 GC telemetry (_gc_millis) is fail-soft by design
    — a py4j surface change makes it return None rather than crash
    the bench. That also means it can silently rot: BENCH_DETAIL
    would just lose its gc columns with no error anywhere. Assert
    against the live session that the probe still reads a real,
    monotonic JVM counter."""
    import bench

    a = bench._gc_millis(spark)
    assert isinstance(a, int) and a >= 0, (
        "bench._gc_millis no longer reads the JVM GC beans — the "
        "BENCH_DETAIL gc columns would silently disappear"
    )
    # force some allocation churn, then re-read: cumulative GC time
    # never decreases
    spark.range(2_000_000).selectExpr("sum(id * id)").collect()
    b = bench._gc_millis(spark)
    assert isinstance(b, int) and b >= a


def test_bench_and_oracle_harnesses_pin_the_driver_heap():
    """Round-13 regression pin: both full-registry harnesses OOM'd
    the 1 GiB default driver heap once the rotation ran the stateful
    gap-fill twin LAST (every shared memo resident — observed live at
    old gen 94%, 196 concurrent GC cycles). bench.py carries the fix
    in BENCH_CONFS; tools/check_oracle.py applies the same default
    (SPARK_GRAFT_DRIVER_MEM still overrides). A refactor that drops
    either pin resurrects a failure that only reproduces at the END
    of a 148-query session — catch it here instead. Round 14: the
    pin became conditional on SPARK_GRAFT_DRIVER_MEM being unset
    (round-13 advice — an unconditional pin silently disabled the
    documented override hook), so an explicit env override satisfies
    the invariant too."""
    import os

    import bench

    assert (
        bench.BENCH_CONFS.get("spark.driver.memory")
        or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    ), "BENCH_CONFS lost its driver-heap pin (round-13 OOM class)"
    oracle_src = (BENCH.parent / "tools" / "check_oracle.py").read_text()
    assert "spark.driver.memory" in oracle_src, (
        "check_oracle.py lost its driver-heap default "
        "(round-13 OOM class)"
    )


def test_driver_mem_warning_normalizes_heap_spellings(capsys):
    """Round-14 advice: the divergence warning compared conf strings
    literally, so an equivalent spelling of the same heap (a
    pre-existing session launched with 4096m when 4g was requested)
    raised a spurious OOM warning. The check must normalize JVM
    k/m/g/t spellings to bytes first — and still warn on a REAL
    divergence."""
    import bench

    class _FakeSpark:
        def __init__(self, got):
            conf = type(
                "C", (), {"get": lambda self, k, d="": got}
            )()
            self.sparkContext = type(
                "SC", (), {"getConf": lambda self: conf}
            )()

    bench._warn_if_driver_mem_diverged(
        _FakeSpark("4096m"), {"spark.driver.memory": "4g"}
    )
    assert "WARN" not in capsys.readouterr().err

    bench._warn_if_driver_mem_diverged(
        _FakeSpark("1g"), {"spark.driver.memory": "4g"}
    )
    assert "WARN" in capsys.readouterr().err


def test_warm_pass_gc_only_recorded_when_warm_loop_ran():
    """Round-14 advice: gc.warm_pass_ms was written whenever the GC
    probes succeeded, even when the envelope skipped the warm pass —
    a near-zero figure for a pass that never ran, which the GC-first
    drift-adjudication protocol would misread. Source pin: the
    warm_pass_ms emission must be guarded on the warm dict being
    non-empty."""
    src = BENCH.read_text()
    assert "gc_after_warm is not None and warm" in src, (
        "bench.py lost the warm-loop guard on gc.warm_pass_ms "
        "(round-14 advice)"
    )


def test_weak_walls_selection_and_pin_detection():
    """tools/weak_walls.py (round 15) mechanizes the warm-wall
    protocol; its two pure pieces are pinned here so the tool cannot
    silently drift from the verdict's weak-line definition:
    selection = batch entries >1 s warm with structural rows
    (streaming / bounded-oracle / io-round-trip) excluded, and the
    pin detector must see a docstring pin, a module-level note above
    a frozen entry, AND the annotated helper-pin map."""
    import sys

    sys.path.insert(0, str(BENCH.parent / "tools"))
    import weak_walls

    warm = {
        "streaming_ewma": 9.0,            # streaming -> excluded
        "orc_interchange_report": 9.0,    # round-trip -> excluded
        "hll_user_rollup": 9.0,           # bounded oracle -> excluded
        "fast_entry": 0.4,                # under the wall
        "no_oracle_entry": 5.0,           # no oracle -> excluded
        "slow_b": 1.5,
        "slow_a": 2.5,
    }
    oracles = {n: "SELECT 1" for n in warm if n != "no_oracle_entry"}
    assert weak_walls.select_candidates(warm, oracles) == [
        "slow_a", "slow_b",
    ]

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # docstring pin (round-15 floor pin lives in the fn body)
    assert weak_walls._pin_status(
        qs["embedding_rrf_fusion"], "embedding_rrf_fusion"
    ) == "PINNED"
    # module-level note above a fingerprint-frozen entry
    assert weak_walls._pin_status(
        qs["corpus_pmi_collocations"], "corpus_pmi_collocations"
    ) == "PINNED"
    # helper-docstring pin via the annotated map
    assert weak_walls._pin_status(
        qs["split_overlap_matrix"], "split_overlap_matrix"
    ) == "PINNED(helper)"


def test_bench_detail_records_loop_positions():
    """Round-15 verdict #4: BENCH_DETAIL must carry queries_order
    (0-based loop position per query) so weak_walls can annotate
    tail-position inflation instead of hand-deriving it; weak_walls
    must read it fail-soft (older artifacts lack the map)."""
    src = BENCH.read_text()
    assert '"queries_order"' in src and "enumerate(qs)" in src, (
        "bench.py lost the queries_order loop-position map"
    )
    import sys

    sys.path.insert(0, str(BENCH.parent / "tools"))
    import weak_walls

    ww = open(weak_walls.__file__).read()
    assert 'detail.get("queries_order")' in ww, (
        "weak_walls must read queries_order fail-soft"
    )
    assert "1.2 * cold[name]" in ww, (
        "weak_walls lost the thresholded warm>cold inversion marker"
    )
