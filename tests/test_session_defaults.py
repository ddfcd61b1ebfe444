"""Round-17 optimization-round pins for the session-factory defaults
(`session.DEFAULT_CONFS` is computed at import time from env, so cases
1-4 re-import the module in a subprocess with a controlled
environment and launch no SparkSession; case 5 uses the tests'
session).

1. Shuffle partitions derive from the MASTER's cores (numeric
   SPARK_GRAFT_CPUS), not the machine's cpu_count — the guide-§2
   scale-adaptivity fix: a local[4] driver session must not default
   to 32 shuffle partitions on a 32-core box.
2. SPARK_GRAFT_SHUFFLE_PARTITIONS (the adversarial-sweep knob)
   still beats everything — when it is ASCII digits; a junk value
   falls back to the derived default.
3. Non-numeric / unset SPARK_GRAFT_CPUS ("*" = all cores) falls back
   to os.cpu_count() — the pre-round-17 behavior, unchanged.
4. The ParallelGC local-JVM default is present and the
   SPARK_GRAFT_DRIVER_JAVA_OPTS env hook overrides or clears it.
5. Streaming checkpoints of ``get_spark`` sessions go through the
   FileSystem-based checkpoint file manager, and ``tune_session``
   leaves a host session's choice alone.
6. The env values passed on to Spark verbatim elsewhere fail safe
   too: ``get_spark``'s default master and ``bench.py``'s shuffle
   partitions take only ASCII digits (re-imported like cases 1-4).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import json, os, sys
sys.path.insert(0, {repo!r})
import bench
from biometric_stream_processing_spark.session import (
    DEFAULT_CONFS, _default_master,
)
print(json.dumps({{
    "shuffle": DEFAULT_CONFS["spark.sql.shuffle.partitions"],
    "gc": DEFAULT_CONFS.get("spark.driver.extraJavaOptions"),
    "master": _default_master(),
    "bench_shuffle": bench.BENCH_CONFS["spark.sql.shuffle.partitions"],
}}))
"""


def _defaults(**env_overrides) -> dict:
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env.update(env_overrides)
    out = subprocess.run(
        [sys.executable, "-c", _PROBE.format(repo=REPO)],
        capture_output=True, text=True, env=env, check=True,
    ).stdout
    return json.loads(out)


def test_shuffle_default_follows_numeric_spark_graft_cpus():
    assert _defaults(SPARK_GRAFT_CPUS="4")["shuffle"] == "4"
    assert _defaults(SPARK_GRAFT_CPUS="11")["shuffle"] == "11"


def test_shuffle_env_override_still_wins():
    got = _defaults(SPARK_GRAFT_CPUS="11",
                    SPARK_GRAFT_SHUFFLE_PARTITIONS="7")
    assert got["shuffle"] == "7"


def test_shuffle_env_override_rejects_junk():
    """A junk or non-ASCII SPARK_GRAFT_SHUFFLE_PARTITIONS must not
    reach spark.sql.shuffle.partitions (it would fail conf parsing at
    session start); the master-derived default applies instead."""
    for junk in ("", "auto", "-3", "7.5", "٧"):
        assert _defaults(SPARK_GRAFT_CPUS="11",
                         SPARK_GRAFT_SHUFFLE_PARTITIONS=junk)["shuffle"] == "11"
    assert _defaults(SPARK_GRAFT_SHUFFLE_PARTITIONS="auto")["shuffle"] == str(
        os.cpu_count() or 8
    )


def test_shuffle_falls_back_to_cpu_count_when_master_unpinned():
    expect = str(os.cpu_count() or 8)
    assert _defaults()["shuffle"] == expect
    assert _defaults(SPARK_GRAFT_CPUS="*")["shuffle"] == expect


def test_gc_default_and_env_hook():
    assert _defaults()["gc"] == "-XX:+UseParallelGC"
    assert _defaults(
        SPARK_GRAFT_DRIVER_JAVA_OPTS="-XX:+UseG1GC"
    )["gc"] == "-XX:+UseG1GC"
    # empty string = clear the flag (fall back to the JVM default)
    assert _defaults(SPARK_GRAFT_DRIVER_JAVA_OPTS="")["gc"] == ""


def test_shuffle_rejects_non_ascii_digit_cpus():
    """Round-17 advice: str.isdigit() alone accepts non-ASCII Unicode
    digits (e.g. ARABIC-INDIC FOUR), which would flow verbatim into
    spark.sql.shuffle.partitions and fail conf parsing at session
    start. Such values must fall back to cpu_count like any other
    non-numeric master spec."""
    import os as _os

    assert _defaults(SPARK_GRAFT_CPUS="٤")["shuffle"] == str(
        _os.cpu_count() or 8
    )


def test_default_master_rejects_junk_cpus():
    """A SPARK_GRAFT_CPUS that is not ASCII digits would make
    ``local[...]`` fail session start ("Could not parse Master URL");
    the default master falls back to all cores instead."""
    assert _defaults(SPARK_GRAFT_CPUS="4")["master"] == "local[4]"
    for junk in ("٤", "4 ", "", "auto", "*"):
        assert _defaults(SPARK_GRAFT_CPUS=junk)["master"] == "local[*]"
    assert _defaults()["master"] == "local[*]"


def test_bench_shuffle_override_rejects_junk():
    """bench.py's SPARK_GRAFT_SHUFFLE_PARTITIONS override takes ASCII
    digits only; anything else keeps the bench's pinned 4."""
    assert _defaults(SPARK_GRAFT_SHUFFLE_PARTITIONS="7")["bench_shuffle"] \
        == "7"
    for junk in ("", "auto", "-3", "7.5", "٧", "4 "):
        assert _defaults(
            SPARK_GRAFT_SHUFFLE_PARTITIONS=junk
        )["bench_shuffle"] == "4"
    assert _defaults()["bench_shuffle"] == "4"


_CKPT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def test_checkpoint_manager_is_filesystem_based_and_host_scoped(
    spark, tmp_path
):
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )
    assert manager.getClass().getSimpleName() == (
        "FileSystemBasedCheckpointFileManager"
    )

    # a host session keeps Spark's default: tune_session must not set it
    from biometric_stream_processing_spark.session import tune_session

    prev = spark.conf.get(_CKPT_MANAGER_KEY)
    try:
        spark.conf.unset(_CKPT_MANAGER_KEY)
        tune_session(spark)
        assert spark.conf.get(_CKPT_MANAGER_KEY, None) is None
    finally:
        spark.conf.set(_CKPT_MANAGER_KEY, prev)
