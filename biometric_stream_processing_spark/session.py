"""SparkSession factory with scale-aware defaults.

The reference engines each hand-configure their runtime
(`BiometricAlertStreamProcessor.scala:32-36` SparkConf local[2] + 1s
batches; `KafkaBiometricAlertStreamProcessor.scala:17-23` streams
config). Our single equivalent is a tuned SparkSession: AQE on for
runtime re-planning (skew joins, partition coalescing), shuffle
partitions sized to cores locally (a cluster deployment would raise
this to ~2-3x total cores), Arrow enabled for any Pandas-UDF path,
and session timezone pinned to UTC so event-time arithmetic is
deterministic and oracle-comparable.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile

from pyspark.sql import SparkSession


def _ascii_digits(value: str | None) -> str | None:
    """``value`` if it is a non-empty run of ASCII digits, else None.
    str.isdigit() alone accepts non-ASCII Unicode digits (e.g. '٤'),
    which would pass through verbatim and fail conf parsing at
    session start."""
    return value if value and value.isascii() and value.isdigit() else None


DEFAULT_CONFS: dict[str, str] = {
    # AQE: runtime partition coalescing, skew-join splitting, plan re-opt.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Event-time arithmetic must not depend on machine TZ.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for the (rare) Pandas-UDF/applyInPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Read parquet TIMESTAMP(isAdjustedToUTC=false) deterministically.
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    # The VALUES emitter (functions/local_rel.py) escapes strings for
    # the DEFAULT parser; a host session with the legacy conf on would
    # silently corrupt every emitted literal. Pin it (also re-pinned
    # defensively at each values_frame call).
    "spark.sql.parser.escapedStringLiterals": "false",
    # Broadcast generously: all dim tables here are tiny; at 100 TB the
    # dims (region/nation/part/supplier) still fit well under 1 GiB.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Cores-sized locally; SPARK_GRAFT_SHUFFLE_PARTITIONS overrides —
    # the adversarial-parallelism sweep knob (tune_session resets a
    # session to THIS value on divergence, so the override must live
    # here, not in a caller's conf.set):
    #   SPARK_GRAFT_CPUS=11 SPARK_GRAFT_SHUFFLE_PARTITIONS=7 \
    #     python tools/check_oracle.py /root/testdata/sf0.01
    # "Cores" means the MASTER's cores (round 17, guide §2
    # scale-adaptivity): when SPARK_GRAFT_CPUS pins the local master
    # to N threads, sizing exchanges to the MACHINE's os.cpu_count()
    # (e.g. 32 shuffle partitions on a local[4] session) schedules
    # 8 waves of tiny tasks per exchange for no extra parallelism.
    # Fall back to all cores when the master is unpinned ("*" or
    # unset). Every harness that TIMES queries pins this knob
    # explicitly (bench.py: 4; tests: 8), so bench numbers are
    # unaffected; this sizes the untimed/driver-session paths right.
    # Both env values must be ASCII digits (``_ascii_digits``); a junk
    # value falls through to the next source instead of failing at
    # session start.
    # CAPTURED AT MODULE-IMPORT TIME (round-17 advice, documented
    # choice): callers that pass an explicit master= (tests' local[8])
    # or mutate the env after import get this import-time value, not
    # a master-derived one — every TIMED harness therefore pins the
    # knob explicitly (bench.py/check_oracle: 4; tests/conftest: 8),
    # and library users who pin master= should pin extra_confs too.
    "spark.sql.shuffle.partitions": (
        _ascii_digits(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS"))
        or _ascii_digits(os.environ.get("SPARK_GRAFT_CPUS"))
        or str(os.cpu_count() or 8)
    ),
    "spark.ui.enabled": "false",
    # Streaming checkpoints (offset/commit/source logs, state-store
    # deltas) go through FileSystem.rename instead of Spark's default
    # FileContext.rename. On the local filesystem FileContext.rename
    # (ChecksumFs -> AbstractFileSystem.renameInternal) checks each
    # path with getFileLinkStatus, which forks a `readlink` process
    # per call: about 160 forks per micro-batch of the paper's
    # pipeline, most of each stateful operator's commit time. It ends
    # in the same File.renameTo that FileSystem.rename calls, so
    # `file:` had no atomic no-overwrite rename to lose, and the
    # checksum files (Spark's N.delta.crc, Hadoop's hidden .crc) stay
    # on. The other per-file fork, `chmod` on every create, goes with
    # the fork-free `file:` FileSystem local sessions get
    # (``_session_confs``). On HDFS FileContext.rename IS atomic, so
    # host sessions (which may checkpoint there) keep Spark's default:
    # tune_session's prefix filter skips spark.sql.streaming.
    # Numbers: CHANGES.md, checkpoint-manager and fork-free-FS entries.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    # GC collector (round 17, measured): JDK-17 Spark defaults to G1;
    # on this engine's local JVMs (≤4g heap, high allocation churn
    # from 100+ short queries per session) the throughput collector
    # is decisively faster — full 127-entry warm-loop A/B run in
    # BOTH orders to cancel host drift: G1 72.7 s vs ParallelGC
    # 59.6 s, then (reversed, busier host) ParallelGC 78.7 s vs G1
    # 99.3 s — −18%/−21%. Applied only at JVM launch (getOrCreate
    # attaching to an existing session ignores it, harmless); a
    # cluster deployment with 32g+ executor heaps should re-measure
    # G1/ZGC and override via SPARK_GRAFT_DRIVER_JAVA_OPTS (set it
    # to "" to fall back to the JVM default). FOOTGUN (round-17
    # advice, documented): the env value REPLACES the whole option
    # string — setting it for an unrelated JVM flag silently drops
    # the ParallelGC default; include -XX:+UseParallelGC in the
    # value if the collector win should be kept.
    "spark.driver.extraJavaOptions": os.environ.get(
        "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"
    ),
}

# Driver heap override hook (local mode = single JVM, driver heap is
# all the memory). Default JVM sizing measures FASTER here than large
# heaps for the object-heavy higher-order-function queries (G1 at 8g+
# was 10x slower on array-intersect workloads — measured), so no
# default override.
_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
if _mem:
    DEFAULT_CONFS["spark.driver.memory"] = _mem


def _default_master() -> str:
    """``local[$SPARK_GRAFT_CPUS]`` when that is ASCII digits, else
    ``local[*]`` (all cores): a junk value such as '٤' or '4 ' would
    otherwise fail session start with "Could not parse Master URL"."""
    cpus = _ascii_digits(os.environ.get("SPARK_GRAFT_CPUS")) or "*"
    return f"local[{cpus}]"


def get_spark(
    app_name: str = "biometric_stream_processing_spark",
    master: str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``_default_master()`` so bench and tests
    share one code path.
    """
    if master is None:
        master = _default_master()
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _session_confs(master, extra_confs).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


# A local session's `file:` FileSystem: Hadoop's LocalFileSystem with
# a raw layer whose setPermission sets the nine mode bits through
# java.nio instead of forking `chmod` (Hadoop's fallback when native
# libhadoop is missing): about 54 forks per micro-batch of the paper's
# pipeline, on every state-store delta, log entry and sink file and
# their hidden .crc files. It stays a ChecksumFileSystem, and a
# sticky-bit request still goes through Hadoop's own code. It replaces
# the class Spark would pick by ServiceLoader, which in the PySpark
# distribution is Hive's ProxyLocalFileSystem: that one refuses to
# rename onto an existing file, so an overwriting checkpoint write
# (createAtomic with overwriteIfPossible) kept the old bytes; here it
# replaces them, as on HDFS. The source ships in the package;
# ``_fork_free_fs_jar`` compiles it once per source and javac, and
# without javac sessions keep the stock class.
_FORK_FREE_FS_CLASS = "bspe.fs.ForkFreeLocalFileSystem"
_FORK_FREE_FS_SOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm",
    "ForkFreeLocalFileSystem.java",
)


# A local session's Python daemon: Spark's stock daemon behind a
# zipimport that re-reads an archive on the workers' path only when it
# changed, instead of at the start of every task (the module's
# docstring says why). Spark runs it as ``python -m`` with this
# directory merged into the daemon's PYTHONPATH.
_PY_DAEMON_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "pyworker"
)
_PY_DAEMON_MODULE = "bspe_daemon"


def _session_confs(master: str,
                   extra_confs: dict[str, str] | None) -> dict[str, str]:
    """The confs ``get_spark`` builds its session with: DEFAULT_CONFS,
    the caller's, and for a local master the package's Python daemon
    and the fork-free ``file:`` FileSystem whenever the session's JVM
    can load it. Executors of other masters are JVMs of their own
    without the jar, possibly on hosts without this package's files,
    so they keep Spark's stock class and daemon."""
    confs = {**DEFAULT_CONFS, **(extra_confs or {})}
    local = master == "local" or master.startswith("local[")
    if local and os.path.exists(
        os.path.join(_PY_DAEMON_DIR, _PY_DAEMON_MODULE + ".py")
    ):
        confs.setdefault("spark.python.daemon.module", _PY_DAEMON_MODULE)
        pp = confs.get("spark.executorEnv.PYTHONPATH")
        confs["spark.executorEnv.PYTHONPATH"] = (
            f"{pp}{os.pathsep}{_PY_DAEMON_DIR}" if pp else _PY_DAEMON_DIR
        )
    jar = _fork_free_fs_jar() if local else None
    if jar and _gateway_can_load_fork_free_fs():
        cp = confs.get("spark.driver.extraClassPath")
        confs["spark.driver.extraClassPath"] = (
            f"{cp}{os.pathsep}{jar}" if cp else jar
        )
        confs.setdefault("spark.hadoop.fs.file.impl", _FORK_FREE_FS_CLASS)
    return confs


def _gateway_can_load_fork_free_fs() -> bool:
    """True when no JVM runs yet (the next launch puts the jar on its
    class path) or the running one finds the class. A gateway JVM
    launched outside this process (``spark-submit``) never has it."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return "PYSPARK_GATEWAY_PORT" not in os.environ
    try:
        gateway.jvm.java.lang.Class.forName(_FORK_FREE_FS_CLASS)
        return True
    except Py4JError:  # ClassNotFoundException, or the gateway is gone
        return False


@functools.lru_cache(maxsize=None)
def _fork_free_fs_jar() -> str | None:
    """Path of the jar holding ``_FORK_FREE_FS_CLASS``, or None when it
    cannot be built. The jar is cached per user under a hash of the
    source and the javac release, published by atomic rename; a failed
    compile leaves a ``.failed`` file with javac's output so the same
    javac is not retried. Memoized, so session restarts in one process
    cost nothing."""
    javac = shutil.which("javac")
    if javac is None:
        return None
    javac = os.path.realpath(javac)
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(javac)),
                               "release"), "rb") as f:
            release = f.read()  # JAVA_VERSION=... of javac's JDK
    except OSError:
        release = b""
    with open(_FORK_FREE_FS_SOURCE, "rb") as f:
        digest = hashlib.sha256(
            f.read() + javac.encode() + release
        ).hexdigest()[:16]
    cache = os.path.join(os.path.expanduser("~"), ".cache",
                         "biometric_stream_processing_spark")
    jar = os.path.join(cache, f"fork-free-local-fs-{digest}.jar")
    if os.path.exists(jar):
        return jar
    if os.path.exists(jar + ".failed"):
        return None
    from pyspark.find_spark_home import _find_spark_home

    hadoop_jars = glob.glob(
        os.path.join(_find_spark_home(), "jars", "hadoop-*.jar")
    )
    try:
        os.makedirs(cache, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=cache) as tmp:
            classes = os.path.join(tmp, "classes")
            proc = subprocess.run(
                [javac, "--release", "17", "-nowarn",
                 "-cp", os.pathsep.join(hadoop_jars), "-d", classes,
                 _FORK_FREE_FS_SOURCE],
                capture_output=True, text=True, timeout=300,
            )
            if proc.returncode != 0:
                with open(jar + ".failed", "w") as f:
                    f.write(proc.stdout + proc.stderr)
                return None
            staged = os.path.join(tmp, "staged.jar")
            with zipfile.ZipFile(staged, "w") as zf:
                for dirpath, _dirnames, filenames in os.walk(classes):
                    for fn in filenames:
                        full = os.path.join(dirpath, fn)
                        zf.write(full, os.path.relpath(full, classes))
            os.replace(staged, jar)
    except (OSError, subprocess.SubprocessError):
        return None
    return jar


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply engine runtime confs to an externally-created session
    (e.g. the driver's) — only the ones safe to flip post-start —
    and ship the package to Python workers."""
    for k, v in DEFAULT_CONFS.items():
        if k.startswith(("spark.sql.adaptive", "spark.sql.session",
                         "spark.sql.shuffle", "spark.sql.autoBroadcast",
                         "spark.sql.execution.arrow",
                         "spark.sql.parser")):
            try:
                # set only on divergence: escapedStringLiterals emits
                # a deprecation WARN on every set in Spark 4
                if spark.conf.get(k, None) != v:
                    spark.conf.set(k, v)
            except Exception:
                pass  # conf locked by the host session; keep going
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable inside Python WORKERS regardless
    of the driver's cwd/PYTHONPATH: module-level Pandas-UDF helpers
    (multimodal decode, featurizer) pickle BY REFERENCE, so the
    worker re-imports the package at task deserialization. When the
    host process launched from the repo directory that import works
    by cwd accident; from anywhere else it raises
    ModuleNotFoundError (caught by a cold-cwd driver-contract run,
    round 6). ``addPyFile`` with a zip of the package is the same
    mechanism a real cluster deployment uses (``--py-files``) — one
    zip per session, shipped once, appended to every executor's
    ``sys.path``."""
    marker = "_bspe_pkg_shipped"
    try:
        sc = spark.sparkContext
    except Exception:
        return  # Spark Connect: no SparkContext; cwd/PYTHONPATH fallback
    if getattr(sc, marker, False):
        return
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    tmpdir = tempfile.mkdtemp(prefix="bspe_pyfiles_")
    zpath = os.path.join(tmpdir, "bspe_pkg.zip")
    try:
        with zipfile.ZipFile(zpath, "w") as zf:
            for dirpath, _dirnames, filenames in os.walk(pkg_root):
                if "__pycache__" in dirpath:
                    continue
                for fn in filenames:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(dirpath, fn)
                    rel = os.path.join(
                        os.path.basename(pkg_root),
                        os.path.relpath(full, pkg_root),
                    )
                    zf.write(full, rel)
        try:
            sc.addPyFile(zpath)
        except Exception:
            shutil.rmtree(tmpdir, ignore_errors=True)
            return  # addPyFile unsupported/locked; cwd fallback
        setattr(sc, marker, True)
        # executors fetch the zip LAZILY at first task (measured: an
        # eager rmtree here breaks Executor.updateDependencies), so
        # the staging dir must outlive the session — clean at process
        # exit instead of leaking one /tmp dir per session
        import atexit

        atexit.register(shutil.rmtree, tmpdir, ignore_errors=True)
    except Exception:
        shutil.rmtree(tmpdir, ignore_errors=True)
        raise
