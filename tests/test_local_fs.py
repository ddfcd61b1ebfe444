"""Pins on the ``file:`` FileSystem of ``get_spark`` sessions.

Local sessions swap Hadoop's ``LocalFileSystem`` for
``bspe.fs.ForkFreeLocalFileSystem`` (``session._FORK_FREE_FS_CLASS``),
compiled from the package's Java source. Its raw layer sets mode bits
in-process instead of forking ``chmod``; nothing else changes.

1. The tests' session uses it, and it is still a checksummed
   ``LocalFileSystem`` (``FileSystem.getLocal`` casts to that class).
2. Every mode it sets is the one the stock class sets for the same
   call: a created file and its hidden ``.crc``, ``mkdirs`` with 0750,
   ``setPermission`` with and without the sticky bit.
3. It is never named to a JVM that cannot load it: without ``javac``
   the session confs omit both keys, and a JVM launched without the jar
   (by a plain builder, or by ``spark-submit``) keeps the stock class.
   Neither do masters whose executors are JVMs of their own.
4. ``tune_session`` (host sessions) sets neither key.
5. ``javac`` runs once per source hash; later lookups reuse the jar.
6. An overwriting checkpoint write replaces the file, as on HDFS.
"""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import zipfile

import pytest

from biometric_stream_processing_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_KEYS = ("spark.driver.extraClassPath", "spark.hadoop.fs.file.impl")


@pytest.fixture
def fresh_jar_lookup():
    """Clears the memoized jar lookup before and after the test, so a
    patched environment neither sees nor leaves a memoized result."""
    session._fork_free_fs_jar.cache_clear()
    yield
    session._fork_free_fs_jar.cache_clear()


def _local_fs(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def test_session_file_fs_is_the_fork_free_class(spark):
    if shutil.which("javac") is None:
        pytest.skip("no JDK javac: sessions keep Hadoop's LocalFileSystem")
    jvm = spark._jvm
    fs = _local_fs(spark)
    assert fs.getClass().getName() == session._FORK_FREE_FS_CLASS
    assert fs.getRawFileSystem().getClass().getName() == (
        session._FORK_FREE_FS_CLASS + "$Raw"
    )
    local = jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsparkSession.sessionState().newHadoopConf()
    )
    for parent in ("org.apache.hadoop.fs.LocalFileSystem",
                   "org.apache.hadoop.fs.ChecksumFileSystem"):
        assert jvm.java.lang.Class.forName(parent).isInstance(local), parent


def test_mode_bits_match_the_stock_local_fs(spark, tmp_path):
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission
    stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"),
                     spark._jsparkSession.sessionState().newHadoopConf())

    modes = {}
    for name, fs in (("session", _local_fs(spark)), ("stock", stock)):
        d = tmp_path / name
        fs.create(Path(str(d / "a.bin"))).close()
        fs.mkdirs(Path(str(d / "d750")), FsPermission(0o750))
        fs.mkdirs(Path(str(d / "sticky")))
        fs.setPermission(Path(str(d / "sticky")), FsPermission(0o1750))
        fs.create(Path(str(d / "b.bin"))).close()
        fs.setPermission(Path(str(d / "b.bin")), FsPermission(0o600))
        modes[name] = {
            rel: _mode(d / rel)
            for rel in ("a.bin", ".a.bin.crc", "d750", "sticky", "b.bin",
                        ".b.bin.crc")
        }
    assert modes["session"] == modes["stock"], modes
    assert modes["stock"]["d750"] == 0o750
    assert modes["stock"]["sticky"] == 0o1750
    assert modes["stock"]["b.bin"] == modes["stock"][".b.bin.crc"] == 0o600


def test_overwriting_checkpoint_write_replaces_the_file(spark, tmp_path):
    """``createAtomic(overwriteIfPossible=true)`` over an existing file
    (a state-store delta rewritten when a batch re-runs) replaces it, as
    Hadoop's ``LocalFileSystem`` and HDFS do. Hive's
    ``ProxyLocalFileSystem``, the stock ``file:`` class of the PySpark
    distribution, refuses to rename onto a file, and Spark then keeps
    the old bytes without an error."""
    if shutil.which("javac") is None:
        pytest.skip("no JDK javac: sessions keep the stock class")
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(
            Path(str(tmp_path)),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )
    for payload in (b"first", b"second"):
        out = manager.createAtomic(Path(str(tmp_path / "1.delta")), True)
        out.write(bytearray(payload))
        out.close()
    assert (tmp_path / "1.delta").read_bytes() == b"second"


def test_missing_javac_keeps_the_stock_fs(monkeypatch, fresh_jar_lookup):
    defaults = dict(session.DEFAULT_CONFS)
    monkeypatch.setattr(session.shutil, "which", lambda _name: None)
    confs = session._session_confs("local[2]", None)
    assert not set(_KEYS) & set(confs), confs
    assert session.DEFAULT_CONFS == defaults
    assert not set(_KEYS) & set(session.DEFAULT_CONFS)


def test_gateway_launched_elsewhere_keeps_the_stock_fs(monkeypatch):
    """Under ``spark-submit`` the JVM runs before Python starts, without
    the jar on its class path."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    confs = session._session_confs("local[2]", None)
    assert not set(_KEYS) & set(confs), confs


def test_no_fork_free_fs_for_non_local_masters():
    for master in ("local-cluster[2,1,1024]", "spark://host:7077", "yarn"):
        confs = session._session_confs(master, None)
        assert not set(_KEYS) & set(confs), (master, confs)


# A JVM launched without the jar (a plain builder), stopped, then a
# ``get_spark`` session in the same JVM: it must keep the class the
# plain session had and still write files. (That stock class is Hive's
# ``ProxyLocalFileSystem`` when hive-exec is on the class path, as in
# the PySpark distribution: its ServiceLoader entry wins ``file:``.)
_RUNNING_JVM = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from biometric_stream_processing_spark import session

def fs_class(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"),
        spark._jsparkSession.sessionState().newHadoopConf(),
    ).getClass().getName()

plain = SparkSession.builder.master("local[1]").getOrCreate()
stock = fs_class(plain)
plain.stop()
confs = session._session_confs("local[1]", None)
spark = session.get_spark("running-jvm", master="local[1]")
spark.range(3).write.parquet(sys.argv[1])
print(json.dumps({{"keys": sorted(set(confs) & set({keys!r})),
                  "stock": stock, "fs": fs_class(spark),
                  "rows": spark.read.parquet(sys.argv[1]).count()}}))
"""


def test_running_jvm_without_the_class_keeps_the_stock_fs(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c",
         _RUNNING_JVM.format(repo=REPO, keys=list(_KEYS)),
         str(tmp_path / "out")],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["keys"] == [] and got["rows"] == 3, got
    assert got["fs"] == got["stock"] != session._FORK_FREE_FS_CLASS, got


def test_tune_session_sets_neither_key():
    class Conf:
        def __init__(self):
            self.set_keys = []

        def get(self, key, default=None):
            return default

        def set(self, key, value):
            self.set_keys.append(key)

    class HostSession:
        conf = Conf()

        @property
        def sparkContext(self):
            raise RuntimeError("no SparkContext")

    host = HostSession()
    session.tune_session(host)
    assert host.conf.set_keys  # it did set the runtime confs
    assert not set(_KEYS) & set(host.conf.set_keys), host.conf.set_keys


def test_javac_runs_once_per_source_hash(monkeypatch, tmp_path,
                                         fresh_jar_lookup):
    if shutil.which("javac") is None:
        pytest.skip("no JDK javac")
    monkeypatch.setenv("HOME", str(tmp_path))
    real_run = subprocess.run
    calls = []

    def counting_run(cmd, *args, **kwargs):
        calls.append(cmd[0])
        return real_run(cmd, *args, **kwargs)

    monkeypatch.setattr(session.subprocess, "run", counting_run)
    jar = session._fork_free_fs_jar()
    assert jar and jar.startswith(str(tmp_path)), jar
    assert session._fork_free_fs_jar() == jar  # memoized in-process
    session._fork_free_fs_jar.cache_clear()
    assert session._fork_free_fs_jar() == jar  # reused from disk
    assert len(calls) == 1 and calls[0].endswith("javac"), calls
    with zipfile.ZipFile(jar) as zf:
        assert sorted(zf.namelist()) == [
            "bspe/fs/ForkFreeLocalFileSystem$Raw.class",
            "bspe/fs/ForkFreeLocalFileSystem.class",
        ]
    assert os.listdir(os.path.dirname(jar)) == [os.path.basename(jar)]
