"""Pins on the Python daemon of ``get_spark`` sessions.

Local sessions start their Python workers from
``pyworker/bspe_daemon.py`` (``session._PY_DAEMON_MODULE``): Spark's
stock daemon behind a ``zipimporter.invalidate_caches`` that re-reads
an archive only when it changed, where the stock method re-reads the
whole central directory once per importer at every task.

1. ``_session_confs`` names the module and puts its directory on the
   daemon's ``PYTHONPATH`` for local masters only, joined with a
   caller's path and never over a caller's own daemon module.
2. Once the patch is in, an unchanged archive is not read again, its
   importers share one read, and a rewritten archive is read again and
   serves its new modules.
3. The tests' session really runs its workers under the patch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from biometric_stream_processing_spark import session

_KEYS = ("spark.python.daemon.module", "spark.executorEnv.PYTHONPATH")


def test_local_masters_get_the_daemon():
    for master in ("local", "local[4]"):
        confs = session._session_confs(master, None)
        assert confs["spark.python.daemon.module"] == "bspe_daemon", master
        assert confs["spark.executorEnv.PYTHONPATH"] == (
            session._PY_DAEMON_DIR
        ), master
    assert os.path.isfile(os.path.join(session._PY_DAEMON_DIR,
                                       "bspe_daemon.py"))
    assert not set(_KEYS) & set(session.DEFAULT_CONFS)


def test_caller_confs_are_joined_or_kept():
    confs = session._session_confs("local[2]", {
        "spark.executorEnv.PYTHONPATH": "/srv/caller-lib",
        "spark.python.daemon.module": "my_daemon",
    })
    assert confs["spark.python.daemon.module"] == "my_daemon"
    assert confs["spark.executorEnv.PYTHONPATH"] == (
        f"/srv/caller-lib{os.pathsep}{session._PY_DAEMON_DIR}"
    )


def test_no_daemon_for_non_local_masters():
    for master in ("local-cluster[2,1,1024]", "spark://host:7077", "yarn"):
        confs = session._session_confs(master, None)
        assert not set(_KEYS) & set(confs), (master, confs)


# Counts ``zipimport._read_directory`` calls for one archive whose
# package and subpackage each have an importer: under the stock method,
# then at the patch's seeding, then for an unchanged and a rewritten
# archive. Prints one JSON line.
_ZIP_READS = """
import importlib, json, os, sys, zipfile, zipimport
sys.path.insert(0, {daemon_dir!r})
import bspe_daemon

archive = sys.argv[1]

def write(version):
    with zipfile.ZipFile(archive + ".tmp", "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
        zf.writestr("zpkg/sub/__init__.py", "")
        zf.writestr(f"zpkg/sub/m{{version}}.py", f"V = {{version}}")
    os.replace(archive + ".tmp", archive)

write(1)
sys.path.insert(0, archive)
import zpkg.sub.m1

reads = []
stock_read = zipimport._read_directory

def counting_read(path):
    reads.append(path)
    return stock_read(path)

zipimport._read_directory = counting_read

def reads_of(action):
    del reads[:]
    action()
    return reads.count(archive)

out = {{
    "importers": sum(
        isinstance(f, zipimport.zipimporter) and f.archive == archive
        for f in sys.path_importer_cache.values()
    ),
    "stock": reads_of(importlib.invalidate_caches),
    "seeded": reads_of(bspe_daemon._skip_unchanged_zip_rereads),
    "unchanged": reads_of(importlib.invalidate_caches),
}}
write(2)
out["rewritten"] = reads_of(importlib.invalidate_caches)
import zpkg.sub.m2
out["new_module"] = zpkg.sub.m2.V
print(json.dumps(out))
"""


def test_unchanged_zip_is_not_read_again(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c",
         _ZIP_READS.format(daemon_dir=session._PY_DAEMON_DIR),
         str(tmp_path / "lib.zip")],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["importers"] >= 3, got
    assert got["stock"] == got["importers"], got  # the count sees reads
    assert got["seeded"] == 1, got  # importers share one read
    assert got["unchanged"] == 0, got
    assert got["rewritten"] == 1 and got["new_module"] == 2, got


def test_python_workers_run_the_patched_invalidate_caches(spark):
    def report(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        code = zipimport.zipimporter.invalidate_caches.__code__
        yield pd.DataFrame({"file": [code.co_filename]})

    files = {
        r.file for r in spark.range(2, numPartitions=2)
        .mapInPandas(report, "file string").collect()
    }
    daemon = os.path.join(session._PY_DAEMON_DIR, "bspe_daemon.py")
    assert len(files) == 1 and os.path.samefile(files.pop(), daemon), files
