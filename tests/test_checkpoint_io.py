"""Pins on the streaming checkpoint path of ``get_spark`` sessions.

1. Fork counts: local sessions write checkpoints (offset, commit and
   source logs, state-store deltas) through Spark's FileSystem-based
   checkpoint file manager, whose ``file:`` FileSystem sets file modes
   in-process. The FileContext-based default forks a ``readlink``
   process for each existence check inside every rename, and Hadoop's
   stock ``LocalFileSystem`` (without native libhadoop) forks a
   ``chmod`` for every file and directory it creates; both come to
   hundreds per query here. One run puts logging ``readlink`` and
   ``chmod`` wrappers first on the child JVM's ``PATH``; the pins
   assert that no logged call names a path under the checkpoint dir,
   nor, for ``chmod``, under the sink's output dir. They count calls,
   they time nothing, so their results repeat exactly.
2. Integrity: the FileSystem path keeps corruption detection. Spark's
   ``N.delta.crc`` and Hadoop's hidden ``.N.delta.crc`` checksum files
   are written, and a restart in a fresh JVM from a checkpoint whose
   newest committed ``N.delta`` has one flipped byte fails with a
   checksum error, with or without Hadoop's hidden ``.crc`` file.

Each query runs in a subprocess: the fork pins need their own ``PATH``,
and the restart needs a JVM that has not cached the state store.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ``python -c _QUERY <work> <first> <last>``: releases JSON files
# ``first..last`` one at a time into <work>/src/{hr,bp} and drains each
# as a micro-batch of the paper's pipeline, with the checkpoint at
# <work>/ckpt. Prints one JSON line: {"error": null | "<message>"}.
_QUERY = """
import json, os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from biometric_stream_processing_spark.operators import alerting
from biometric_stream_processing_spark.session import get_spark
from biometric_stream_processing_spark.sources import wire
from biometric_stream_processing_spark.streaming import pipeline, sinks

work, first, last = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
src = os.path.join(work, "src")

def release(i):
    t0 = 1_700_000_000_000 + i * 60_000
    rows = {{
        "hr": [dict(user_id=u, heart_rate=150, timestamp=t0 + u * 1000)
               for u in range(1, 6)],
        "bp": [dict(user_id=u, systolic=90, diastolic=60,
                    timestamp=t0 + u * 1000 + 500) for u in range(1, 6)],
    }}
    for kind, recs in rows.items():
        os.makedirs(os.path.join(src, kind), exist_ok=True)
        tmp = os.path.join(work, f"{{kind}}-{{i}}.tmp")
        with open(tmp, "w") as f:
            f.writelines(json.dumps(r) + "\\n" for r in recs)
        os.rename(tmp, os.path.join(src, kind, f"r{{i:04d}}.json"))

release(first)
spark = get_spark("checkpoint-io", master="local[2]",
                  extra_confs={{"spark.sql.shuffle.partitions": "2"}})
hr = wire.read_heart_rate_json(spark, os.path.join(src, "hr"), streaming=True)
bp = wire.read_blood_pressure_json(spark, os.path.join(src, "bp"), streaming=True)
alerts = pipeline.alerts_stream(
    alerting.union_streams(hr, bp), 60, 30, 60,
    hr_pred=(F.col("event_type") == "hr")
    & (F.col("heart_rate") > alerting.HR_THRESHOLD),
    bp_pred=(F.col("event_type") == "bp")
    & (F.col("systolic") < alerting.BP_THRESHOLD),
)
q = sinks.start_with_foreach_batch(
    alerts, sinks.idempotent_parquet_writer(os.path.join(work, "out")),
    os.path.join(work, "ckpt"))
error = None
try:
    q.processAllAvailable()
    for i in range(first + 1, last + 1):
        release(i)
        q.processAllAvailable()
except Exception as e:
    error = str(e)
finally:
    q.stop()
print(json.dumps({{"error": error}}))
"""


def _run_query(work: str, first: int, last: int,
               env: dict | None = None) -> str | None:
    proc = subprocess.run(
        [sys.executable, "-c", _QUERY.format(repo=REPO), work,
         str(first), str(last)],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])["error"]


@pytest.fixture(scope="module")
def logged_run(tmp_path_factory):
    """One run of the query with logging ``readlink`` and ``chmod``
    wrappers first on the child's ``PATH``: (work dir, {tool: log})."""
    tmp = tmp_path_factory.mktemp("forks")
    bindir = tmp / "bin"
    bindir.mkdir()
    work = os.path.realpath(tmp / "work")
    os.makedirs(work)
    env = {**os.environ, "PATH": f"{bindir}{os.pathsep}{os.environ['PATH']}"}
    logs = {}
    for tool, canary, echoed in (("readlink", ["-f", work], work),
                                 ("chmod", ["u+w", work], "")):
        real = shutil.which(tool)
        assert real, f"{tool} not on PATH"
        log = logs[tool] = tmp / f"{tool}.log"
        wrapper = bindir / tool
        wrapper.write_text(
            "#!/bin/sh\n"
            f"printf '%s\\n' \"$*\" >> '{log}'\n"
            f"exec '{real}' \"$@\"\n"
        )
        wrapper.chmod(0o755)
        # the wrapper is live in the child's environment
        proc = subprocess.run([tool, *canary], env=env,
                              capture_output=True, text=True, check=True)
        assert proc.stdout.strip() == echoed, tool
        assert work in log.read_text(), tool
    assert _run_query(work, 1, 3, env) is None
    assert os.path.isdir(os.path.join(work, "ckpt", "state", "0", "0"))
    return work, logs


def test_local_checkpoint_writes_fork_no_readlink(logged_run):
    """At Spark's default checkpoint manager this logs hundreds of
    ``readlink`` calls on checkpoint files; with the FileSystem-based
    manager it logs none."""
    work, logs = logged_run
    ckpt = os.path.join(work, "ckpt")
    on_ckpt = [ln for ln in logs["readlink"].read_text().splitlines()
               if ckpt in ln]
    assert not on_ckpt, (
        f"{len(on_ckpt)} readlink forks on checkpoint files, e.g. "
        f"{on_ckpt[:5]}"
    )


def test_local_writes_fork_no_chmod(logged_run):
    """Hadoop's stock ``LocalFileSystem`` logs dozens of ``chmod`` calls
    per micro-batch here; the session's fork-free ``file:`` FileSystem
    logs none on checkpoint or sink files, and its checksum layer still
    writes Hadoop's hidden ``.N.delta.crc``."""
    work, logs = logged_run
    ckpt, out = os.path.join(work, "ckpt"), os.path.join(work, "out")
    forks = [ln for ln in logs["chmod"].read_text().splitlines()
             if ckpt in ln or out in ln]
    assert not forks, (
        f"{len(forks)} chmod forks on checkpoint or sink files, e.g. "
        f"{forks[:5]}"
    )
    assert os.listdir(out)
    part = os.path.join(ckpt, "state", "0", "0")
    newest = max(int(n.split(".")[0]) for n in os.listdir(part)
                 if n.endswith(".delta"))
    assert os.path.exists(os.path.join(part, f".{newest}.delta.crc"))


def test_corrupt_state_delta_fails_restart_with_checksum_error(tmp_path):
    """Both checksum layers catch a flipped byte in the newest committed
    state delta. With Hadoop's hidden ``.N.delta.crc`` present the
    first check to read the file wins: Hadoop's ``ChecksumException``
    on the FileSystem path, Spark's verification on the FileContext
    path. With it deleted, Spark's ``N.delta.crc`` alone must catch it."""
    work = str(tmp_path)
    assert _run_query(work, 1, 3) is None
    part = os.path.join(work, "ckpt", "state", "0", "0")
    versions = sorted(int(n.split(".")[0]) for n in os.listdir(part)
                      if n.endswith(".delta"))
    assert versions, os.listdir(part)
    for v in versions:
        assert os.path.exists(os.path.join(part, f"{v}.delta.crc")), v
    newest = os.path.join(part, f"{versions[-1]}.delta")
    with open(newest, "r+b") as f:
        data = f.read()
        f.seek(len(data) // 2)
        f.write(bytes([data[len(data) // 2] ^ 0xFF]))

    error = _run_query(work, 4, 4)
    assert error is not None and (
        "ChecksumException" in error
        or "CHECKPOINT_FILE_CHECKSUM_VERIFICATION_FAILED" in error
    ), error

    os.remove(os.path.join(part, f".{versions[-1]}.delta.crc"))
    error = _run_query(work, 4, 4)
    assert error is not None and (
        "CHECKPOINT_FILE_CHECKSUM_VERIFICATION_FAILED" in error
    ), error
