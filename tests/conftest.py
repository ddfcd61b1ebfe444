from __future__ import annotations

import os
import sys
import time
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from biometric_stream_processing_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


def write_stream_batch(df, indir) -> None:
    """Append ``df`` to ``indir`` as one parquet file and stamp it one
    second past every part file already there (never before now). The
    file stream source orders new files by modification time, so
    successive calls become successive micro-batches under
    ``maxFilesPerTrigger=1`` without sleeping between writes."""
    d = Path(indir)
    old = set(d.glob("part-*"))
    df.coalesce(1).write.mode("append").parquet(str(d))
    stamp = max([int(time.time())]
                + [int(f.stat().st_mtime) + 1 for f in old])
    for f in set(d.glob("part-*")) - old:
        os.utime(f, (stamp, stamp))


def pytest_collection_modifyitems(config, items):
    """DEEP FUZZ MODE: SPARK_GRAFT_HYP_SCALE=k multiplies every
    module-level hypothesis suite's example budget (CI default 1 =
    no-op). Lets the pre-verdict soak run the same properties at
    10-50× without 28 per-file budget edits; uses hypothesis'
    wrapped-test settings attribute, so a rename in a future
    hypothesis just degrades to the no-op default (guarded getattr).
    Inner `@settings`-decorated closures (a handful of tests build
    the property inside the test body for fixture access) keep their
    own budgets — the scale covers the module-level majority."""
    import os

    scale = float(os.environ.get("SPARK_GRAFT_HYP_SCALE", "1"))
    if scale == 1:
        return
    from hypothesis import settings as hsettings

    for item in items:
        fn = getattr(item, "function", None)
        s = getattr(fn, "_hypothesis_internal_use_settings", None)
        if s is None or s.max_examples is None:
            continue
        fn._hypothesis_internal_use_settings = hsettings(
            parent=s, max_examples=max(1, int(s.max_examples * scale))
        )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]",
                  extra_confs={"spark.sql.shuffle.partitions": "8"})
    yield s
