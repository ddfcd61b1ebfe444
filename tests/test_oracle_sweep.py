"""Every registered entry against its DuckDB oracle at sf0.01.

Runs the full ``tools/check_oracle.py`` sweep (row count, column names
and the order-insensitive value hash of every entry) in a subprocess,
so the sweep gets its own session with the tool's 4g heap while the
tests' session keeps its own. The per-round correctness gate reads
only the first 50 registered entries; this checks all of them on
every change.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SWEEP_SF_DIR = SF_DIR.replace("sf0.001", "sf0.01")


def test_every_entry_matches_its_oracle():
    if not os.path.isdir(SWEEP_SF_DIR):
        pytest.skip(f"no test data at {SWEEP_SF_DIR}")
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod

    n = len(entrymod.queries())
    proc = subprocess.run(
        [sys.executable, os.path.join("tools", "check_oracle.py"),
         SWEEP_SF_DIR],
        cwd=ROOT, capture_output=True, text=True, timeout=1500,
    )
    lines = proc.stdout.splitlines()
    # FAIL lines and the indented diff samples under them
    failures = [ln for ln in lines
                if ln.startswith("FAIL") or ln.startswith("        ")]
    assert lines and lines[-1] == f"{n}/{n} queries OK", (
        "\n".join(failures) or proc.stderr[-4000:]
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
