"""``tools/stream_phases.py`` monkeypatches the streaming harness
drivers (``pipeline.run_stream_to_memory`` and
``sinks.start_with_foreach_batch``) to capture per-batch progress. A
failing entry — an unknown name included, in the warm-up as well as in
the timed loop — must be reported, and both module globals must be the
originals once ``main()`` returns."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import biometric_stream_processing_spark.session as session_mod
from biometric_stream_processing_spark.streaming import pipeline, sinks

_TOOL = Path(__file__).resolve().parents[1] / "tools" / "stream_phases.py"


def test_unknown_entry_reports_failure_and_restores_patches(
    spark, monkeypatch, capsys
):
    spec = importlib.util.spec_from_file_location("stream_phases", _TOOL)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    real_mem = pipeline.run_stream_to_memory
    real_fb = sinks.start_with_foreach_batch
    monkeypatch.setattr(session_mod, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(sys, "argv", ["stream_phases.py", "no_such_entry"])

    assert tool.main() == 0

    assert "no_such_entry" in capsys.readouterr().out
    assert pipeline.run_stream_to_memory is real_mem
    assert sinks.start_with_foreach_batch is real_fb
