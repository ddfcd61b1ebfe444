"""``tools/stream_phases.py`` reads per-batch progress from a
``StreamingQueryListener`` it registers for the run: the streaming
harness drivers stay untouched, the listener is removed again, a
failing entry (an unknown name included) is reported, and a live
streaming entry reports its batches."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

import biometric_stream_processing_spark.session as session_mod
from biometric_stream_processing_spark.streaming import pipeline, sinks

_TOOL = Path(__file__).resolve().parents[1] / "tools" / "stream_phases.py"
SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture
def run_tool(spark, monkeypatch, capsys):
    """Run the tool's main() on the test session; returns its stdout
    rows by entry name."""
    spec = importlib.util.spec_from_file_location("stream_phases", _TOOL)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    monkeypatch.setattr(session_mod, "get_spark", lambda *a, **k: spark)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_DIR)

    def run(*names):
        real_mem = pipeline.run_stream_to_memory
        real_fb = sinks.start_with_foreach_batch
        listeners = len(spark._jsparkSession.streams().listListeners())
        monkeypatch.setattr(sys, "argv", ["stream_phases.py", *names])
        assert tool.main() == 0
        assert pipeline.run_stream_to_memory is real_mem
        assert sinks.start_with_foreach_batch is real_fb
        assert len(
            spark._jsparkSession.streams().listListeners()
        ) == listeners
        return {
            line.split()[0]: line.split()[1:]
            for line in capsys.readouterr().out.splitlines()
            if line.split() and line.split()[0] in names
        }

    return run


def test_unknown_entry_is_reported_and_nothing_is_left_behind(run_tool):
    rows = run_tool("no_such_entry")
    assert rows["no_such_entry"][0] == "<failed:"


def test_live_streaming_entry_reports_its_batches(run_tool):
    wall, batches, *_ = run_tool("streaming_alerts")["streaming_alerts"]
    assert float(wall) > 0
    assert int(batches) >= 1
