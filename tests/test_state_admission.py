"""``state._admitted_rows``: the late-data drop and (event time,
event_id) order shared by the ``applyInPandasWithState`` kernels."""

from __future__ import annotations

import pandas as pd

from biometric_stream_processing_spark.streaming.state import (
    _admitted_rows,
)

COLS = ("tus", "event_id", "event_type", "value")


def _pdf(rows):
    return pd.DataFrame(rows, columns=list(COLS))


def test_row_at_the_watermark_is_kept():
    pdf = _pdf([(999, 1, "a", 1.0), (1000, 2, "b", 2.0),
                (1001, 3, "c", 3.0)])
    assert [r[1] for r in _admitted_rows([pdf], 1000, COLS)] == [2, 3]


def test_zero_watermark_keeps_every_row():
    pdf = _pdf([(5, 1, "a", 1.0), (-7, 2, "b", 2.0)])
    assert _admitted_rows([pdf], 0, COLS) == [
        (-7, 2, "b", 2.0), (5, 1, "a", 1.0),
    ]


def test_rows_sort_by_time_then_id_across_frames():
    a = _pdf([(20, 9, "a", 0.0), (10, 5, "b", 0.0)])
    b = _pdf([(10, 2, "c", 0.0), (20, 1, "d", 0.0), (5, 7, "e", 0.0)])
    got = _admitted_rows([a, b], 6, COLS)
    assert [(r[0], r[1]) for r in got] == [(10, 2), (10, 5), (20, 1),
                                           (20, 9)]


def test_values_are_python_scalars():
    big = 2**62
    pdf = _pdf([(big, 3, "x", 0.5)])
    (row,) = _admitted_rows([pdf], 0, COLS)
    assert [type(v) for v in row] == [int, int, str, float]
    # a numpy int64 would wrap here without error
    assert row[0] * row[0] == big * big
