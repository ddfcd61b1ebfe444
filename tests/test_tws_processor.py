"""transformWithStateInPandas throttle. The runtime test needs
``google.protobuf`` (the TWS Python worker talks to the JVM state
server over protobuf); where it is absent, as here, that test skips.
The state machine is ``state.leading_throttle_step``, shared with the
applyInPandasWithState adapter; both adapters are driven here through
fake state objects over the same micro-batches.
"""

from __future__ import annotations

import pandas as pd
import pytest

from biometric_stream_processing_spark.streaming.processor import (
    HAS_TWS_RUNTIME,
    ThrottleProcessor,
    alerts_stream_tws,
)
from biometric_stream_processing_spark.streaming.state import (
    _qualifying_wstarts,
    leading_throttle_fn,
)
from tests.test_round8_properties import FakeGroupState


def test_qualifying_wstarts_algebra():
    """The shared window-assignment core (`Akka...scala:44-56`): both
    kinds required, epoch-aligned starts, length/slide multiplicity."""
    es = [100, 103]
    assert _qualifying_wstarts(es, [True, False], 5, 1) == [99, 100]
    assert _qualifying_wstarts(es, [True, True], 5, 1) == []      # no bp
    assert _qualifying_wstarts([100, 104], [True, False], 5, 1) == [100]
    assert _qualifying_wstarts([100, 105], [True, False], 5, 1) == []


@pytest.mark.skipif(not HAS_TWS_RUNTIME,
                    reason="google.protobuf missing in this environment")
def test_tws_fixture_a(spark, tmp_path):
    import uuid
    from datetime import datetime, timedelta

    from biometric_stream_processing_spark.streaming.pipeline import (
        run_stream_to_memory,
    )

    T0 = datetime(2024, 1, 1)
    SCHEMA = "ts timestamp, event_type string, user_id long, value double"
    rows = [
        (T0, "bp", 12345, 120.0), (T0, "bp", 12346, 80.0),
        (T0 + timedelta(seconds=2), "hr", 12346, 101.0),
        (T0 + timedelta(seconds=300), "hr", 1, 50.0),
    ]
    d = str(tmp_path / "in")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(d)
    src = spark.readStream.schema(SCHEMA).parquet(d)
    out = alerts_stream_tws(src, 5, 1, 5)
    res = run_stream_to_memory(
        out, "tws" + uuid.uuid4().hex[:6], str(tmp_path / "ckpt")
    )
    assert [r.user_id for r in res.collect()] == [12346]


class _ValueState:
    def __init__(self) -> None:
        self.v: tuple | None = None

    def get(self):
        return self.v

    def update(self, v) -> None:
        self.v = tuple(v)


class _ListState:
    def __init__(self) -> None:
        self.rows: list[tuple] = []

    def get(self):
        return iter(list(self.rows))

    def clear(self) -> None:
        self.rows = []

    def appendList(self, rows) -> None:
        self.rows.extend(tuple(r) for r in rows)


class _Handle:
    """The slice of StatefulProcessorHandle ThrottleProcessor touches;
    records each state's name and schema."""

    def __init__(self) -> None:
        self.schemas: dict[str, str] = {}

    def getValueState(self, name: str, schema: str) -> _ValueState:
        self.schemas[name] = schema
        return _ValueState()

    def getListState(self, name: str, schema: str) -> _ListState:
        self.schemas[name] = schema
        return _ListState()


class _TimerValues:
    def __init__(self, wm_ms: int) -> None:
        self.wm_ms = wm_ms

    def getCurrentWatermarkInMs(self) -> int:
        return self.wm_ms


def test_tws_adapter_matches_apply_in_pandas_adapter():
    """Both adapters over one user's micro-batches (L=10, S=1, C=30):
    hr-only (no alert; the two "never alerted" encodings), the first
    episode, a late row plus a pair inside the cooldown (suppressed),
    a pair past the cooldown (re-arm) while the watermark passes the
    first events' ``es + length`` (history GC), then a lone hr row."""
    L, S, C = 10, 1, 30
    B, uid = 1_700_000_000, 7
    # (watermark second, [(es, is_hr), ...]) per micro-batch
    batches = [
        (0, [(B - 50, True)]),
        (B - 50, [(B, False), (B + 2, True)]),
        (B + 2, [(B - 100, True), (B + 10, False), (B + 11, True)]),
        (B + 11, [(B + 40, False), (B + 41, True)]),
        (B + 41, [(B + 45, True)]),
    ]
    proc = ThrottleProcessor(L, S, C)
    handle = _Handle()
    proc.init(handle)
    assert handle.schemas == {
        "last_alert": "last long", "history": "es long, hr boolean",
    }
    fn = leading_throttle_fn(L, S, C)
    gs = FakeGroupState()

    emitted = []
    for wm_s, rows in batches:
        pdf = pd.DataFrame({
            "user_id": [uid] * len(rows),
            "es": [e for e, _ in rows],
            "hr_q": [h for _, h in rows],
            "bp_q": [not h for _, h in rows],
        })
        tws_out = pd.concat(list(proc.handleInputRows(
            (uid,), iter([pdf]), _TimerValues(wm_s * 1000)
        )))
        gs.wm_ms = wm_s * 1000
        apply_out = pd.concat(list(fn((uid,), iter([pdf]), gs)))
        tws_rows = list(tws_out.itertuples(index=False, name=None))
        assert tws_rows == list(apply_out.itertuples(index=False,
                                                     name=None))
        last, ev_es, ev_hr = gs.get
        assert proc.history.rows == list(zip(ev_es, ev_hr))
        assert proc.last_alert.get() == (None if last is None else (last,))
        emitted.append([w for _, w, _ in tws_rows])

    # first qualifying window B-7; re-armed at B+32 > B-7 + C
    assert emitted == [[], [B - 7], [], [B + 32], []]
    # late B-100 never joined; B-50 .. B+11 GC'd once the watermark
    # passed es + L
    assert proc.history.rows == [
        (B + 40, False), (B + 41, True), (B + 45, True),
    ]


def test_apply_in_pandas_adapter_stores_null_for_never_alerted():
    """``STATE_SCHEMA`` stores "never alerted" as null, so a window
    starting before the epoch is an ordinary last alert: over
    [(0, bp), (2, hr)] then [(3, bp), (4, hr)] (L=5, S=1, C=30) the
    first batch alerts window -2 and the second stays inside its
    cooldown, so -2 is emitted once."""
    fn = leading_throttle_fn(5, 1, 30)
    gs = FakeGroupState()
    emitted = []
    for rows in ([(0, False), (2, True)], [(3, False), (4, True)]):
        pdf = pd.DataFrame({
            "user_id": [1] * len(rows),
            "es": [e for e, _ in rows],
            "hr_q": [h for _, h in rows],
            "bp_q": [not h for _, h in rows],
        })
        out = pd.concat(list(fn((1,), iter([pdf]), gs)))
        emitted.append(out["alert_epoch"].tolist())
    assert emitted == [[-2], []]
    assert gs.get[0] == -2
