"""The alert throttle on Spark 4's ``transformWithStateInPandas``
StatefulProcessor API — the modern form of SURVEY §2.7's T1-T3 keyed
state machines (`BiometricAlertStreamProcessor.scala:67-85`,
`Akka...scala:129-151`, `Kafka...scala:65-104`), with typed state
handles instead of an opaque tuple.

The state machine itself is ``state.leading_throttle_step``, shared
with the ``applyInPandasWithState`` adapter ``state.leading_throttle_fn``;
this processor only keeps its state in a ValueState (last alert) and a
ListState (the watermark-GC'd event history). It exercises the forward
API (per-key timers, composite state, TTL support) that a
RocksDB-backed 100 TB deployment would use.

ENVIRONMENT GATE: transformWithStateInPandas talks to the JVM state
server over protobuf. Where ``google.protobuf`` is not installed the
path cannot execute (``HAS_TWS_RUNTIME`` below), and the runtime test
skips.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from .state import OUTPUT_SCHEMA, leading_throttle_step, throttle_keyed_events

try:  # pragma: no cover - environment probe
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401
    HAS_TWS_RUNTIME = True
except ImportError:
    HAS_TWS_RUNTIME = False


class ThrottleProcessor(StatefulProcessor):
    """Per-user alert-episode state machine (T1 canonical)."""

    def __init__(self, length_s: int, slide_s: int, cooldown_s: int):
        self.length_s = length_s
        self.slide_s = slide_s
        self.cooldown_s = cooldown_s

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.last_alert = handle.getValueState("last_alert", "last long")
        self.history = handle.getListState("history", "es long, hr boolean")

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timer_values
    ) -> Iterator[pd.DataFrame]:
        last = self.last_alert.get()
        hist = list(self.history.get())
        last_alert, ev_es, ev_hr, alerts = leading_throttle_step(
            last[0] if last is not None else None,
            [r[0] for r in hist], [r[1] for r in hist], rows,
            timer_values.getCurrentWatermarkInMs() // 1000, key[0],
            self.length_s, self.slide_s, self.cooldown_s,
        )
        self.history.clear()
        if ev_es:
            self.history.appendList(list(zip(ev_es, ev_hr)))
        if last_alert is not None:
            self.last_alert.update((last_alert,))
        yield alerts

    def close(self) -> None:
        pass


def alerts_stream_tws(
    events: DataFrame,
    length_s: int,
    slide_s: int,
    cooldown_s: int,
    watermark_delay: str = "0 seconds",
    hr_pred=None,
    bp_pred=None,
) -> DataFrame:
    """Leading-edge throttled alerts via transformWithStateInPandas
    (eventTime mode)."""
    keyed = throttle_keyed_events(events, watermark_delay, hr_pred, bp_pred)
    return keyed.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=ThrottleProcessor(length_s, slide_s, cooldown_s),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Append",
        timeMode="EventTime",
    )
