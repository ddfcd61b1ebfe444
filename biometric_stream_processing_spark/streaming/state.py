"""Arbitrary keyed state with time-based expiry (SURVEY §2.7, the
hard 20%): the strict leading-edge alert throttle as a single
``applyInPandasWithState`` processor over the raw keyed event stream —
the Spark-native form of ``updateStateByKey``'s
``(justTriggered, triggerTime, msg)`` machine
(`BiometricAlertStreamProcessor.scala:67-85`), Akka's
``statefulMapConcat`` debounce (`Akka...scala:129-151`) and Kafka's
``Transformer`` + ``KeyValueStore`` (`Kafka...scala:65-104`).

Why raw events: Structured Streaming forbids a Python stateful
operator AFTER a streaming aggregation in append mode, so the
processor owns the whole per-user pipeline — window assignment
(the `Akka...scala:44-56` algebra), existential flags, and the
cooldown state machine. Like the reference's ``reduceByKeyAndWindow``
(`Spark.scala:56`), qualifying windows are re-evaluated every
micro-batch and emission is EAGER (no waiting for window close); the
cooldown comparison alone dedups re-evaluations — emitting sets
``last_alert`` to the window start, so any window ≤ ``last_alert +
cooldown`` (including every previously-emitted one) is suppressed,
exactly the T1 state transitions.

State per user is (last alert time, bounded recent-event history);
history is GC'd to the engine watermark minus the window length, so
state is O(events per window horizon), not O(stream). Arrow batches
in/out; keys are independent → scales with shuffle partitions.

SAME-SECOND CROSS-BATCH TIE LEDGER (rounds 9-10). A row at exactly
the watermark second is not late, so equal-second ties can straddle
a micro-batch boundary out of (us, event_id) order. Where each
machine stands on that disorder class:

- REPAIRED (state carries a tie arbiter; ordered arrival is exact
  and the repairable inversion classes match the batch total order):
  funnel (hc/hp longs, round 9), attribution (touch_eid, round 10),
  transition (runner-up slot, round 10), cadence (skip guard on the
  remembered (us, event_id), round 10).
- ORDER-FREE SEMANTICS (ties cannot matter): absence — the anti-join
  relation is a set predicate; dedup registries — content-keyed;
  gapfill (round 11) — hour-bucket count/sum are commutative and
  every output field depends only on the hour-index ordering (which
  the watermark enforces), with an all-integer output so no rounding
  tie surface exists; property-tested under permuted arrival and
  arbitrary batch splits in tests/test_round11_properties.py.
- DOCUMENTED TRADE (sequential recurrences whose already-emitted
  rows cannot retract; a tie straddler absorbs in arrival order —
  exact on ordered arrival, the oracled single-batch case, and
  golden-tested for cross-batch cadence): ewma, zscore, scd2. A
  retraction-free repair does not exist for these — the emitted
  value/run at the straddle second is already out — so the honest
  contract is absorption order, stated in each kernel's docstring.

ADMISSION CONTRACT (F6/W4, `Akka...scala:73-76`). The engine only
auto-filters late rows for aggregations and joins, never for a Python
stateful operator, so each machine drops the rows behind the watermark
itself: a row whose event time is below the watermark is late; a row
exactly at it is kept, and a watermark of 0 (none yet) keeps every row.
``_admitted_rows`` applies the rule and returns the survivors as plain
Python values sorted by (event time, event_id), the batch twins' total
order. ``_keyed_state_stream`` builds the matching input: the
watermarked ``user_id, ts, event_id, tus`` projection (``tus`` = event
time in epoch micros) keyed by ``user_id``. ``absence``, ``funnel`` and
``gapfill`` still write the rule inline.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Iterator, Sequence
from operator import itemgetter
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, alert_epoch long, message string"
# last alert window-start epoch (null = never), retained event history
# as parallel arrays (epoch seconds, is_hr flag)
STATE_SCHEMA = "last_alert long, ev_es array<long>, ev_hr array<boolean>"


def _admitted_rows(
    pdfs: Iterable[pd.DataFrame], wm: int, cols: Sequence[str]
) -> "list[tuple]":
    """The rows of ``pdfs`` not behind the watermark, as tuples of
    Python values over ``cols``, sorted by the first two columns.

    ``cols[0]`` is the event time in the unit of ``wm``: a row with
    ``t < wm`` is late and dropped, a row at ``t == wm`` is kept, and
    ``wm == 0`` (no watermark yet) keeps every row. ``tolist`` yields
    Python ``int``/``float``/``str``, never numpy scalars, so a kernel's
    integer sums stay arbitrary-precision."""
    rows: list[tuple] = []
    for pdf in pdfs:
        rows.extend(zip(*(pdf[c].tolist() for c in cols)))
    if wm > 0:
        rows = [r for r in rows if r[0] >= wm]
    rows.sort(key=itemgetter(0, 1))
    return rows


def _keyed_state_stream(
    events: DataFrame, cols: Sequence[Any], fn,
    output_schema: str, state_schema: str, timeout: str,
) -> DataFrame:
    """Run ``fn`` as an append-mode ``applyInPandasWithState`` keyed by
    ``user_id`` over the watermarked ``user_id, ts, event_id, tus,
    *cols`` projection. ``ts`` stays in the projection because an
    event-time timeout needs the watermarked column as input.

    The watermark delay is fixed at 0: the machines are exact only if
    every row older than the newest event time of an earlier batch is
    dropped as late, so no caller may widen it."""
    from pyspark.sql import functions as F

    keyed = events.withWatermark("ts", "0 seconds").select(
        "user_id", "ts", "event_id",
        F.unix_micros(F.col("ts")).alias("tus"), *cols,
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        fn, output_schema, state_schema, "append", timeout,
    )


def _qualifying_wstarts(
    es: "list[int]", is_hr: "list[bool]", length_s: int, slide_s: int
) -> "list[int]":
    """Window starts whose window contains both a qualifying hr and a
    qualifying bp event — the same epoch-aligned assignment algebra as
    operators/windows.py (`Akka...scala:44-56`)."""
    hr_w: set[int] = set()
    bp_w: set[int] = set()
    n = length_s // slide_s
    for e, h in zip(es, is_hr):
        last = (e // slide_s) * slide_s
        target = hr_w if h else bp_w
        for k in range(n):
            target.add(last - k * slide_s)
    return sorted(hr_w & bp_w)


def leading_throttle_step(
    last_alert: "int | None", ev_es: "Iterable[int]",
    ev_hr: "Iterable[bool]", pdfs: Iterable[pd.DataFrame], wm_s: int,
    uid: Any, length_s: int, slide_s: int, cooldown_s: int,
) -> "tuple[int | None, list[int], list[bool], pd.DataFrame]":
    """One micro-batch of the leading-edge throttle for one user, the
    state machine behind both state APIs (``leading_throttle_fn`` and
    ``processor.ThrottleProcessor`` only read and write their state).

    ``last_alert`` is the window start of the last alert (None =
    never), ``ev_es``/``ev_hr`` the retained events as parallel
    (epoch second, is_hr) lists, ``pdfs`` the new ``es``/``hr_q`` rows
    (admitted by ``_admitted_rows``), ``wm_s`` the watermark in epoch
    seconds. Returns the new last alert, the pruned history and the
    alert rows (``OUTPUT_SCHEMA`` columns)."""
    ev_es, ev_hr = list(ev_es), list(ev_hr)
    for es, hq in _admitted_rows(pdfs, wm_s, ("es", "hr_q")):
        ev_es.append(es)
        ev_hr.append(hq)

    out: list[tuple[Any, int, str]] = []
    for w in _qualifying_wstarts(ev_es, ev_hr, length_s, slide_s):
        if last_alert is None or w - last_alert > cooldown_s:
            last_alert = w
            out.append((uid, w, f"User {uid} has a problem"))

    # GC: an event at es only joins windows starting in
    # (es - length, es]; once the watermark passes es + length the
    # event can never change a not-yet-suppressed window.
    if wm_s > 0:
        horizon = wm_s - length_s
        ev_hr = [h for e, h in zip(ev_es, ev_hr) if e >= horizon]
        ev_es = [e for e in ev_es if e >= horizon]
    alerts = pd.DataFrame(out, columns=["user_id", "alert_epoch", "message"])
    return last_alert, ev_es, ev_hr, alerts


def leading_throttle_fn(length_s: int, slide_s: int, cooldown_s: int):
    """Build the per-group stateful function for
    ``applyInPandasWithState``: ``leading_throttle_step`` over the
    ``STATE_SCHEMA`` tuple."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        last, ev_es, ev_hr = state.get if state.exists else (None, [], [])
        last, ev_es, ev_hr, alerts = leading_throttle_step(
            last, ev_es, ev_hr, pdfs,
            state.getCurrentWatermarkMs() // 1000, key[0],
            length_s, slide_s, cooldown_s,
        )
        state.update((last, ev_es, ev_hr))
        yield alerts

    return fn


ABSENCE_OUTPUT_SCHEMA = "event_id long, user_id long, click_us long"
# pending triggers (id, event-time micros) + retained resolver times
ABSENCE_STATE_SCHEMA = (
    "pend_ids array<long>, pend_us array<long>, res_us array<long>"
)


def absence_fn(horizon_s: int):
    """Per-key stateful function for ``absence_stream``: the
    `A NOT FOLLOWED BY B WITHIN T` CEP negation with EVENT-TIME TIMER
    expiry — the first timer-driven emission in the repo (an output
    row exists precisely because nothing arrived).

    State per key: the pending (unresolved, unexpired) triggers plus
    the resolver event times still relevant to FUTURE triggers. Both
    are watermark-bounded: a trigger lives at most ``horizon`` past
    its event time; a resolver at ``r`` can only resolve triggers with
    ``t < r``, and every future trigger arrives with ``t ≥ watermark``,
    so resolvers at ``r ≤ watermark`` are GC'd. Out-of-order arrival
    across micro-batches is therefore handled exactly (a resolver may
    arrive before its trigger).

    Emission: a trigger (id, t) is ABANDONED once the watermark passes
    ``t + horizon`` strictly — no admissible future resolver (all have
    event time ≥ watermark) can satisfy ``r ≤ t + horizon`` anymore.
    The per-key event-time timer re-arms to the earliest pending
    expiry, so expiry fires even when the key never sees data again —
    the unacked-alert semantics a batch job can't give."""
    horizon_us = horizon_s * 1_000_000

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            pend_ids, pend_us, res_us = state.get
            pend = list(zip(pend_ids, pend_us))
            res = list(res_us)
        else:
            pend, res = [], []

        wm_us = state.getCurrentWatermarkMs() * 1000
        for pdf in pdfs:
            for eid, tus, is_trig in zip(
                pdf["event_id"], pdf["tus"], pdf["is_trig"]
            ):
                # late-data drop (F6/W4): the engine only auto-filters
                # late rows for aggregations/joins
                if wm_us > 0 and int(tus) < wm_us:
                    continue
                if bool(is_trig):
                    pend.append((int(eid), int(tus)))
                else:
                    res.append(int(tus))

        # resolve: any resolver strictly after the trigger and within
        # the horizon kills it silently (the batch twin's anti-join)
        if res:
            pend = [
                (eid, t) for eid, t in pend
                if not any(t < r <= t + horizon_us for r in res)
            ]

        # expire: watermark strictly past t + horizon ⇒ abandoned
        out = [
            (eid, key[0], t) for eid, t in pend
            if wm_us > t + horizon_us
        ]
        pend = [(eid, t) for eid, t in pend if wm_us <= t + horizon_us]
        # GC resolvers no future trigger (t ≥ watermark) can need
        res = [r for r in res if r > wm_us]

        if pend or res:
            state.update((
                [eid for eid, _ in pend],
                [t for _, t in pend],
                res,
            ))
            if pend:
                # wake this key when the watermark passes the earliest
                # pending expiry (must be strictly > current watermark)
                next_ms = (min(t for _, t in pend) + horizon_us) // 1000 + 1
                state.setTimeoutTimestamp(
                    max(next_ms, state.getCurrentWatermarkMs() + 1)
                )
        elif state.exists:
            state.remove()

        # constructing a pandas frame per key dominates wall time when
        # most keys emit nothing (measured: the vast majority of users
        # resolve) — yield only non-empty emissions
        if out:
            yield pd.DataFrame(
                out, columns=["event_id", "user_id", "click_us"]
            )

    return fn


def absence_stream(
    events: DataFrame,
    trigger_type: str = "click",
    resolve_type: str = "purchase",
    horizon_s: int = 3600,
    watermark_delay: str = "0 seconds",
    keep_pred=None,
) -> DataFrame:
    """Streaming absence detection (`A NOT FOLLOWED BY B WITHIN T`),
    the streaming twin of ``plans/events_ops.abandoned_within``: one
    ``applyInPandasWithState`` operator keyed by user, with event-time
    timers expiring unresolved triggers. ``keep_pred`` lets a
    watermark-advancing sentinel row survive the input filter (the
    plan pushes filters below the watermark node, so a filtered-out
    sentinel would never advance the clock). Precisely: a kept
    non-trigger row is CLASSIFIED AS A RESOLVER for its own key — a
    sentinel must therefore use a reserved key no real row shares
    (``pipeline.SENTINEL_USER_ID``), where that classification is
    inert; its effect on real keys is only the watermark advance."""
    from pyspark.sql import functions as F

    is_trig = F.col("event_type") == trigger_type
    is_res = F.col("event_type") == resolve_type
    keep = is_trig | is_res
    if keep_pred is not None:
        keep = keep | keep_pred
    # `ts` itself must survive the projection: event-time timeout
    # requires the watermark-tagged TimestampType column in the
    # stateful operator's input, not just a derived long
    keyed = (
        events.withWatermark("ts", watermark_delay)
        .where(keep)
        .select(
            "user_id",
            "event_id",
            "ts",
            F.unix_micros(F.col("ts")).alias("tus"),
            is_trig.alias("is_trig"),
        )
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        absence_fn(horizon_s),
        ABSENCE_OUTPUT_SCHEMA,
        ABSENCE_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


FUNNEL_OUTPUT_SCHEMA = (
    "user_id long, v_es long, c_es long, p_es long, stage int"
)
FUNNEL_STATE_SCHEMA = "v long, c long, p long, hc long, hp long"


def funnel_fn():
    """Per-key stateful function for ``funnel_stream``: the
    view→click→purchase ordered-sequence machine with FIVE LONGS of
    state per user — the O(1)-state streaming form of the batch
    chained-conditional-minima funnel
    (``plans/events_ops.funnel_view_click_purchase``).

    Why O(1) state is exact for EVENT-TIME-MONOTONIC arrival: with
    watermark delay 0 the engine's late-data contract (F6/W4,
    enforced below like the throttle) guarantees no admissible event
    precedes anything already absorbed across batches, and within a
    batch the processor sorts — so the first view encountered IS the
    global earliest view, the first click at-or-after it IS the batch
    plan's conditional minimum, and likewise the purchase. A
    deployment wanting late-regression repair under genuine disorder
    would trade this for O(history) retained events; that trade
    (state vs exactness under disorder) is the documented contract,
    same as the reference's updateStateByKey machine.

    SAME-SECOND TIES sort by funnel-stage rank (view < click <
    purchase), NOT lexically: the batch plan's ``es >= v_es`` is
    INCLUSIVE, so a click sharing the first view's second qualifies —
    a lexical sort would absorb that click before the view and skip
    it (found by the round-8 direct-kernel hypothesis suite). With
    the rank sort the greedy pass equals the chained conditional
    minima exactly: every candidate with es > anchor sorts after the
    anchor by time, and every candidate with es == anchor sorts after
    it by rank.

    The rank sort repairs ties WITHIN a batch; ties that STRADDLE a
    batch boundary stage-inverted (click in batch N, view at the same
    second in batch N+1 — still time-monotonic arrival!) are repaired
    by two extra longs, ``hc``/``hp`` = the max click/purchase second
    seen so far: under monotonic arrival every candidate that arrived
    before its anchor has es ≤ anchor, so the ONLY repairable case is
    es == anchor — detectable as ``hc == v`` (``hp == c``) at
    anchor-landing time, and the repaired value equals the batch
    plan's conditional minimum exactly (found by the round-9
    hypothesis run — the round-8 suite's sort happened to emit this
    arrival order). Under genuine disorder the repair never
    overshoots the order-free reference: the tying candidate passed
    the same late-filter the reference's survivor set uses, so the
    reference grants the same anchor. Exactness guarantee:
    event-time-monotonic arrival, full stop (the oracled single-batch
    source is its degenerate case); property-tested both ways in
    test_round8_properties.py."""

    rank = {"view": 0, "click": 1, "purchase": 2}

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        v, c, p, hc, hp = (
            state.get if state.exists else (-1, -1, -1, -1, -1)
        )

        wm_s = state.getCurrentWatermarkMs() // 1000
        rows: list[tuple[int, int, str]] = []
        for pdf in pdfs:
            for es, et in zip(pdf["es"], pdf["event_type"]):
                if wm_s > 0 and es < wm_s:
                    continue  # late (F6/W4)
                et = str(et)
                rows.append((int(es), rank.get(et, 3), et))
        rows.sort()

        for es, _rk, et in rows:
            if et == "view":
                if v < 0:
                    v = es
                    if c < 0 and hc == v:
                        c = v  # stage-inverted same-second straddle
                        if p < 0 and hp == c:
                            p = c
            elif et == "click":
                hc = max(hc, es)
                if c < 0 and v >= 0 and es >= v:
                    c = es
                    if p < 0 and hp == c:
                        p = c
            elif et == "purchase":
                hp = max(hp, es)
                if p < 0 and c >= 0 and es >= c:
                    p = es

        state.update((v, c, p, hc, hp))
        out = []
        if v >= 0:
            stage = 1 + (c >= 0) + (p >= 0)
            out.append((
                key[0], v,
                c if c >= 0 else None,
                p if p >= 0 else None,
                stage,
            ))
        yield pd.DataFrame(
            out, columns=["user_id", "v_es", "c_es", "p_es", "stage"]
        )

    return fn


def funnel_stream(
    events: DataFrame,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming funnel (CEP ordered-sequence matching): per user,
    the earliest view, the earliest click at-or-after it, and the
    earliest purchase at-or-after that — re-emitted for every user a
    micro-batch touches (the update-mode cadence; over a single-batch
    source the emission log equals the batch funnel relation, its
    DuckDB oracle). Cross-batch progression and the late-event
    contract are golden-tested in test_streaming_funnel.py."""
    from pyspark.sql import functions as F

    keyed = (
        events.withWatermark("ts", watermark_delay)
        .where(F.col("event_type").isin("view", "click", "purchase"))
        .select(
            "user_id", "ts",
            F.unix_timestamp("ts").alias("es"),
            "event_type",
        )
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        funnel_fn(),
        FUNNEL_OUTPUT_SCHEMA,
        FUNNEL_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def throttle_keyed_events(
    events: DataFrame, watermark_delay: str, hr_pred=None, bp_pred=None
) -> DataFrame:
    """The watermarked keyed projection both leading-edge stream
    builders feed their stateful operator: ``user_id``, ``ts``, ``es``
    (epoch seconds) and the ``hr_q``/``bp_q`` flags, keeping only rows
    that raise one. The predicates default to the paper's thresholds
    (hr above ``HR_THRESHOLD``, bp below ``BP_THRESHOLD``)."""
    from pyspark.sql import functions as F

    from ..operators.alerting import BP_THRESHOLD, HR_THRESHOLD

    hr_q = hr_pred if hr_pred is not None else (
        (F.col("event_type") == "hr") & (F.col("value") > HR_THRESHOLD)
    )
    bp_q = bp_pred if bp_pred is not None else (
        (F.col("event_type") == "bp") & (F.col("value") < BP_THRESHOLD)
    )
    return (
        events.withWatermark("ts", watermark_delay)
        .select(
            "user_id",
            "ts",
            F.unix_timestamp("ts").alias("es"),
            hr_q.alias("hr_q"),
            bp_q.alias("bp_q"),
        )
        .where(F.col("hr_q") | F.col("bp_q"))
    )


def alerts_stream_leading(
    events: DataFrame,
    length_s: int,
    slide_s: int,
    cooldown_s: int,
    watermark_delay: str = "0 seconds",
    hr_pred=None,
    bp_pred=None,
) -> DataFrame:
    """Leading-edge throttled alert stream (T2/T3 exact semantics):
    one stateful operator, keyed by user. The engine does not filter
    late rows for a NoTimeout ``applyInPandasWithState``, so
    ``leading_throttle_step`` drops events behind the watermark itself
    (F6/W4, `Akka...scala:73-76`)."""
    keyed = throttle_keyed_events(events, watermark_delay, hr_pred, bp_pred)
    return keyed.groupBy("user_id").applyInPandasWithState(
        leading_throttle_fn(length_s, slide_s, cooldown_s),
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


ZSCORE_OUTPUT_SCHEMA = (
    "event_id long, user_id long, us long, n_prior long, z_raw double"
)
ZSCORE_STATE_SCHEMA = "n long, s long, s2 long"


def zscore_fn(min_prior: int):
    """Per-key stateful function for ``zscore_stream``: running
    prior-window anomaly scoring with THREE LONGS of state per user —
    count, Σcents, Σcents² of everything already absorbed. Each
    admissible reading is scored against the state BEFORE absorbing
    it (strictly-prior semantics — no look-ahead), which is exactly
    the batch twin's ROWS UNBOUNDED PRECEDING .. 1 PRECEDING frame
    (``plans/timeseries_ops.running_zscore``).

    Exactness contract (same as the funnel machine): watermark delay
    0 drops cross-batch late arrivals (F6/W4), and the processor
    sorts within a batch by (us, event_id) — so the absorption order
    equals the batch total order. z is emitted RAW; the engine-side
    ``F.round(…, 6)`` in the wrapper keeps rounding identical to the
    batch plan and the DuckDB oracle (Python's round() is half-even —
    the WAV-decode rounding lesson)."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, s, s2 = state.get if state.exists else (0, 0, 0)
        rows = _admitted_rows(
            pdfs, state.getCurrentWatermarkMs() * 1000,
            ("tus", "event_id", "cents"),
        )

        out = []
        for us, eid, cents in rows:
            z = None
            if n >= min_prior:
                var = (s2 - s * s / n) / (n - 1)
                if var > 0:
                    z = (cents - s / n) / math.sqrt(var)
            out.append((eid, key[0], us, n, z))
            n, s, s2 = n + 1, s + cents, s2 + cents * cents

        state.update((n, s, s2))
        if out:
            yield pd.DataFrame(
                out,
                columns=["event_id", "user_id", "us", "n_prior", "z_raw"],
            )

    return fn


def zscore_stream(
    events: DataFrame,
    min_prior: int,
    threshold: float,
) -> DataFrame:
    """Streaming per-user z-score anomaly flags — the streaming twin
    of ``plans/timeseries_ops.running_zscore_flags``, whose DuckDB
    oracle it shares. O(1) state (count/Σ/Σ²), emission 1-to-1 with
    admissible input rows."""
    from pyspark.sql import functions as F

    scored = _keyed_state_stream(
        events,
        [F.round(F.col("value") * 100).cast("long").alias("cents")],
        zscore_fn(min_prior), ZSCORE_OUTPUT_SCHEMA, ZSCORE_STATE_SCHEMA,
        GroupStateTimeout.NoTimeout,
    )
    zr = F.round(F.col("z_raw"), 6)
    return scored.select(
        "event_id", "user_id", "us", "n_prior",
        zr.alias("z"),
        F.coalesce(F.abs(zr) > threshold, F.lit(False))
         .alias("is_anomaly"),
    )


EWMA_OUTPUT_SCHEMA = "event_id long, user_id long, us long, ewma_raw double"
# the chain's running smoothed value (seedless start = first reading)
EWMA_STATE_SCHEMA = "ewma double"


def ewma_fn(alpha: float):
    """Per-key stateful function for ``ewma_stream``: the T1-family
    streaming form of the batch EWMA recurrence
    (``plans/timeseries_ops.ewma``) with ONE DOUBLE of state per user
    — s₁ = v₁, sᵢ = α·vᵢ + (1−α)·sᵢ₋₁ over (us, event_id) order.

    Bit-parity: α = 0.25 is dyadic; IEEE addition is commutative, so
    this plain recurrence, pandas' C-level ``ewm(adjust=False)`` in
    the batch kernel, and the DuckDB recursive CTE all produce the
    same double sequence. Exactness contract as the zscore machine:
    watermark delay 0 drops cross-batch late arrivals (F6/W4), the
    in-batch (us, event_id) sort makes absorption order equal the
    batch total order. The smoothed value is emitted RAW; the wrapper
    rounds engine-side (half-up, matching the batch plan and
    oracle)."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        s = state.get[0] if state.exists else None
        rows = _admitted_rows(
            pdfs, state.getCurrentWatermarkMs() * 1000,
            ("tus", "event_id", "cents"),
        )

        out = []
        for us, eid, cents in rows:
            v = float(cents)
            s = v if s is None else alpha * v + (1.0 - alpha) * s
            out.append((eid, key[0], us, s))

        if s is not None:
            state.update((s,))
        yield pd.DataFrame(
            out, columns=["event_id", "user_id", "us", "ewma_raw"]
        )

    return fn


def ewma_stream(events: DataFrame, alpha: float) -> DataFrame:
    """Streaming per-user EWMA — the streaming twin of
    ``plans/timeseries_ops.user_value_ewma``, whose DuckDB oracle it
    shares. O(1) state (one smoothed double), emission 1-to-1 with
    admissible input rows."""
    from pyspark.sql import functions as F

    smoothed = _keyed_state_stream(
        events,
        [F.round(F.col("value") * 100).cast("long").alias("cents")],
        ewma_fn(alpha), EWMA_OUTPUT_SCHEMA, EWMA_STATE_SCHEMA,
        GroupStateTimeout.NoTimeout,
    )
    return smoothed.select(
        "user_id", "event_id", "us",
        F.round(F.col("ewma_raw"), 6).alias("ewma_cents"),
    )


SCD2_OUTPUT_SCHEMA = (
    "user_id long, run_id long, state string, valid_from_us long, "
    "valid_to_us long, n_events long"
)
SCD2_STATE_SCHEMA = (
    "cur_state string, valid_from long, n long, run_id long"
)
#: timer timestamp (ms) between all real data and the far-future
#: sentinel (7e15 µs): keys flush their OPEN run only when the
#: sentinel pushes the watermark past this — an ordinary batch
#: advancing the clock must NOT flush (more data may follow)
SCD2_FLUSH_AT_MS = 6_000_000_000_000


def scd2_fn():
    """Per-key stateful function for ``scd2_stream``: the
    gaps-and-islands SCD-2 collapse as a streaming machine with FOUR
    FIELDS of state per user (current run's state/start/count/index).
    A run EMITS the moment its successor opens (valid_to = the
    state-changing event's time — exactly the batch twin's lead());
    the final open run (valid_to NULL) emits via the event-time timer
    when the watermark-flush sentinel passes ``SCD2_FLUSH_AT_MS`` —
    an ordinary watermark advance below that mark must not flush,
    because the key may still receive data in later batches.

    Exactness contract (the funnel/z-score argument): watermark-0
    late drop + in-batch (us, event_id) sort ⇒ absorption order
    equals the batch total order, so the union of emissions over the
    stream's lifetime IS the batch ``user_state_history`` relation."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            out = []
            if state.exists:
                cur, frm, n, rid = state.get
                out.append((key[0], rid, cur, frm, None, n))
                state.remove()
            if out:
                yield pd.DataFrame(out, columns=[
                    "user_id", "run_id", "state", "valid_from_us",
                    "valid_to_us", "n_events",
                ])
            return

        cur, frm, n, rid = state.get if state.exists else (
            None, 0, 0, 0
        )
        rows = _admitted_rows(
            pdfs, state.getCurrentWatermarkMs() * 1000,
            ("tus", "event_id", "event_type"),
        )

        out = []
        for us, _eid, et in rows:
            if et == "__sentinel__":
                continue  # clock-only row (watermark carrier)
            if cur is None:
                cur, frm, n, rid = et, us, 1, 1
            elif et == cur:
                n += 1
            else:
                out.append((key[0], rid, cur, frm, us, n))
                cur, frm, n, rid = et, us, 1, rid + 1

        if cur is not None:
            state.update((cur, frm, n, rid))
            state.setTimeoutTimestamp(
                max(SCD2_FLUSH_AT_MS,
                    state.getCurrentWatermarkMs() + 1)
            )
        if out:
            yield pd.DataFrame(out, columns=[
                "user_id", "run_id", "state", "valid_from_us",
                "valid_to_us", "n_events",
            ])

    return fn


def scd2_stream(events: DataFrame) -> DataFrame:
    """Streaming SCD-2 state history — the streaming twin of
    ``plans/timeseries_ops.user_state_history``, whose DuckDB oracle
    it shares. Closed runs emit on state change; open runs emit on
    sentinel-driven timer flush. The sentinel row must survive any
    input filter (it carries the flushing watermark), so no pre-op
    event-type filter is applied here."""
    return _keyed_state_stream(
        events, ["event_type"], scd2_fn(),
        SCD2_OUTPUT_SCHEMA, SCD2_STATE_SCHEMA,
        GroupStateTimeout.EventTimeTimeout,
    )


ATTRIB_OUTPUT_SCHEMA = "channel string, value double"
# the most recent qualifying touch: its event type, event-time µs and
# event_id (-1 = no touch seen yet) — ONE triple per user, O(1)
# state. The event_id (round-10, the funnel hc/hp pattern) is the tie
# arbiter: it anchors the touch's position in the batch twin's
# (us, event_id) total order, so a same-second row straddling a batch
# boundary out of event_id order can neither clobber a globally-later
# touch nor take credit from a touch that globally follows it.
ATTRIB_STATE_SCHEMA = "touch_type string, touch_us long, touch_eid long"


def attribution_fn(touch_types: tuple[str, ...], conversion_type: str,
                   window_s: int):
    """Per-key stateful function for ``attribution_stream``: streaming
    LAST-TOUCH ATTRIBUTION with one (touch_type, touch_us, touch_eid)
    triple of state per user — the keyed-state shape of the SCD-2
    machine with the run machinery replaced by a single remembered
    predecessor.

    Each conversion is credited against the state BEFORE the row is
    absorbed (strictly-prior semantics — exactly the batch twin's
    ROWS UNBOUNDED PRECEDING .. 1 PRECEDING frame in
    ``plans/events_ops.last_touch_attribution``). Watermark delay 0
    drops cross-batch late arrivals (F6/W4) and the processor sorts
    within a batch by (us, event_id), so the absorption order equals
    the batch window's total order. Emission is immediate (one row
    per conversion) — no timers, no flush sentinel needed.

    SAME-SECOND CROSS-BATCH TIES (round 10, the funnel kernel's
    round-9 lesson applied here): a row at exactly the watermark
    second is not late, so a tie can straddle a batch boundary with
    its event_ids inverted. The state's touch_eid repairs both
    repairable classes — (a) a globally-earlier tie touch arriving a
    batch late cannot overwrite the remembered globally-later one
    (absorb guard ``(us, eid) > (tus, teid)``), and (b) a conversion
    cannot be credited to a touch that globally FOLLOWS it (credit
    guard ``(tus, teid) < (us, eid)``). The one irreparable class —
    a credit already emitted when a globally-intervening touch
    arrives a batch late — would need emission retraction, which
    append mode cannot express; property-bounded in
    tests/test_round10_properties.py (emission soundness: every
    credit names a surviving, globally-prior, in-window touch)."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        tt, tus, teid = state.get if state.exists else (None, -1, -1)
        rows = _admitted_rows(
            pdfs, state.getCurrentWatermarkMs() * 1000,
            ("tus", "event_id", "event_type", "value"),
        )

        out = []
        horizon_us = window_s * 1_000_000
        for us, eid, et, val in rows:
            if et == conversion_type:
                if (tus >= 0 and us - tus <= horizon_us
                        and (tus, teid) < (us, eid)):
                    out.append((tt, val))
                else:
                    out.append(("direct", val))
            if et in touch_types and (us, eid) > (tus, teid):
                tt, tus, teid = et, us, eid

        if tus >= 0:
            state.update((tt, tus, teid))
        if out:
            yield pd.DataFrame(out, columns=["channel", "value"])

    return fn


def attribution_stream(
    events: DataFrame,
    touch_types: tuple[str, ...],
    conversion_type: str,
    window_s: int,
) -> DataFrame:
    """Streaming last-touch attribution — per-conversion (channel,
    value) rows; the per-channel rollup happens downstream (see
    ``pipeline.streaming_attribution``)."""
    return _keyed_state_stream(
        events, ["event_type", "value"],
        attribution_fn(touch_types, conversion_type, window_s),
        ATTRIB_OUTPUT_SCHEMA, ATTRIB_STATE_SCHEMA,
        GroupStateTimeout.NoTimeout,
    )


TRANSITION_OUTPUT_SCHEMA = "prev_type string, event_type string"
# the chain's two most recent events in (us, event_id) order: the
# leader p and the runner-up q (types + event-time µs + event_ids;
# -1 = none). q (round-10) is what lets a same-second row straddling
# a batch boundary out of event_id order link to its TRUE predecessor
# instead of emitting an order-inverted pair.
TRANSITION_STATE_SCHEMA = (
    "prev_type string, prev_us long, prev_eid long, "
    "run_type string, run_us long, run_eid long"
)


def transition_fn(gap_s: int):
    """Per-key stateful function for ``transition_stream``: streaming
    first-order journey-step mining. State is the user's two most
    recent events in the batch twin's (us, event_id) total order —
    leader p and runner-up q; each admissible row within the session
    gap of its predecessor emits one (prev_type, event_type) step —
    the streaming form of the batch twin's lag() over (us, event_id)
    order (``plans/events_ops.transition_counts``). Same exactness
    contract as the attribution machine: watermark delay 0 + in-batch
    (us, event_id) sort ⇒ absorption order equals the batch total
    order, so steps match row-for-row.

    SAME-SECOND CROSS-BATCH TIES (round 10): a row at the watermark
    second is not late, so a tie can straddle a batch boundary with
    event_ids inverted — the arriving row e then globally PRECEDES
    the remembered leader p. Repaired: e links to its true
    predecessor (q when ``q < e < p`` in the total order) instead of
    emitting the order-inverted (p, e) pair, and e replaces q (p's
    predecessor link for FUTURE rows stays exact). Irreparable,
    documented: p's own already-emitted step cannot retro-point to e
    (append mode cannot retract), and an inversion deeper than the
    two remembered events (e below q) emits nothing rather than a
    wrong pair. Property-bounded in tests/test_round10_properties.py;
    on (us, event_id)-ordered arrival — every batch of the oracled
    single-file source — behavior is byte-identical to the round-9
    kernel."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        pt, pus, peid, qt, qus, qeid = (
            state.get if state.exists else (None, -1, -1, None, -1, -1)
        )

        rows = _admitted_rows(
            pdfs, state.getCurrentWatermarkMs() * 1000,
            ("tus", "event_id", "event_type"),
        )

        out = []
        gap_us = gap_s * 1_000_000
        for us, eid, et in rows:
            if (us, eid) > (pus, peid):
                # in-order absorption: p is the true predecessor
                if pus >= 0 and us - pus <= gap_us:
                    out.append((pt, et))
                pt, pus, peid, qt, qus, qeid = et, us, eid, pt, pus, peid
            elif (us, eid) > (qus, qeid):
                # tie-zone straddle: e slots between q and p — its
                # true predecessor is q; e becomes the new runner-up
                if qus >= 0 and us - qus <= gap_us:
                    out.append((qt, et))
                qt, qus, qeid = et, us, eid
            # deeper inversion (e below q): predecessor unknown —
            # emit nothing rather than an order-inverted pair

        if pus >= 0:
            state.update((pt, pus, peid, qt, qus, qeid))
        if out:
            yield pd.DataFrame(out, columns=["prev_type", "event_type"])

    return fn


CADENCE_OUTPUT_SCHEMA = (
    "user_id long, n_gaps long, s long, s2_hi long, s2_lo long"
)
# the chain's last absorbed event (us + event_id tie arbiter, the
# round-10 contract) and the exact gap moments: count, Σgap_ms, and
# Σgap_ms² carried as hi·10¹⁸ + lo so the near-BIGINT-overflow square
# sum (a 30-day gap squares to ~7e18) stays exact in two longs —
# Python-side arithmetic is arbitrary-precision int throughout
CADENCE_STATE_SCHEMA = (
    "last_us long, last_eid long, n_gaps long, s long, "
    "s2_hi long, s2_lo long"
)
_S2_SPLIT = 10**18


def cadence_fn():
    """Per-key stateful function for ``cadence_stream``: the
    inter-arrival moment accumulator behind the temporal bot profile
    (``plans/events_ops.cadence_profile``) — six longs of state per
    user: the last absorbed (us, event_id) plus exact (n, Σ, Σ²) over
    integer-ms gaps. Emission per batch-with-data is the CURRENT
    moment snapshot; the pipeline wrapper keeps each user's latest
    (every field is monotone) and runs the shared ``cadence_finish``
    dag, so the full-stream emission equals the batch relation over
    absorbed rows.

    Exactness contract (the EWMA/z-score argument): watermark delay 0
    drops cross-batch late arrivals, the in-batch (us, event_id) sort
    makes absorption order equal the batch total order. Same-second
    cross-batch ties (round 10): a row not STRICTLY after the
    remembered (last_us, last_eid) in the total order is skipped —
    its two adjacent gaps cannot be repaired once the neighbor's gap
    is absorbed (the moment sums cannot retract) — so disorder
    under-counts gaps rather than absorbing a negative one; on
    ordered arrival the guard never fires."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        lus, leid, n, s, hi, lo = (
            state.get if state.exists else (-1, -1, 0, 0, 0, 0)
        )
        s2 = hi * _S2_SPLIT + lo
        rows = _admitted_rows(
            pdfs, state.getCurrentWatermarkMs() * 1000,
            ("tus", "event_id"),
        )

        emitted = False
        for us, eid in rows:
            if (us, eid) <= (lus, leid):
                continue  # tie-zone disorder: see docstring
            if lus >= 0:
                gap = (us - lus) // 1000
                n += 1
                s += gap
                s2 += gap * gap
            lus, leid = us, eid
            emitted = True

        if lus >= 0:
            state.update(
                (lus, leid, n, s, s2 // _S2_SPLIT, s2 % _S2_SPLIT)
            )
        if emitted:
            yield pd.DataFrame(
                [(key[0], n, s, s2 // _S2_SPLIT, s2 % _S2_SPLIT)],
                columns=["user_id", "n_gaps", "s", "s2_hi", "s2_lo"],
            )

    return fn


def cadence_stream(events: DataFrame) -> DataFrame:
    """Streaming per-user cadence moments — the keyed-state stage of
    the ``streaming_user_cadence`` twin; one snapshot row per
    (user, batch-with-data), finished engine-side by the shared
    ``cadence_finish`` dag."""
    return _keyed_state_stream(
        events, [], cadence_fn(),
        CADENCE_OUTPUT_SCHEMA, CADENCE_STATE_SCHEMA,
        GroupStateTimeout.NoTimeout,
    )


GAPFILL_OUTPUT_SCHEMA = (
    "user_id long, hour_es long, n long, sum_cents long, "
    "filled_sum_cents long, is_gap boolean"
)
# the OPEN hour's bucket: hour index (us // 3.6e9), its event count
# and exact cents sum — three longs per user, O(1) state (closed
# hours and the gaps between them emit immediately; the fill value
# for a gap run is the closing hour's own sum, so no carry is needed)
GAPFILL_STATE_SCHEMA = "cur_hour long, n long, sum_cents long"
_HOUR_US = 3_600_000_000


def gapfill_fn():
    """Per-key stateful function for ``gapfill_stream``: the hourly
    RESAMPLE + GAP-FILL + FORWARD-FILL collapse
    (``plans/timeseries_ops.hourly_gapfill``) as a streaming machine
    with THREE LONGS of state per user — the open hour's (index,
    count, cents sum). When an admissible row lands in a LATER hour,
    the open hour closes (emits its observed row, filled = its own
    sum), the intervening empty hours emit as gap rows (n=0, NULL
    observed sum, the closed hour's sum carried forward, is_gap
    true), and the new hour opens; the final open hour emits via the
    event-time timer when the watermark-flush sentinel passes
    ``SCD2_FLUSH_AT_MS`` (the shared between-data-and-sentinel mark —
    an ordinary watermark advance must not flush, the key may still
    get data). The spine therefore starts at the user's first
    observed hour and ends at the last — exactly the batch relation's
    per-user min..max hour span.

    TIE/DISORDER CLASS (module-head ledger): ORDER-FREE. Hour-bucket
    count/sum are commutative, and every output field depends only on
    the hour INDEX ordering — intra-hour arrival order, including
    same-second cross-batch ties, cannot move any value; the output
    is all-integer (no float dag at all), so there is no rounding
    tie surface either. The one order sensitivity is the universal
    F6 late-drop contract: a row in an hour at or before an
    already-CLOSED hour (impossible on ordered arrival — closure
    implies a strictly later row was seen, so such a straggler is
    below the engine watermark under delay 0) is dropped against the
    emission frontier rather than corrupting emitted history."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        cols = [
            "user_id", "hour_es", "n", "sum_cents",
            "filled_sum_cents", "is_gap",
        ]
        if state.hasTimedOut:
            if state.exists:
                cur, n, s = state.get
                state.remove()
                yield pd.DataFrame(
                    [(key[0], cur * 3600, n, s, s, False)],
                    columns=cols,
                )
            return

        cur, n, s = state.get if state.exists else (-1, 0, 0)
        wm_us = state.getCurrentWatermarkMs() * 1000
        buckets: dict[int, list[int]] = {}
        for pdf in pdfs:
            for us, et, cents in zip(
                pdf["tus"], pdf["event_type"], pdf["cents"]
            ):
                if str(et) == "__sentinel__":
                    continue  # clock-only row (watermark carrier)
                if wm_us > 0 and int(us) < wm_us:
                    continue  # late (F6/W4)
                b = buckets.setdefault(int(us) // _HOUR_US, [0, 0])
                b[0] += 1
                b[1] += int(cents)

        out: list[tuple] = []
        uid = key[0]
        for h in sorted(buckets):
            bn, bs = buckets[h]
            if cur < 0:
                cur, n, s = h, bn, bs
            elif h == cur:
                n += bn
                s += bs
            elif h > cur:
                out.append((uid, cur * 3600, n, s, s, False))
                out.extend(
                    (uid, g * 3600, 0, None, s, True)
                    for g in range(cur + 1, h)
                )
                cur, n, s = h, bn, bs
            # h < cur: frontier straggler — see docstring (dropped;
            # unreachable on ordered arrival under watermark 0)

        if cur >= 0:
            state.update((cur, n, s))
            state.setTimeoutTimestamp(
                max(SCD2_FLUSH_AT_MS,
                    state.getCurrentWatermarkMs() + 1)
            )
        if out:
            df = pd.DataFrame(out, columns=cols)
            # gap rows carry NULL sum_cents; pandas would infer the
            # mixed int/None column as float64 (exact only to 2^53) —
            # force nullable Int64 so the sums stay exact end-to-end
            df["sum_cents"] = pd.array(
                [r[3] for r in out], dtype="Int64"
            )
            yield df

    return fn


def gapfill_stream(
    events: DataFrame,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming hourly gap-fill — the streaming twin of
    ``plans/timeseries_ops.user_hourly_gapfill``, whose DuckDB oracle
    it shares. Closed hours and their trailing gap runs emit on hour
    advance; the open hour emits on sentinel-driven timer flush (the
    SCD-2 cadence). The sentinel row must survive any input filter
    (it carries the flushing watermark), so no pre-op event-type
    filter is applied here."""
    from pyspark.sql import functions as F

    keyed = (
        events.withWatermark("ts", watermark_delay)
        .select(
            "user_id",
            "ts",
            "event_id",
            F.unix_micros(F.col("ts")).alias("tus"),
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        gapfill_fn(),
        GAPFILL_OUTPUT_SCHEMA,
        GAPFILL_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def transition_stream(events: DataFrame, gap_s: int) -> DataFrame:
    """Streaming journey-step emission — one row per in-gap
    transition; the Markov-matrix rollup happens downstream (see
    ``pipeline.streaming_transitions``)."""
    return _keyed_state_stream(
        events, ["event_type"], transition_fn(gap_s),
        TRANSITION_OUTPUT_SCHEMA, TRANSITION_STATE_SCHEMA,
        GroupStateTimeout.NoTimeout,
    )
