"""Reference computations the benchmark checks outputs against.

* ``duckdb_rows`` runs an oracle SQL string from the package's
  ``plans/biometric.ORACLE`` over an ``events`` table in DuckDB.
* ``leading_edge_model`` is an independent pure-Python model of the
  eager leading-edge throttle of ``state.alerts_stream_leading``. It
  imports nothing from the package; it replays the batch composition
  and watermarks the engine recorded in its checkpoint, because that
  path's output depends on them.
* ``components`` is a union-find over a pair graph.

Results are compared with ``tools/check_oracle.value_hash``, the same
order-insensitive hash the repository's correctness gate uses.
"""

from __future__ import annotations

from collections import defaultdict


def duckdb_rows(events, sql: str) -> tuple[list[tuple], list[str]]:
    """``events``: a pandas frame with the ``events`` test-table columns
    the oracle reads (ts, user_id, event_type, value).

    The leading-debounce oracle's recursive step joins the ``nq`` CTE;
    DuckDB re-evaluates an unmaterialized CTE, and so the whole window
    pipeline, on every recursion step (14 s instead of 0.4 s on the
    batch workload). Marking it MATERIALIZED changes when it is
    computed, not what."""
    import duckdb

    sql = sql.replace("nq AS (", "nq AS MATERIALIZED (")

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.register("events_src", events)
        con.execute("CREATE TABLE events AS SELECT * FROM events_src")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return cur.fetchall(), cols
    finally:
        con.close()


def leading_edge_model(batches, length_s: int, slide_s: int,
                       cooldown_s: int, hr_threshold: int = 100,
                       bp_threshold: int = 100) -> set[tuple[int, int]]:
    """Eager leading-edge alerts, batch by batch.

    ``batches``: in batch order, ``(watermark_ms, rows)`` where rows are
    ``(user_id, ts_ms, is_hr, value)`` of every event the batch read.
    Per user, state is the last emitted window start and the retained
    qualifying events. In each batch, for every user with qualifying
    rows: rows behind the batch watermark (whole seconds) are dropped,
    the rest join the retained events, every window holding both a
    high heart rate and a low systolic reading is evaluated in start
    order, and one is emitted when it starts more than the cooldown
    after the last emitted one. Events older than the watermark minus
    the window length are then forgotten.

    Returns the emitted ``(user_id, window_start_s)`` pairs."""
    n_win = length_s // slide_s
    last: dict[int, int] = {}
    kept: dict[int, list[tuple[int, bool]]] = defaultdict(list)
    out: set[tuple[int, int]] = set()
    for wm_ms, rows in batches:
        wm_s = wm_ms // 1000
        touched: dict[int, list[tuple[int, bool]]] = defaultdict(list)
        for user, ts_ms, is_hr, value in rows:
            hr_q = is_hr and value > hr_threshold
            bp_q = (not is_hr) and value < bp_threshold
            if hr_q or bp_q:
                touched[user].append((ts_ms // 1000, hr_q))
        for user, evs in touched.items():
            ev = kept[user]
            ev.extend(e for e in evs if not (wm_s > 0 and e[0] < wm_s))
            hr_w, bp_w = set(), set()
            for es, is_hr in ev:
                top = es // slide_s * slide_s
                (hr_w if is_hr else bp_w).update(
                    top - k * slide_s for k in range(n_win))
            prev = last.get(user, -1)
            for w in sorted(hr_w & bp_w):
                if prev < 0 or w - prev > cooldown_s:
                    prev = w
                    out.add((user, w))
            last[user] = prev
            if wm_s > 0:
                kept[user] = [e for e in ev if e[0] >= wm_s - length_s]
    return out


def components(pairs) -> dict[int, int]:
    """node -> smallest node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def same_rows(got: list[tuple], want: list[tuple], cols: list[str]) -> bool:
    from tools.check_oracle import value_hash

    return (len(got) == len(want)
            and value_hash(got, cols) == value_hash(want, cols))
