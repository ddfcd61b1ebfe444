"""Seeded input generator for the benchmark workloads.

Everything is drawn from one ``numpy.random.Generator`` built from the
``--seed`` argument, so the same seed (and run length) gives the same
files. The program under test only ever sees the files written here.

Event-time layout of the stream workloads (all times epoch ms):

* release ``i`` carries events whose ``timestamp`` lies in
  ``[T0 + (i + 1) * SLICE - DELAY + 1 s, T0 + (i + 1) * SLICE)``.
  ``DELAY = 2 * SLICE`` is the query's watermark delay, so every event
  is at most ``DELAY - 1 s`` behind the newest event released so far:
  out of order, but never behind the watermark, whatever batch
  composition the engine picks.
* a small share of events in every release after the warm-up one are
  planted late: their timestamp is more than ``late_gap_ms`` (window
  plus cooldown plus margin) behind the watermark the warm-up batch
  already set, so the window aggregate, the session window and the
  leading-edge processor all drop them.
* the last release is one far-future, non-qualifying heart-rate event
  for ``FLUSH_USER``; it pushes the watermark past every open window
  and session, so append mode emits everything.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

T0_MS = 1_767_225_600_000          # 2026-01-01T00:00:00Z
SLICE_MS = 20 * 60 * 1000          # event time covered by one release
DELAY_MS = 2 * SLICE_MS            # watermark delay of the stream queries
WATERMARK_DELAY = f"{DELAY_MS // 1000} seconds"
FLUSH_USER = 0                     # user ids of real users start at 1
LATE_SHARE = 0.01
HOT_USERS = 5                      # "hot" = the top-5 users by weight


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input family, so changing one
    family's size does not reshuffle another's draws."""
    salt = int.from_bytes(stream.encode(), "little") % (2**32)
    return np.random.default_rng([seed, salt])


def user_weights(n_users: int) -> np.ndarray:
    """Zipf skew: user ``u`` (1-based) has weight ∝ 1/u. The hot users
    keep their ids on every seed, so which shuffle partition holds them
    does not change from seed to seed."""
    w = 1.0 / np.arange(1, n_users + 1)
    return w / w.sum()


def vitals(users: np.ndarray, ts_ms: np.ndarray, is_hr: np.ndarray,
           alarm_seed: int, rng: np.random.Generator) -> np.ndarray:
    """Readings with alarm episodes: each (user, 3 h block) is in alarm
    with probability 0.12 (hashed, so a block's state is the same in
    every release it spans). In alarm, heart rate is mostly > 100 and
    systolic mostly < 100; otherwise both rarely cross."""
    block = ts_ms // (3 * 3600 * 1000)
    h = (users * 0x9E3779B1 + block * 0x85EBCA77 + alarm_seed) % (2**32)
    h = (h ^ (h >> 15)) * 0x2C1B3C6D % (2**32)
    alarm = (h % 1000) < 120
    hr = np.where(alarm, rng.normal(112, 10, len(users)),
                  rng.normal(74, 9, len(users)))
    sys_ = np.where(alarm, rng.normal(92, 8, len(users)),
                    rng.normal(122, 9, len(users)))
    return np.where(is_hr, hr, sys_).round().astype(np.int64)


# ----------------------------------------------------------------- streams

class StreamInputs:
    """All releases of one stream run, held as one events frame with a
    ``release`` column; ``write_release`` renders one release to the
    JSON-lines wire format."""

    def __init__(self, seed: int, n_users: int, per_release: int,
                 live: int, backlog: int, rounds: int, late_gap_ms: int):
        rng = rng_for(seed, "stream")
        # release 0 is the warm-up, 1..live the live phase, then
        # `rounds` catch-up releases of `backlog` slices each, then the
        # flush event
        self.backlog_releases = list(range(live + 1, live + 1 + rounds))
        self.flush_release = live + 1 + rounds
        weights = user_weights(n_users)
        frames = []
        n_slices = 1 + live + rounds * backlog
        for i in range(n_slices):
            n = per_release
            hi = T0_MS + (i + 1) * SLICE_MS
            ts = rng.integers(hi - DELAY_MS + 1000, hi, n)
            late = np.zeros(n, dtype=bool)
            if i > 0:
                late = rng.random(n) < LATE_SHARE
                ts = np.where(late, rng.integers(
                    T0_MS - 4 * 86_400_000,
                    T0_MS - DELAY_MS - late_gap_ms, n), ts)
            rel = i if i <= live else live + 1 + (i - live - 1) // backlog
            frames.append(pd.DataFrame({
                "release": rel, "user_id": rng.choice(
                    np.arange(1, n_users + 1), n, p=weights),
                "ts_ms": ts, "is_hr": rng.random(n) < 0.5, "late": late,
            }))
        ev = pd.concat(frames, ignore_index=True)
        ev["value"] = vitals(ev.user_id.to_numpy(), ev.ts_ms.to_numpy(),
                             ev.is_hr.to_numpy(), seed, rng)
        ev["diastolic"] = (ev["value"] * 0.65).round().astype(np.int64)
        self.events = ev
        self.flush_ts_ms = int(ev.ts_ms.max()) + 30 * 86_400_000
        hot = np.arange(1, HOT_USERS + 1)
        self.traffic = {
            "users": n_users,
            "events": int(len(ev)),
            "per_release": per_release,
            "live_releases": live,
            "catchup_rounds": rounds,
            "backlog_events": int(
                (ev.release == self.backlog_releases[0]).sum()),
            "late_events": int(ev.late.sum()),
            "hot_user_share": round(float(ev.user_id.isin(hot).mean()), 4),
            "hr_share": round(float(ev.is_hr.mean()), 4),
            "watermark_delay_s": DELAY_MS // 1000,
        }

    def release_events(self, rel: int) -> pd.DataFrame:
        return self.events[self.events.release == rel]

    def write_release(self, rel: int, root: str, name: str) -> None:
        """One pair of files, ``root/hr/<name>.json`` and
        ``root/bp/<name>.json``, in arrival order as generated (out of
        order by construction)."""
        paths = {}
        for kind in ("hr", "bp"):
            os.makedirs(os.path.join(root, kind), exist_ok=True)
            paths[kind] = os.path.join(root, kind, f"{name}.json")
        if rel == self.flush_release:
            _write_lines(paths["hr"], [json.dumps(
                {"user_id": FLUSH_USER, "heart_rate": 60,
                 "timestamp": self.flush_ts_ms})])
            _write_lines(paths["bp"], [])
            return
        ev = self.release_events(rel)
        hr = ev[ev.is_hr]
        bp = ev[~ev.is_hr]
        _write_lines(paths["hr"], [
            f'{{"user_id":{u},"heart_rate":{v},"timestamp":{t}}}'
            for u, v, t in zip(hr.user_id, hr.value, hr.ts_ms)])
        _write_lines(paths["bp"], [
            f'{{"user_id":{u},"systolic":{v},"diastolic":{d},"timestamp":{t}}}'
            for u, v, d, t in zip(bp.user_id, bp.value, bp.diastolic,
                                  bp.ts_ms)])

    def on_time_events_table(self) -> pd.DataFrame:
        """The on-time events in the ``events`` test-table shape the batch
        oracle SQL reads (HR = 'error', BP = 'view')."""
        ev = self.events[~self.events.late]
        return pd.DataFrame({
            "ts": pd.to_datetime(ev.ts_ms, unit="ms"),
            "user_id": ev.user_id.astype(np.int64),
            "event_type": np.where(ev.is_hr, "error", "view"),
            "value": ev.value.astype(np.float64),
        })


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines))
        if lines:
            f.write("\n")


# ------------------------------------------------------------------- batch

def write_events_parquet(seed: int, n_events: int, n_users: int,
                         directory: str) -> dict:
    """``events.parquet`` in the ``events`` test-table schema. HR = 'error',
    BP = 'view' (the FIXTURES mapping); a quarter of the rows are other
    event types the pipeline filters away. Spans 30 days."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = rng_for(seed, "batch")
    weights = user_weights(n_users)
    users = rng.choice(np.arange(1, n_users + 1), n_events, p=weights)
    ts_ms = T0_MS + rng.integers(0, 30 * 86_400_000, n_events)
    kind = rng.choice(np.array(["error", "view", "click", "purchase"]),
                      n_events, p=[0.375, 0.375, 0.125, 0.125])
    value = vitals(users, ts_ms, kind == "error", seed, rng).astype(float)
    value = np.where(np.isin(kind, ["error", "view"]), value,
                     rng.uniform(0, 500, n_events).round(2))
    order = np.argsort(ts_ms, kind="stable")
    table = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts_ms[order] * 1000, pa.timestamp("us")),
        "user_id": pa.array(users[order]),
        "event_type": pa.array(kind[order]),
        "value": pa.array(value[order]),
        "props": pa.array([None] * n_events, pa.string()),
    })
    os.makedirs(directory, exist_ok=True)
    pq.write_table(table, os.path.join(directory, "events.parquet"),
                   row_group_size=256 * 1024)
    hot = np.arange(1, HOT_USERS + 1)
    return {
        "events": n_events,
        "users": n_users,
        "hot_user_share": round(float(np.isin(users, hot).mean()), 4),
        "hr_events": int((kind == "error").sum()),
        "bp_events": int((kind == "view").sum()),
    }


# ------------------------------------------------------------------- graph

def closure_graph(seed: int, n_chains: int, chain_len: int,
                  n_cliques: int, clique_max: int):
    """Two pair graphs over disjoint node ids.

    * chains: ``n_chains`` paths of ``chain_len`` nodes; each path's
      smallest id sits at one end, so min-label propagation needs
      ``chain_len - 1`` rounds on every seed (fixed diameter).
    * cliques: complete graphs of 3..``clique_max`` nodes (diameter 1).

    Returns ``(chains, cliques, traffic)``; each graph is a pandas frame
    ``(id_a, id_b)`` with ``id_a < id_b``."""
    rng = rng_for(seed, "graph")
    n_chain_nodes = n_chains * chain_len
    sizes = rng.integers(3, clique_max + 1, n_cliques)
    ids = rng.permutation(n_chain_nodes + int(sizes.sum())) + 1
    chain_ids = ids[:n_chain_nodes].reshape(n_chains, chain_len)
    a, b = [], []
    for row in chain_ids:
        lo = row.argmin()
        row = np.concatenate([[row[lo]], np.delete(row, lo)])
        a.append(row[:-1])
        b.append(row[1:])
    chains = _pairs(np.concatenate(a), np.concatenate(b))
    a, b = [], []
    pos = n_chain_nodes
    for k in sizes:
        members = ids[pos:pos + k]
        pos += k
        ii, jj = np.triu_indices(k, 1)
        a.append(members[ii])
        b.append(members[jj])
    cliques = _pairs(np.concatenate(a), np.concatenate(b))
    edges = len(chains) + len(cliques)
    traffic = {
        "chains": n_chains, "chain_len": chain_len,
        "chain_edges": len(chains), "cliques": n_cliques,
        "clique_edges": len(cliques),
        "chain_edge_share": round(len(chains) / edges, 4),
        "clique_edge_share": round(len(cliques) / edges, 4),
    }
    return chains, cliques, traffic


def _pairs(a: np.ndarray, b: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame({"id_a": np.minimum(a, b).astype(np.int64),
                         "id_b": np.maximum(a, b).astype(np.int64)})
