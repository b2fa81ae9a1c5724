"""Seeded input generators. Everything the program receives is built here.

The shapes follow the repository's ``events`` fixture (event_id, ts,
user_id, event_type, value, props) and its log projection
(``LogTable.from_events``): key = user id, value = the event's JSON
props, one ``event_type`` header, partition = user id mod 8. Rows are
synthesized from the seed instead of read from the fixture files, because
the benchmark may read nothing outside its checkout.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

N_PARTITIONS = 8
N_USERS = 2000
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENT_WEIGHTS = np.array([0.55, 0.25, 0.08, 0.07, 0.05])
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def events(rng: np.random.Generator, n: int, first_id: int, first_ts_us: int,
           gap_us: int = 2_000) -> pd.DataFrame:
    """``n`` events with ids from ``first_id`` and strictly increasing
    timestamps ``gap_us`` apart (plus up to half a gap of jitter)."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    ts = first_ts_us + np.arange(n, dtype=np.int64) * gap_us
    ts += rng.integers(0, max(1, gap_us // 2), n)
    # a few hot users, the rest uniform: keys repeat within a batch
    hot = rng.random(n) < 0.2
    users = np.where(hot, rng.integers(0, 20, n), rng.integers(0, N_USERS, n))
    etype = EVENT_TYPES[rng.choice(len(EVENT_TYPES), n, p=EVENT_WEIGHTS)]
    value = np.round(rng.gamma(2.0, 30.0, n), 2)
    k = rng.integers(0, 100, n)
    sess = rng.integers(0, 1 << 32, n)
    props = [
        f'{{"k": {a}, "type": "{t}", "amount": {v}, "session": "{s:08x}"}}'
        for a, t, v, s in zip(k.tolist(), etype.tolist(), value.tolist(), sess.tolist())
    ]
    return pd.DataFrame(
        {
            "event_id": ids,
            "ts_us": ts,
            "user_id": users.astype(np.int64),
            "event_type": etype,
            "value": value,
            "props": props,
        }
    )


def log_records(ev: pd.DataFrame) -> pd.DataFrame:
    """The log projection of events (no offsets): key, value, headers,
    timestamp, partition, plus ts_us kept for the references."""
    return pd.DataFrame(
        {
            "key": [str(u).encode() for u in ev["user_id"].tolist()],
            "value": [p.encode() for p in ev["props"].tolist()],
            "headers": [
                [{"key": "event_type", "value": t.encode()}]
                for t in ev["event_type"].tolist()
            ],
            "timestamp": pd.to_datetime(ev["ts_us"].to_numpy(), unit="us"),
            "partition": (ev["user_id"].to_numpy() % N_PARTITIONS).astype(np.int32),
            "ts_us": ev["ts_us"].to_numpy(),
        }
    )


def with_offsets(recs: pd.DataFrame, start: dict[int, int] | None = None) -> pd.DataFrame:
    """Dense per-partition offsets in row order, continuing ``start``."""
    start = start or {}
    out = recs.copy()
    rel = out.groupby("partition").cumcount().to_numpy()
    base = out["partition"].map(lambda p: start.get(int(p), 0)).to_numpy()
    out["offset"] = (base + rel).astype(np.int64)
    return out


def commits(rng: np.random.Generator, watermarks: dict[int, int], n_groups: int,
            per_key: int, first_ts_us: int) -> pd.DataFrame:
    """Offset commits: each group commits ``per_key`` times per partition
    at increasing offsets below the partition's watermark."""
    rows = []
    ts = first_ts_us
    for c in range(per_key):
        for g in range(n_groups):
            for p in range(N_PARTITIONS):
                hw = watermarks.get(p, 0)
                off = int(rng.integers(0, max(1, hw))) * (c + 1) // per_key
                ts += int(rng.integers(1_000, 50_000))
                rows.append((f"g{g}", "events", p, off, f"c{c}", ts))
    df = pd.DataFrame(
        rows, columns=["group", "topic", "partition", "offset", "metadata", "ts_us"]
    )
    df["partition"] = df["partition"].astype(np.int32)
    df["commit_ts"] = pd.to_datetime(df["ts_us"], unit="us")
    return df


def membership(ev: pd.DataFrame, n_groups: int = 6, n_members: int = 36) -> pd.DataFrame:
    """JOIN/LEAVE/HEARTBEAT events (``groups.derive_membership_from_events``
    shape) from events."""
    eid = ev["event_id"].to_numpy()
    mod = eid % 10
    action = np.where(mod == 0, "leave", np.where(mod <= 2, "join", "heartbeat"))
    u = ev["user_id"].to_numpy()
    return pd.DataFrame(
        {
            "group": [f"g{x}" for x in (u % n_groups).tolist()],
            "member": [f"m{x}" for x in (u % n_members).tolist()],
            "action": action,
            "ts": pd.to_datetime(ev["ts_us"].to_numpy(), unit="us"),
            "event_id": eid,
        }
    )
