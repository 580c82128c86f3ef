"""Seeded synthetic inputs the benchmark writes inside its own run dir.

``events`` has the schema of the catalog's ``events`` fixture table
(event_id, ts, user_id, event_type, value, props): events ordered by
time over 30 days of January 2024, uniform users and event types, and
values with exactly two decimals (the catalog's cents arithmetic
relies on that).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_SPAN_US = 30 * 86_400 * 1_000_000


def events_table(n_events: int, n_users: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    ts = np.sort(_T0_US + rng.integers(0, _SPAN_US, n_events))
    cents = np.minimum(rng.exponential(5000.0, n_events), 56_000).astype(np.int64)
    return pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events, dtype=np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)],
        "value": cents / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })


def write_events(sf_dir: str, n_events: int, n_users: int, seed: int) -> str:
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(events_table(n_events, n_users, seed), path)
    return path
