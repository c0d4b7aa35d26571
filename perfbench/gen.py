"""Seeded input generators for the query workload.

`events_table` writes an `events.parquet` with the schema and value
distributions of the engine's test data (event_id, ts, user_id,
event_type, value, props): arrival-ordered timestamps over 30 days,
uniform users and event types, exponential values rounded to cents. The
same seed always writes the same table.
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
DAYS = 30


def events_table(out_dir: Path, seed: int, n_events: int = 4_000,
                 n_users: int = 60) -> Path:
    rng = np.random.default_rng(seed)
    span_us = DAYS * 86_400 * 1_000_000
    # sorted offsets plus the row index: strictly increasing, so arrival
    # order is total and no two events share a timestamp
    offs = np.sort(rng.integers(0, span_us - n_events, n_events)) + np.arange(n_events)
    start_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    values = np.round(rng.exponential(50.0, n_events), 2)
    table = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(start_us + offs, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)]),
        "value": pa.array(values, type=pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    out_dir.mkdir(parents=True, exist_ok=True)
    path = out_dir / "events.parquet"
    pq.write_table(table, path)
    return path
