"""Seeded event history in the `events` schema of the sf0.1 test data.

Columns: event_id (int64, in time order), ts (timestamp[us]), user_id
(int64), event_type (five types, uniform), value (float64, exponential with
mean 50, two decimals) and props (`{"k": n}`, n in 0..99). Events are spread
uniformly over 30 days from 2024-01-01. The same seed gives the same file.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TYPES = np.array(["signup", "click", "error", "view", "purchase"])
DAYS = 30
START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z


def generate(path, seed, n_events, n_users):
    rng = np.random.default_rng(seed)
    ts = np.sort(START_US + rng.integers(0, DAYS * 86400 * 1_000_000, n_events))
    table = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": pa.array(TYPES[rng.integers(0, len(TYPES), n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    # one row group, like the sf0.1 file
    pq.write_table(table, path, row_group_size=n_events)
