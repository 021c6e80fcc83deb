"""Seeded generator for the stream_ingest `events` table.

Keeps the invariants the rung oracles rely on (FIXTURES.md, events):
unique dense `event_id`, `ts` non-decreasing by `event_id` within
January 2024 (naive timestamp[us], one row group like the fixtures),
five event types, `value` with two decimals, `props` = `{"k": <0-99>}`.
`user_id` is the stream key: `keys` distinct ids drawn with Zipf-like
skew `skew` (weight of the r-th hottest key is 1 / r**skew), so state
size grows with `keys` and hot keys repeat.

Usage: python3 perfbench/gen_events.py OUT.parquet --seed 1 --rows 20000 \
    --keys 2000 --skew 0.8
"""

from __future__ import annotations

import argparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_JAN_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in epoch micros
_SPAN_US = 30 * 86_400 * 1_000_000  # stay inside Jan 1 .. Jan 30


def events_table(seed: int, rows: int, keys: int, skew: float) -> pa.Table:
    """The events table for one seed; same arguments give the same table."""
    if rows < 1 or keys < 1 or skew < 0:
        raise ValueError("rows and keys must be >= 1 and skew >= 0")
    rng = np.random.Generator(np.random.PCG64(seed))
    ts = _JAN_2024_US + np.sort(rng.integers(0, _SPAN_US, rows, dtype=np.int64))
    weights = 1.0 / np.arange(1, keys + 1, dtype=np.float64) ** skew
    key_ids = rng.permutation(keys).astype(np.int64)  # hot keys are not 0, 1, 2
    user_id = key_ids[rng.choice(keys, rows, p=weights / weights.sum())]
    etype = np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, 5, rows)]
    value = np.round(rng.exponential(50.0, rows), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows).tolist()]
    return pa.table(
        {
            "event_id": pa.array(np.arange(rows, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(user_id),
            "event_type": pa.array(etype.tolist(), type=pa.string()),
            "value": pa.array(value),
            "props": pa.array(props, type=pa.string()),
        }
    )


def write_events(path: str, seed: int, rows: int, keys: int, skew: float) -> None:
    """Write the table as one single-row-group parquet file."""
    table = events_table(seed, rows, keys, skew)
    pq.write_table(table, path, row_group_size=rows, compression="snappy")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, default=20_000)
    ap.add_argument("--keys", type=int, default=2_000)
    ap.add_argument("--skew", type=float, default=0.8)
    args = ap.parse_args()
    write_events(args.out, args.seed, args.rows, args.keys, args.skew)


if __name__ == "__main__":
    main()
