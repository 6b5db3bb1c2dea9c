"""Seeded input generation for ``clicks_window_stream``: click events
(``user_id, clicks, ts``) plus the static ``users`` table (``user_id,
region``). Everything the engine reads is written before any timing
starts; the same seed gives byte-identical inputs.

``catalog_batch`` reads no generated data: its tables are the 0.001
scale-factor driver fixtures in ``flowbench/tables``, and its seed only
shuffles the order of the entries.
"""

from __future__ import annotations

from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime(2024, 1, 1)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def zipf_keys(rng: np.random.Generator, n_keys: int, size: int, s: float) -> np.ndarray:
    """``size`` draws from a finite Zipf(s) over ``n_keys`` ids; rank r has
    weight 1/r^s, and ranks map to ids through a seeded permutation."""
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    ranks = rng.choice(n_keys, size=size, p=w / w.sum())
    return rng.permutation(n_keys)[ranks]


def write_parquet(path: str, table: pa.Table) -> None:
    pq.write_table(table, path)


def click_users(n_users: int, rng: np.random.Generator) -> pa.Table:
    regions = rng.integers(0, len(REGIONS), n_users)
    return pa.table({
        "user_id": pa.array(np.arange(n_users), pa.int64()),
        "region": pa.array([REGIONS[r] for r in regions], pa.string()),
    })


def click_files(
    rng: np.random.Generator, n_files: int, rows: int, period_s: float,
    jitter_s: float, n_users: int, zipf_s: float,
) -> list[pa.Table]:
    """File ``i`` holds events whose event time lies in
    ``[i*period - jitter, i*period]`` after EPOCH: out of order within a
    file and across neighbouring files, but never by more than ``jitter``."""
    out = []
    for i in range(n_files):
        nominal_us = int(round(i * period_s * 1e6))
        ts_us = nominal_us - rng.integers(0, int(jitter_s * 1e6) + 1, rows)
        out.append(pa.table({
            "user_id": pa.array(zipf_keys(rng, n_users, rows, zipf_s), pa.int64()),
            "clicks": pa.array(rng.integers(1, 6, rows), pa.int64()),
            "ts": pa.array(_ts(ts_us), pa.timestamp("us")),
        }))
    return out


def _ts(us_since_epoch: np.ndarray) -> np.ndarray:
    base = np.datetime64(EPOCH, "us")
    return base + us_since_epoch.astype("timedelta64[us]")
