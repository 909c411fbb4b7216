"""Seeded inputs for the benchmark: an ``events`` table with the schema of the
engine's event feed and a ``documents`` table for the text operators.

The same seed gives byte-identical tables.  The seed changes the content
(users, event types, values, payload keys, texts) but never the row counts,
so different seeds cost the engine the same amount of work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "error", "signup", "purchase")
N_USERS = 1500
#: 2024-01-01T00:00:00Z in microseconds
T0_US = 1_704_067_200_000_000

WORDS = (
    "a the spark stream batch query scan filter join merge sort group agg "
    "window table column row key value hash vector part line order data "
    "fast slow big small customer"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
N_SOURCES = 20


def events_table(n: int, seed: int) -> pa.Table:
    """``n`` events with dense ids from 0 and increasing ``ts``."""
    rng = np.random.default_rng(seed)
    gaps_us = rng.integers(1, 50_000_000, size=n)
    ts = T0_US + np.cumsum(gaps_us)
    types = np.array(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), size=n)]
    keys = rng.integers(0, 100, size=n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, size=n), pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array(np.round(rng.exponential(60.0, size=n), 2), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in keys.tolist()], pa.string()),
        }
    )


def documents_table(n: int, seed: int) -> pa.Table:
    """``n`` short documents; about one in twenty repeats an earlier text so
    the dedup operators have exact duplicates to find."""
    rng = np.random.default_rng(seed + 7919)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        n_words = int(rng.integers(8, 60))
        texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), size=n_words)))
    langs = [LANGS[j] for j in rng.integers(0, len(LANGS), size=n)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_table(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
