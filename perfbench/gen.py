"""Seeded workload inputs for the benchmark.

Pure numpy/pandas: generating inputs touches neither Spark nor the program,
and the same seed always yields byte-identical frames. Callers hand the
program only what these functions return (written to parquet or turned into
DataFrames outside every timed region).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

# Workload shapes. BENCHMARK.json's `why` lines and perfbench/README.md
# describe why each was chosen; the numbers live here only.
PIPELINE_SHAPE = {"rows": 500_000, "key_space": 50_000, "zipf_s": 1.05}
STREAM_SHAPE = {
    "history_rows": 20_000,
    "history_keys": 4_000,
    "batches": 6,
    "batch_size": 500,
    "new_key_space": 4_000,
    "zipf_s": 1.1,
    "invalid_frac": 0.01,
    "stale_frac": 0.01,
}

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
DAY_US = 86_400_000_000
HISTORY_DAYS = 90


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent generator per input kind, so changing one shape never
    # shifts another input drawn from the same seed
    return np.random.default_rng([seed, sum(stream.encode())])


def zipf_keys(rng: np.random.Generator, n: int, key_space: int, s: float) -> np.ndarray:
    """n draws from a finite Zipf(s) over ``key_space`` ids in [1, key_space];
    the rank -> id map is a seeded permutation so hot keys are spread over
    the id range instead of clustering at 1, 2, 3."""
    p = np.arange(1, key_space + 1, dtype=np.float64) ** -s
    p /= p.sum()
    ranks = rng.choice(key_space, size=n, p=p)
    return rng.permutation(key_space)[ranks].astype(np.int64) + 1


def _timestamps(rng: np.random.Generator, n: int, start_us: int, span_us: int) -> np.ndarray:
    us = start_us + rng.integers(0, span_us, size=n, dtype=np.int64)
    return us.astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo_cents: int, hi_cents: int) -> np.ndarray:
    # whole cents, so decimal(18,2) casts are exact on every engine
    return rng.integers(lo_cents, hi_cents, size=n, dtype=np.int64) / 100.0


def purchases(seed: int, rows: int, key_space: int, zipf_s: float,
              stream: str = "purchases") -> pd.DataFrame:
    """The reference's purchases table over 90 days: event_id, customer_id,
    purchase_timestamp, purchase_value, loyalty_score."""
    rng = _rng(seed, stream)
    return pd.DataFrame(
        {
            "event_id": np.arange(1, rows + 1, dtype=np.int64),
            "customer_id": zipf_keys(rng, rows, key_space, zipf_s),
            "purchase_timestamp": _timestamps(rng, rows, EPOCH_US, HISTORY_DAYS * DAY_US),
            "purchase_value": _money(rng, rows, 100, 50_000),
            # whole numbers: the registry's events fixture carries the score
            # as an integer JSON field (``props`` = '{"k": 76}')
            "loyalty_score": rng.integers(0, 100, size=rows).astype(np.float64),
        }
    )


@dataclass
class Stream:
    history: pd.DataFrame  # reference purchases schema, seeds the feature group
    batches: list[pd.DataFrame]  # EVENT_SCHEMA columns; nullable key/value


def stream(seed: int, shape: dict = STREAM_SHAPE) -> Stream:
    """Seed history plus a replayed event stream.

    Keys are Zipf over the seeded customers followed by never-seen ones.
    About ``invalid_frac`` of events lose their key or value (the DLQ path),
    and about ``stale_frac`` of events in batch i > 0 are exact re-deliveries
    of an event from an earlier batch (the parity-mode arrival-order quirk).
    """
    hist = purchases(
        seed, shape["history_rows"], shape["history_keys"], shape["zipf_s"],
        stream="history",
    )
    rng = _rng(seed, "stream")
    b, size = shape["batches"], shape["batch_size"]
    key_space = shape["history_keys"] + shape["new_key_space"]
    n = b * size
    keys = zipf_keys(rng, n, key_space, shape["zipf_s"]).astype(object)
    values = _money(rng, n, 100, 50_000).astype(object)
    # stream time starts after the history and advances one minute per batch
    start = EPOCH_US + HISTORY_DAYS * DAY_US
    batch_of = np.repeat(np.arange(b), size)
    ts_us = start + batch_of * 60_000_000 + rng.integers(0, 60_000_000, size=n)
    ts = ts_us.astype("datetime64[us]")
    event_id = np.arange(10**9, 10**9 + n, dtype=np.int64)

    bad = rng.random(n) < shape["invalid_frac"]
    null_key = bad & (rng.random(n) < 0.5)
    keys[null_key] = None
    values[bad & ~null_key] = None

    events = pd.DataFrame(
        {
            "event_id": event_id,
            "customer_id": pd.array(keys, dtype="Int64"),
            "purchase_timestamp": ts,
            "purchase_value": pd.array(values, dtype="Float64"),
        }
    )
    batches = [events.iloc[i * size:(i + 1) * size] for i in range(b)]
    out = [batches[0].reset_index(drop=True)]
    for i in range(1, b):
        valid_before = events.iloc[: i * size][~bad[: i * size]]
        k = int(rng.binomial(size, shape["stale_frac"]))
        pick = valid_before.iloc[rng.choice(len(valid_before), size=k, replace=False)]
        out.append(pd.concat([batches[i], pick], ignore_index=True))
    return Stream(history=hist, batches=out)


def purchases_as_events(p: pd.DataFrame) -> pd.DataFrame:
    """The same purchases in the registry's ``events`` fixture schema
    (data.SCHEMAS), which ``q16_engineer_features`` maps back to purchases:
    user_id -> customer_id, value -> purchase_value, props.k -> loyalty_score."""
    k = p["loyalty_score"].to_numpy().astype(np.int64).astype(str)
    return pd.DataFrame(
        {
            "event_id": p["event_id"],
            "ts": p["purchase_timestamp"],
            "user_id": p["customer_id"],
            "event_type": "purchase",
            "value": p["purchase_value"],
            "props": np.char.add(np.char.add('{"k": ', k), "}").astype(object),
        }
    )
