"""Output checks: each returns a list of mismatch descriptions (empty = pass).

They take plain pandas frames, dicts and numbers, never Spark objects, so
they run outside every timed region and the tests can feed them corrupted
results without a Spark session. The references are independent of the
program: DuckDB SQL, numpy least squares and a pure-Python fold.
"""

from __future__ import annotations

import datetime as dt
import math
from collections import Counter

import duckdb
import numpy as np
import pandas as pd

FEATURE_COLS = [
    "customer_id",
    "purchase_timestamp",
    "latest_purchase_value",
    "avg_purchase_value",
    "avg_loyalty_score",
    "latest_loyalty_score",
]
FLOAT_COLS = FEATURE_COLS[2:]
_MAX_REPORTED = 3


def _ts_us(v) -> int | None:
    """Microseconds since the epoch for a datetime-like (naive = UTC)."""
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return None
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return int(pd.Timestamp(v).value // 1000)


def _close(a, b, rel: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


# -- pipeline_batch ---------------------------------------------------------
AVG_SOURCES = {"avg_purchase_value": "purchase_value", "avg_loyalty_score": "loyalty_score"}


def expected_features(purchases_parquet: str) -> pd.DataFrame:
    """engineer_features' contract in the q16 oracle's shape, in DuckDB: per
    customer the latest row by (timestamp, event_id) and the newest
    timestamp, plus each average as an exact rational (cent sum, count).

    Averages are promised rounded to 6 decimals. Where the exact mean ends
    in a 5 at the 7th decimal (cent sums over counts like 32 or 80) the tie
    rule is not part of that promise, and engines differ on it: Spark
    rounds the double's decimal rendering half-up, DuckDB rounds the binary
    double. So each average carries both admissible 6-dp results in
    micro-units (``<col>_lo``/``<col>_hi``; equal unless the mean is a tie),
    and ``<col>`` holds the half-up one.
    """
    cents = ", ".join(
        f"SUM(CAST(ROUND({src} * 100) AS BIGINT)) AS {col}_cents"
        for col, src in AVG_SOURCES.items()
    )
    sql = f"""
    WITH p AS (SELECT * FROM read_parquet('{purchases_parquet}')),
    agg AS (
      SELECT customer_id, MAX(purchase_timestamp) AS purchase_timestamp,
             COUNT(*) AS n, {cents}
      FROM p GROUP BY customer_id
    ),
    latest AS (
      SELECT customer_id, purchase_value AS latest_purchase_value,
             loyalty_score AS latest_loyalty_score
      FROM p
      QUALIFY ROW_NUMBER() OVER (PARTITION BY customer_id
                                 ORDER BY purchase_timestamp DESC, event_id DESC) = 1
    )
    SELECT * FROM agg JOIN latest USING (customer_id) ORDER BY customer_id
    """
    with duckdb.connect() as con:
        df = con.execute(sql).df()
    n = df["n"].to_numpy(np.int64)
    for col in AVG_SOURCES:
        # mean in micro-units is cents * 1e4 / n; round half up and half down
        twice = df.pop(f"{col}_cents").to_numpy(np.int64) * 20_000
        df[f"{col}_hi"] = (twice + n) // (2 * n)
        df[f"{col}_lo"] = (twice + n - 1) // (2 * n)
        df[col] = df[f"{col}_hi"] / 1e6
    return df


def _avg_ok(actual: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """actual is the double nearest to lo/1e6 or to hi/1e6."""
    return (actual == lo / 1e6) | (actual == hi / 1e6)


def compare_features(actual: pd.DataFrame, expected: pd.DataFrame, what: str) -> list[str]:
    """Row-for-row equality keyed on customer_id: timestamps to the
    microsecond, latest values exactly, averages to one of their admissible
    6-dp roundings."""
    a = actual[FEATURE_COLS].sort_values("customer_id").reset_index(drop=True)
    e = expected.sort_values("customer_id").reset_index(drop=True)
    if len(a) != len(e):
        return [f"{what}: {len(a)} rows, expected {len(e)}"]
    out = []
    if not np.array_equal(a["customer_id"].to_numpy(), e["customer_id"].to_numpy()):
        out.append(f"{what}: customer_id sets differ")
        return out
    at = a["purchase_timestamp"].map(_ts_us).to_numpy()
    et = e["purchase_timestamp"].map(_ts_us).to_numpy()
    bad = np.flatnonzero(at != et)
    if len(bad):
        out.append(f"{what}: purchase_timestamp differs on {len(bad)} keys, "
                   f"e.g. customer {a['customer_id'][bad[0]]}")
    for c in FLOAT_COLS:
        av = a[c].to_numpy(np.float64)
        if c in AVG_SOURCES:
            ok = _avg_ok(av, e[f"{c}_lo"].to_numpy(), e[f"{c}_hi"].to_numpy())
        else:
            ok = av == e[c].to_numpy(np.float64)
        if not ok.all():
            i = np.flatnonzero(~ok)[0]
            out.append(f"{what}: {c} differs on {int((~ok).sum())} keys, e.g. customer "
                       f"{a['customer_id'][i]}: {av[i]!r} vs {e[c][i]!r}")
    return out


def compare_coefficients(feature_cols: list[str], weights: list[float], intercept: float,
                         train: pd.DataFrame, target: str) -> list[str]:
    """The fitted linear model against numpy least squares on the same
    training rows (NULL rows dropped, as the trainer does)."""
    t = train[[*feature_cols, target]].dropna()
    x = np.column_stack([t[feature_cols].to_numpy(np.float64), np.ones(len(t))])
    sol, *_ = np.linalg.lstsq(x, t[target].to_numpy(np.float64), rcond=None)
    got = np.array([*weights, intercept])
    # tolerance relative to each coefficient's contribution at the data's
    # scale, so near-zero weights of a noisy fit are not held to 1e-9
    scale = np.append(np.abs(x[:, :-1]).mean(axis=0), 1.0)
    err = np.abs(got - sol) * scale
    tol = 1e-6 * max(1.0, float(np.abs(t[target]).mean()))
    if (err > tol).any():
        names = [*feature_cols, "intercept"]
        i = int(np.argmax(err))
        return [f"model: {names[i]} = {got[i]!r}, least squares gives {sol[i]!r}"]
    return []


def compare_snapshot(records: dict, expected: pd.DataFrame, snapshot_len: int) -> list[str]:
    """Serving snapshot: exactly the expected keys, each with the expected
    record. ``records`` is ServingSession.get_records over those keys."""
    out = []
    if snapshot_len != len(expected):
        out.append(f"snapshot holds {snapshot_len} keys, expected {len(expected)}")
    missing = [k for k, r in records.items() if r is None]
    if missing:
        out.append(f"snapshot misses {len(missing)} keys, e.g. {missing[0]}")
        return out
    got = pd.DataFrame([records[k] for k in expected["customer_id"].tolist()],
                       columns=FEATURE_COLS)
    out += compare_features(got, expected, "snapshot")
    return out


# -- stream_microbatch ------------------------------------------------------
def fold_stream(seed_state: pd.DataFrame, batches: list[pd.DataFrame],
                feature_cols: list[str], weights: list[float], intercept: float):
    """Pure-Python parity-mode fold: per batch, each key's valid events in
    (timestamp, event_id) order, (old+new)/2 averages, defaults on a miss.

    Returns (final state by key, [(event_id, prediction)] in fold order).
    """
    state = {
        int(r.customer_id): {
            "purchase_timestamp": _ts_us(r.purchase_timestamp),
            "latest_purchase_value": r.latest_purchase_value,
            "avg_purchase_value": r.avg_purchase_value,
            "avg_loyalty_score": r.avg_loyalty_score,
            "latest_loyalty_score": r.latest_loyalty_score,
        }
        for r in seed_state.itertuples(index=False)
    }
    preds = []
    for b in batches:
        v = valid_events(b)
        rows = sorted(
            (int(k), _ts_us(t), int(e), float(x))
            for k, t, e, x in zip(v["customer_id"], v["purchase_timestamp"],
                                  v["event_id"], v["purchase_value"])
        )
        for key, ts, eid, val in rows:
            cur = state.get(key)
            feats = {
                "latest_purchase_value": val,
                "avg_purchase_value": val if cur is None else cur["avg_purchase_value"],
                "avg_loyalty_score": 0.0 if cur is None else cur["avg_loyalty_score"],
            }
            pred = intercept + sum(w * feats[c] for w, c in zip(weights, feature_cols))
            if cur is None:
                avg_pv, avg_ls = val, pred
            else:
                avg_pv = (cur["avg_purchase_value"] + val) / 2.0
                avg_ls = (cur["avg_loyalty_score"] + pred) / 2.0
            state[key] = {
                "purchase_timestamp": ts,
                "latest_purchase_value": val,
                "avg_purchase_value": avg_pv,
                "avg_loyalty_score": avg_ls,
                "latest_loyalty_score": pred,
            }
            preds.append((eid, pred))
    return state, preds


def _is_valid(batch: pd.DataFrame) -> pd.Series:
    """The pipeline's validation predicate: key, value and time present."""
    return (batch["customer_id"].notna() & batch["purchase_value"].notna()
            & batch["purchase_timestamp"].notna())


def valid_events(batch: pd.DataFrame) -> pd.DataFrame:
    return batch[_is_valid(batch)]


def invalid_events(batch: pd.DataFrame) -> pd.DataFrame:
    return batch[~_is_valid(batch)]


def compare_online_view(records: dict, snapshot_len: int, expected: dict) -> list[str]:
    out = []
    if snapshot_len != len(expected):
        out.append(f"online view holds {snapshot_len} keys, expected {len(expected)}")
    bad = []
    for key, want in expected.items():
        got = records.get(key)
        if got is None:
            bad.append((key, "missing"))
            continue
        if _ts_us(got["purchase_timestamp"]) != want["purchase_timestamp"]:
            bad.append((key, "purchase_timestamp"))
            continue
        for c in FLOAT_COLS:
            if not _close(got[c], want[c]):
                bad.append((key, f"{c} {got[c]!r} vs {want[c]!r}"))
                break
    if bad:
        out.append(f"online view differs from the sequential fold on {len(bad)} keys, "
                   f"e.g. {bad[:_MAX_REPORTED]}")
    return out


def compare_prediction_log(log: pd.DataFrame, batches: list[pd.DataFrame],
                           expected_preds: list[tuple[int, float]]) -> list[str]:
    """Every valid event (re-deliveries included) appears once per delivery,
    carrying the fold's prediction for that delivery."""
    out = []
    want = Counter()
    for b in batches:
        v = valid_events(b)
        want.update(zip(v["event_id"].astype(int), v["customer_id"].astype(int),
                        v["purchase_value"].astype(float)))
    got = Counter(zip(log["event_id"].astype(int), log["customer_id"].astype(int),
                      log["purchase_value"].astype(float)))
    if got != want:
        extra, lost = got - want, want - got
        out.append(f"prediction log: {sum(lost.values())} valid events missing, "
                   f"{sum(extra.values())} unexpected rows")
        return out
    g = sorted(zip(log["event_id"].astype(int), log["prediction"].astype(float)))
    e = sorted(expected_preds)
    bad = [(a, b) for a, b in zip(g, e) if a[0] != b[0] or not _close(a[1], b[1])]
    if bad:
        out.append(f"prediction log: {len(bad)} predictions differ from the fold, "
                   f"e.g. {bad[:_MAX_REPORTED]}")
    return out


def compare_dlq(dlq: pd.DataFrame, invalid: pd.DataFrame) -> list[str]:
    """The DLQ holds each injected invalid row once at attempt 1 (first
    delivery) and once at attempt 2 (the single retry, which fails again)."""
    out = []
    want = sorted(invalid["event_id"].astype(int))
    for attempt in (1, 2):
        got = sorted(dlq.loc[dlq["attempt"] == attempt, "event_id"].astype(int))
        if got != want:
            out.append(f"dlq attempt {attempt}: {len(got)} rows, expected the "
                       f"{len(want)} injected invalid rows")
    others = sorted(set(dlq["attempt"].astype(int)) - {1, 2})
    if others:
        out.append(f"dlq holds unexpected attempts {others}")
    return out
