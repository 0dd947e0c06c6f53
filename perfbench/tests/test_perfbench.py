"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
from tracing import Span, percentile, self_time, self_times, tail_percentile  # noqa: E402

SMALL_STREAM = {**gen.STREAM_SHAPE, "history_rows": 400, "history_keys": 50,
                "batches": 6, "batch_size": 80, "new_key_space": 50,
                "invalid_frac": 0.05, "stale_frac": 0.05}


# -- generator ----------------------------------------------------------------
def test_purchases_deterministic_per_seed_and_differs_across_seeds():
    a = gen.purchases(7, 2000, 300, 1.05)
    assert a.equals(gen.purchases(7, 2000, 300, 1.05))
    assert not a.equals(gen.purchases(8, 2000, 300, 1.05))
    assert gen.purchases_as_events(a).equals(gen.purchases_as_events(a.copy()))


def test_stream_deterministic_per_seed_and_differs_across_seeds():
    a, b, c = (gen.stream(s, SMALL_STREAM) for s in (3, 3, 4))
    assert a.history.equals(b.history)
    assert all(x.equals(y) for x, y in zip(a.batches, b.batches))
    assert not all(x.equals(y) for x, y in zip(a.batches, c.batches))


def _redelivered(batches) -> set[int]:
    """event_ids delivered again in a later batch (never twice in one)."""
    seen: set[int] = set()
    again: set[int] = set()
    for b in batches:
        ids = list(b["event_id"])
        assert len(ids) == len(set(ids))
        again |= seen & set(ids)
        seen |= set(ids)
    return again


def test_stream_has_invalid_rows_and_stale_redeliveries_of_valid_events():
    s = gen.stream(5, SMALL_STREAM)
    assert len(s.batches) == SMALL_STREAM["batches"]
    invalid = checks.invalid_events(pd.concat(s.batches))
    assert len(invalid) > 0 and _redelivered(s.batches)
    assert set(invalid["event_id"]).isdisjoint(_redelivered(s.batches))


def test_purchases_as_events_round_trips_the_loyalty_score():
    p = gen.purchases(1, 100, 20, 1.05)
    e = gen.purchases_as_events(p)
    k = e["props"].str.extract(r'"k": (\d+)')[0].astype(float)
    assert (k.to_numpy() == p["loyalty_score"].to_numpy()).all()


# -- statistics -----------------------------------------------------------------
def test_percentile_matches_statistics_quantiles_inclusive():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.3, 5.8]
    q = statistics.quantiles(xs, n=10, method="inclusive")
    assert percentile(xs, 90) == pytest.approx(q[8])
    assert percentile(xs, 50) == pytest.approx(statistics.median(xs))
    assert percentile(xs, 0) == min(xs) and percentile(xs, 100) == max(xs)


@pytest.mark.parametrize("n", [11, 12, 30, 101, 1000])
def test_tail_percentile_keeps_exactly_ten_samples_beyond(n):
    xs = list(range(n))
    p = tail_percentile(n)
    assert sum(x > percentile(xs, p) for x in xs) >= 10
    # one sample's worth higher leaves fewer than ten beyond it
    assert sum(x > percentile(xs, 100.0 * (1 - 9 / n)) for x in xs) < 10


def test_tail_percentile_needs_more_than_ten_samples():
    assert tail_percentile(10) is None
    assert tail_percentile(100) == pytest.approx(90.0)


def _span(i, start, end, parent=None, name="s"):
    return Span(name, "t", i, parent, start, end)


def test_self_time_subtracts_the_union_of_children():
    parent = _span(1, 0.0, 10.0)
    kids = [_span(2, 1.0, 3.0, 1), _span(3, 2.0, 5.0, 1), _span(4, 7.0, 8.0, 1),
            _span(5, 9.5, 12.0, 1)]  # the last one overruns its parent
    assert self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 1.0 - 0.5)
    assert self_time(parent, []) == 10.0


def test_self_times_over_a_span_tree():
    spans = [_span(2, 1.0, 4.0, 1), _span(3, 2.0, 3.0, 2), _span(1, 0.0, 5.0)]
    st = self_times(spans)
    assert st == pytest.approx({1: 2.0, 2: 2.0, 3: 1.0})


def test_end_to_end_metrics_from_hand_built_passes():
    passes = [
        {"run_s": 10.0, "batches": [1.0, 2.0, 3.0], "freshness": [1.5, 2.5, 3.5],
         "rows": 300, "rows_s": 6.0, "store": {"data_bytes": 2_000_000, "log_bytes": 0}},
        {"run_s": 12.0, "batches": [4.0, 5.0], "freshness": [4.5, 5.5],
         "rows": 200, "rows_s": 4.0, "store": {"data_bytes": 3_000_000, "log_bytes": 1_000}},
    ]
    m = metrics.end_to_end(passes, setup_s=7.0, peak_rss_mb=100.0)
    assert m["run_s"] == 11.0
    assert m["batch_p50_s"] == 3.0
    assert m["batch_tail_s"] == pytest.approx(percentile([1, 2, 3, 4, 5], 90))
    assert m["events_per_s"] == 50.0
    assert m["freshness_p50_s"] == 3.5
    assert m["store_mb"] == pytest.approx(2.5005)
    assert set(m) == set(metrics.END_TO_END)


# -- output checks: pipeline_batch ---------------------------------------------
@pytest.fixture(scope="module")
def purchases_parquet(tmp_path_factory):
    p = gen.purchases(2, 3000, 200, 1.05)
    path = tmp_path_factory.mktemp("p") / "purchases.parquet"
    p.to_parquet(path, index=False)
    return p, str(path)


def _features_like_the_program(p: pd.DataFrame) -> pd.DataFrame:
    """engineer_features' contract in pandas (an independent second route)."""
    last = p.sort_values(["purchase_timestamp", "event_id"]).groupby("customer_id").tail(1)
    cents = p.assign(pv=(p.purchase_value * 100).round().astype(np.int64),
                     ls=(p.loyalty_score * 100).round().astype(np.int64))
    g = cents.groupby("customer_id")
    return pd.DataFrame({
        "customer_id": last["customer_id"].to_numpy(),
        "purchase_timestamp": last["purchase_timestamp"].to_numpy(),
        "latest_purchase_value": last["purchase_value"].to_numpy(),
        "avg_purchase_value": (g.pv.sum() / 100 / g.size()).round(6).loc[last.customer_id].to_numpy(),
        "avg_loyalty_score": (g.ls.sum() / 100 / g.size()).round(6).loc[last.customer_id].to_numpy(),
        "latest_loyalty_score": last["loyalty_score"].to_numpy(),
    })


def test_expected_features_agree_with_an_independent_pandas_route(purchases_parquet):
    p, path = purchases_parquet
    expected = checks.expected_features(path)
    assert checks.compare_features(_features_like_the_program(p), expected, "x") == []


def test_averages_accept_either_rounding_of_an_exact_tie_and_nothing_else(tmp_path):
    # 32 purchases of one customer summing to 1 cent: the mean 0.0003125 is
    # a tie at the 6th decimal, so 0.000312 and 0.000313 are both rounded
    n = 32
    p = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "customer_id": np.ones(n, dtype=np.int64),
        "purchase_timestamp": (gen.EPOCH_US + np.arange(n)).astype("datetime64[us]"),
        "purchase_value": [0.01] + [0.0] * (n - 1),
        "loyalty_score": [7.0] * n,
    })
    p.to_parquet(tmp_path / "tie.parquet", index=False)
    e = checks.expected_features(str(tmp_path / "tie.parquet"))
    assert (e["avg_purchase_value_lo"][0], e["avg_purchase_value_hi"][0]) == (312, 313)
    for v, ok in ((0.000312, True), (0.000313, True), (0.000311, False), (0.0003125, False)):
        assert (checks.compare_features(e.assign(avg_purchase_value=v), e, "tie") == []) is ok, v


def test_compare_features_fails_on_corrupted_rows(purchases_parquet):
    _p, path = purchases_parquet
    e = checks.expected_features(path)
    bad_value = e.copy()
    bad_value.loc[3, "avg_purchase_value"] += 0.01
    bad_ts = e.copy()
    bad_ts.loc[5, "purchase_timestamp"] += pd.Timedelta(microseconds=1)
    for corrupted in (bad_value, bad_ts, e.iloc[1:], e.assign(customer_id=e.customer_id + 1)):
        assert checks.compare_features(corrupted, e, "engineered rows"), corrupted.head(2)


def _train(seed=0, n=500):
    rng = np.random.default_rng(seed)
    x = rng.uniform(1, 500, size=(n, 3))
    y = 3.0 + x @ np.array([0.01, -0.02, 0.5]) + rng.normal(0, 1, n)
    cols = ["a", "b", "c"]
    return cols, pd.DataFrame({**dict(zip(cols, x.T)), "y": y})


def test_compare_coefficients_passes_exact_fit_and_fails_perturbed():
    cols, t = _train()
    x = np.column_stack([t[cols].to_numpy(), np.ones(len(t))])
    sol = np.linalg.lstsq(x, t["y"].to_numpy(), rcond=None)[0]
    assert checks.compare_coefficients(cols, list(sol[:3]), sol[3], t, "y") == []
    w = list(sol[:3])
    w[1] *= 1.01
    assert checks.compare_coefficients(cols, w, sol[3], t, "y")
    assert checks.compare_coefficients(cols, list(sol[:3]), sol[3] + 0.1, t, "y")


def test_compare_snapshot_fails_on_missing_key_or_wrong_record(purchases_parquet):
    _p, path = purchases_parquet
    e = checks.expected_features(path)
    records = {r["customer_id"]: r for r in e.to_dict("records")}
    assert checks.compare_snapshot(records, e, len(e)) == []
    k = next(iter(records))
    assert checks.compare_snapshot({**records, k: None}, e, len(e) - 1)
    assert checks.compare_snapshot(records, e, len(e) + 1)
    wrong = {**records, k: {**records[k], "avg_loyalty_score": -1.0}}
    assert checks.compare_snapshot(wrong, e, len(e))


# -- output checks: stream_microbatch ------------------------------------------
def _ts(us):
    return dt.datetime(2024, 1, 1) + dt.timedelta(microseconds=us)


def test_fold_stream_applies_old_plus_new_over_two_and_miss_defaults():
    seed = pd.DataFrame([{"customer_id": 1, "purchase_timestamp": _ts(0),
                          "latest_purchase_value": 8.0, "avg_purchase_value": 10.0,
                          "avg_loyalty_score": 4.0, "latest_loyalty_score": 3.0}])
    batch = pd.DataFrame({
        "event_id": [11, 10, 12],
        "customer_id": pd.array([1, 1, 2], dtype="Int64"),
        "purchase_timestamp": [_ts(20), _ts(10), _ts(5)],
        "purchase_value": pd.array([30.0, 20.0, 6.0], dtype="Float64"),
    })
    cols, w, b = ["latest_purchase_value", "avg_purchase_value", "avg_loyalty_score"], [1.0, 0.5, 2.0], 0.25
    final, preds = checks.fold_stream(seed, [batch], cols, w, b)
    p10 = b + 20.0 + 0.5 * 10.0 + 2.0 * 4.0             # key 1, seeded state
    p11 = b + 30.0 + 0.5 * 15.0 + 2.0 * ((4.0 + p10) / 2)  # after event 10
    p12 = b + 6.0 + 0.5 * 6.0 + 0.0                      # key 2: miss defaults
    assert dict(preds) == pytest.approx({10: p10, 11: p11, 12: p12})
    assert final[1]["avg_purchase_value"] == pytest.approx((15.0 + 30.0) / 2)
    assert final[1]["latest_loyalty_score"] == pytest.approx(p11)
    assert final[2] == pytest.approx({"purchase_timestamp": checks._ts_us(_ts(5)),
                                      "latest_purchase_value": 6.0,
                                      "avg_purchase_value": 6.0, "avg_loyalty_score": p12,
                                      "latest_loyalty_score": p12})


@pytest.fixture(scope="module")
def folded():
    s = gen.stream(9, SMALL_STREAM)
    seed = (s.history.sort_values(["purchase_timestamp", "event_id"])
            .groupby("customer_id").tail(1)
            .rename(columns={"purchase_value": "latest_purchase_value",
                             "loyalty_score": "latest_loyalty_score"})
            .assign(avg_purchase_value=lambda d: d.latest_purchase_value,
                    avg_loyalty_score=lambda d: d.latest_loyalty_score))
    cols, w, b = ["latest_purchase_value", "avg_purchase_value", "avg_loyalty_score"], [0.1, 0.2, 0.3], 1.0
    final, preds = checks.fold_stream(seed, s.batches, cols, w, b)
    return s, final, preds


def _records(final):
    """The fold's state as ServingSession.get_records returns it."""
    epoch = dt.datetime(1970, 1, 1)
    return {k: {**v, "purchase_timestamp": epoch + dt.timedelta(microseconds=v["purchase_timestamp"])}
            for k, v in final.items()}


def test_compare_online_view_fails_on_corrupted_state(folded):
    _s, final, _p = folded
    rec = _records(final)
    assert checks.compare_online_view(rec, len(rec), final) == []
    k = next(iter(rec))
    assert checks.compare_online_view({**rec, k: None}, len(rec), final)
    shifted = {**rec, k: {**rec[k], "purchase_timestamp": rec[k]["purchase_timestamp"]
                         + dt.timedelta(microseconds=1)}}
    assert checks.compare_online_view(shifted, len(rec), final)
    drifted = {**rec, k: {**rec[k], "avg_purchase_value": rec[k]["avg_purchase_value"] + 1e-6}}
    assert checks.compare_online_view(drifted, len(rec), final)
    assert checks.compare_online_view(rec, len(rec) + 1, final)


def _log(stream, preds):
    """A prediction log as process_batch returns it: one row per delivery."""
    valid = pd.concat([checks.valid_events(b) for b in stream.batches])
    info = valid.drop_duplicates("event_id").set_index("event_id")
    ids = [e for e, _ in preds]
    return pd.DataFrame({
        "event_id": ids,
        "customer_id": info.loc[ids, "customer_id"].astype(int).to_numpy(),
        "purchase_value": info.loc[ids, "purchase_value"].astype(float).to_numpy(),
        "prediction": [v for _, v in preds],
    })


def test_compare_prediction_log_fails_on_lost_row_or_wrong_prediction(folded):
    s, _final, preds = folded
    log = _log(s, preds)
    assert _redelivered(s.batches)  # re-deliveries log once per delivery
    assert checks.compare_prediction_log(log, s.batches, preds) == []
    assert checks.compare_prediction_log(log.iloc[1:], s.batches, preds)
    wrong = log.copy()
    wrong.loc[0, "prediction"] += 1e-3
    assert checks.compare_prediction_log(wrong, s.batches, preds)
    extra = pd.concat([log, log.iloc[:1]], ignore_index=True)
    assert checks.compare_prediction_log(extra, s.batches, preds)


def test_compare_dlq_fails_unless_every_invalid_row_is_there_at_both_attempts(folded):
    s, _final, _p = folded
    invalid = checks.invalid_events(pd.concat(s.batches))
    dlq = pd.concat([invalid.assign(attempt=1), invalid.assign(attempt=2)])
    assert checks.compare_dlq(dlq, invalid) == []
    assert checks.compare_dlq(dlq.iloc[1:], invalid)
    assert checks.compare_dlq(dlq[dlq.attempt == 1], invalid)
    assert checks.compare_dlq(pd.concat([dlq, invalid.iloc[:1].assign(attempt=3)]), invalid)


# -- the contract's failure mode -------------------------------------------------
def test_run_exits_nonzero_without_a_result_when_the_program_is_absent(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("tests", "__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pipeline_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert r.stdout.strip() == ""
