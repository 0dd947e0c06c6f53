"""Metrics from timed passes and their spans.

End-to-end metrics come from untraced passes; per-layer metrics from traced
ones. Every workload reports every metric. A per-layer metric of a layer the
workload never calls reads 0 (no calls, no time).
"""

from __future__ import annotations

from tracing import median, percentile, self_times, tail_percentile

TAIL_PERCENTILE = 90

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "batch_p50_s": "s",
    "batch_tail_s": "s",
    "events_per_s": "1/s",
    "freshness_p50_s": "s",
    "store_mb": "MB",
    "peak_rss_mb": "MB",
}

Q16 = "queries.q16_engineer_features"

PER_LAYER = {
    "session.get_spark_s": "s",
    "engineering.engineer_features_s": "s",
    "store.ingest_s": "s",
    "store.ingest_jobs": "count",
    "store.training_dataset_s": "s",
    "store.commits": "count",
    "store.data_files": "count",
    "store.data_mb": "MB",
    "store.log_kb": "KB",
    "ml.train_model_s": "s",
    "ml.train_model_jobs": "count",
    "ml.save_model_s": "s",
    "ml.load_model_s": "s",
    "serving.build_s": "s",
    "serving.refresh_s": "s",
    "serving.refresh_jobs": "count",
    "serving.refresh_noop_frac": "ratio",
    "serving.snapshot_keys": "count",
    "serving.get_records_us": "us",
    "serving.hit_frac": "ratio",
    "inference.process_batch_s": "s",
    "inference.process_batch_jobs": "count",
    "inference.process_batch_tasks": "count",
    "inference.process_batch_growth": "ratio",
    "inference.keys_per_batch": "count",
    "inference.rows_in": "count",
    "inference.rows_valid": "count",
    "inference.rows_dlq": "count",
    "inference.retry_dlq_s": "s",
    "inference.retry_recovered_frac": "ratio",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.jobs": "count",
    "queries.tasks": "count",
    f"{Q16}.s": "s",
    f"{Q16}.jobs": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "trace.overhead_s": "s",
    "trace.self_s": "s",
    "trace.spans": "count",
}


def with_units(values: dict) -> dict:
    units = {**END_TO_END, **PER_LAYER}
    return {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}


def _batches(passes):
    return [b for p in passes for b in p["batches"]]


def samples(passes) -> dict:
    n = len(_batches(passes))
    return {
        "passes": len(passes),
        "batches": n,
        "batch_tail_percentile": TAIL_PERCENTILE,
        "percentile_with_10_beyond": tail_percentile(n),
        "batch_s": [round(b, 4) for b in _batches(passes)],
        "pass_s": [round(p["run_s"], 4) for p in passes],
    }


def end_to_end(passes, setup_s: float, peak_rss_mb: float) -> dict:
    lat = _batches(passes)
    return {
        "setup_s": setup_s,
        "run_s": median(p["run_s"] for p in passes),
        "batch_p50_s": median(lat),
        "batch_tail_s": percentile(lat, TAIL_PERCENTILE),
        "events_per_s": sum(p["rows"] for p in passes) / sum(p["rows_s"] for p in passes),
        "freshness_p50_s": median(f for p in passes for f in p["freshness"]),
        "store_mb": median(
            (p["store"]["data_bytes"] + p["store"]["log_bytes"]) / 1e6 for p in passes
        ),
        "peak_rss_mb": peak_rss_mb,
    }


def _per_pass(passes, fn):
    """Median over passes of fn(pass)."""
    return median(fn(p) for p in passes)


def _named(p, name):
    return [s for s in p["spans"] if s.name == name]


def _dur(p, name):
    return median(s.duration for s in _named(p, name))


def _growth(lat):
    q = len(lat) // 4
    if q == 0:
        return 0.0
    return median(lat[-q:]) / median(lat[:q])


def per_layer(traced, untraced, get_spark_s: float) -> dict:
    P = traced

    def refresh(p, new):
        return [s for s in _named(p, "serving.refresh") if s.attrs.get("new") is new]

    def gets(p, field):
        return sum(s.attrs[field] for s in _named(p, "serving.get_records"))

    def frac(num, den):
        return num / den if den else 0.0

    def q_spans(p):
        return [s for s in p["spans"] if s.name.startswith("queries.")]

    def dlq(p, attempt):
        return p.get("dlq_attempts", {}).get(attempt, 0)

    def spark_total(p, field):
        return sum(getattr(s, field) for s in p["spans"])

    pb = "inference.process_batch"
    m = {
        "session.get_spark_s": get_spark_s,
        "engineering.engineer_features_s": _per_pass(P, lambda p: _dur(p, "engineering.engineer_features")),
        "store.ingest_s": _per_pass(P, lambda p: _dur(p, "store.ingest")),
        "store.ingest_jobs": _per_pass(P, lambda p: median(s.jobs for s in _named(p, "store.ingest"))),
        "store.training_dataset_s": _per_pass(P, lambda p: _dur(p, "store.training_dataset")),
        "store.commits": _per_pass(P, lambda p: p["commits"]),
        "store.data_files": _per_pass(P, lambda p: p["store"]["data_files"]),
        "store.data_mb": _per_pass(P, lambda p: p["store"]["data_bytes"] / 1e6),
        "store.log_kb": _per_pass(P, lambda p: p["store"]["log_bytes"] / 1e3),
        "ml.train_model_s": _per_pass(P, lambda p: _dur(p, "ml.train_model")),
        "ml.train_model_jobs": _per_pass(P, lambda p: median(s.jobs for s in _named(p, "ml.train_model"))),
        "ml.save_model_s": _per_pass(P, lambda p: _dur(p, "ml.save_model")),
        "ml.load_model_s": _per_pass(P, lambda p: _dur(p, "ml.load_model")),
        "serving.build_s": _per_pass(P, lambda p: _dur(p, "serving.build")),
        "serving.refresh_s": _per_pass(P, lambda p: median(s.duration for s in refresh(p, True))),
        "serving.refresh_jobs": _per_pass(P, lambda p: median(s.jobs for s in refresh(p, True))),
        "serving.refresh_noop_frac": _per_pass(
            P, lambda p: frac(len(refresh(p, False)), len(_named(p, "serving.refresh")))
        ),
        "serving.snapshot_keys": _per_pass(P, lambda p: len(p["srv"])),
        "serving.get_records_us": _per_pass(
            P, lambda p: frac(sum(s.duration for s in _named(p, "serving.get_records")) * 1e6,
                              gets(p, "keys"))
        ),
        "serving.hit_frac": _per_pass(P, lambda p: frac(gets(p, "hits"), gets(p, "keys"))),
        "inference.process_batch_s": _per_pass(P, lambda p: _dur(p, pb)),
        "inference.process_batch_jobs": _per_pass(P, lambda p: median(s.jobs for s in _named(p, pb))),
        "inference.process_batch_tasks": _per_pass(P, lambda p: median(s.tasks for s in _named(p, pb))),
        "inference.process_batch_growth": _per_pass(
            P, lambda p: _growth([s.duration for s in _named(p, pb)])
        ),
        "inference.keys_per_batch": _per_pass(P, lambda p: median(s.attrs["keys"] for s in _named(p, pb))),
        "inference.rows_in": _per_pass(P, lambda p: p.get("rows_in", 0)),
        "inference.rows_valid": _per_pass(P, lambda p: p.get("rows_valid", 0)),
        "inference.rows_dlq": _per_pass(P, lambda p: dlq(p, 1)),
        "inference.retry_dlq_s": _per_pass(P, lambda p: _dur(p, "inference.retry_dlq")),
        "inference.retry_recovered_frac": _per_pass(
            P, lambda p: frac(dlq(p, 1) - dlq(p, 2), dlq(p, 1))
        ),
        "queries.build_s": _per_pass(
            P, lambda p: sum(s.duration for s in q_spans(p) if s.name.endswith(".build"))
        ),
        "queries.exec_s": _per_pass(
            P, lambda p: sum(s.duration for s in q_spans(p) if s.name.endswith(".exec"))
        ),
        "queries.jobs": _per_pass(P, lambda p: sum(s.jobs for s in q_spans(p))),
        "queries.tasks": _per_pass(P, lambda p: sum(s.tasks for s in q_spans(p))),
        f"{Q16}.s": _per_pass(
            P, lambda p: sum(s.duration for s in q_spans(p) if s.name.startswith(Q16 + "."))
        ),
        f"{Q16}.jobs": _per_pass(
            P, lambda p: sum(s.jobs for s in q_spans(p) if s.name.startswith(Q16 + "."))
        ),
        "spark.jobs": _per_pass(P, lambda p: spark_total(p, "jobs")),
        "spark.tasks": _per_pass(P, lambda p: spark_total(p, "tasks")),
        "trace.overhead_s": median(p["run_s"] for p in traced)
        - median(p["run_s"] for p in untraced),
        # the pass's own time outside every public call: benchmark glue
        "trace.self_s": _per_pass(
            P, lambda p: self_times(p["spans"])[next(s.span_id for s in p["spans"] if s.name == "pass")]
        ),
        "trace.spans": _per_pass(P, lambda p: len(p["spans"])),
    }
    return m
