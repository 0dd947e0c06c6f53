"""The two workloads. Each is a closed loop with one caller: the next public
call starts when the previous one returns.

A workload generates its inputs once per run (``prepare``, excluded from
every metric), then runs passes. ``run_pass`` is the timed region; it goes
through the program's public calls only, each wrapped in a tracer span.
``check`` compares the pass's outputs with independent references, after
the pass and outside its timing.
"""

from __future__ import annotations

import functools
import os
import shutil

import numpy as np
import pandas as pd

import checks
import gen
from feature_store_test_spark import ml
from feature_store_test_spark.engineering import engineer_features
from feature_store_test_spark.registry import all_queries, persistent_rdd_ids, release_new_rdds
from feature_store_test_spark.store import FeatureStore, ServingSession
from feature_store_test_spark.streaming import InferencePipeline
from feature_store_test_spark.streaming.inference import EVENT_SCHEMA
from feature_store_test_spark.workflow import FEATURE_GROUP_NAME, FG_SCHEMA

KEY, TS = "customer_id", "purchase_timestamp"
VALUE_COLS = ["purchase_value", "loyalty_score"]
Q16 = "q16_engineer_features"


def _engineer(df):
    return engineer_features(df, KEY, TS, VALUE_COLS, tiebreak="event_id").select(
        *FG_SCHEMA.fieldNames()
    )


def _store_usage(path: str) -> dict:
    data_files = data_bytes = log_bytes = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            size = os.path.getsize(os.path.join(root, f))
            if f.endswith(".json"):
                log_bytes += size
            elif f.endswith(".parquet"):
                data_files += 1
                data_bytes += size
    return {"data_files": data_files, "data_bytes": data_bytes, "log_bytes": log_bytes}


class Workload:
    def __init__(self, spark, tracer, work_dir: str, seed: int):
        self.spark = spark
        self.tr = tracer
        self.dir = work_dir
        self.seed = seed
        self._passes = 0
        self._rdds = persistent_rdd_ids(spark)

    def _pass_dir(self) -> str:
        self._passes += 1
        d = os.path.join(self.dir, f"pass{self._passes}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def finish_pass(self, state: dict) -> None:
        """Drop the pass's store and the RDDs it left persisted (checkpointed
        micro-batch logs), so every pass starts from the same state."""
        shutil.rmtree(state["dir"], ignore_errors=True)
        release_new_rdds(self.spark, self._rdds)


class PipelineBatch(Workload):
    """engineer -> ingest (one large commit) -> serving snapshot -> training
    SQL -> fit -> save/load -> scorer, plus the registry's q16 over the same
    purchases. The batch is the one large ingest; freshness runs from
    handing it to engineer_features until the snapshot serves it."""

    name = "pipeline_batch"
    shape = gen.PIPELINE_SHAPE
    warmup_kwargs: dict = {}

    def prepare(self) -> None:
        p = gen.purchases(self.seed, **self.shape)
        self.rows = len(p)
        self.parquet = os.path.join(self.dir, "purchases.parquet")
        p.to_parquet(self.parquet, index=False)
        # the same rows in the registry's events schema, for q16
        self.events_dir = os.path.join(self.dir, "events")
        os.makedirs(self.events_dir)
        gen.purchases_as_events(p).to_parquet(
            os.path.join(self.events_dir, "events.parquet"), index=False
        )
        self.expected = checks.expected_features(self.parquet)
        self._q16_checked = False

    def run_pass(self, trace_id: str) -> dict:
        tr, spark, d = self.tr, self.spark, self._pass_dir()
        with tr.span("pass", trace_id=trace_id) as p:
            with tr.span("engineering.engineer_features") as eng_span:
                feats = _engineer(spark.read.parquet(self.parquet))
            fg = FeatureStore(spark, d).create(FEATURE_GROUP_NAME, FG_SCHEMA, KEY, TS)
            with tr.span("store.ingest") as ingest_span:
                fg.ingest(feats)
            with tr.span("serving.build") as build_span:
                srv = ServingSession(fg)
            with tr.span("store.training_dataset"):
                train = fg.training_dataset()
            with tr.span("ml.train_model"):
                model = ml.train_model(train)
            model_path = os.path.join(d, "model")
            with tr.span("ml.save_model"):
                ml.save_model(model, model_path)
            with tr.span("ml.load_model"):
                model = ml.load_model(spark, model_path)
            with tr.span("ml.to_linear_scorer"):
                scorer = ml.to_linear_scorer(model)
            with tr.span(f"queries.{Q16}.build"):
                q = all_queries()[Q16].fn(spark, self.events_dir)
            with tr.span(f"queries.{Q16}.exec"):
                q.write.format("noop").mode("overwrite").save()
        return {
            "dir": d,
            "run_s": p.duration,
            "batches": [ingest_span.end - eng_span.start],
            "freshness": [build_span.end - eng_span.start],
            "rows": self.rows,
            "rows_s": p.duration,
            "store": _store_usage(fg.table.path),
            "commits": len(fg.table.versions()),
            "fg": fg,
            "srv": srv,
            "scorer": scorer,
            "train": train,
            "q16": q,
        }

    def check(self, st: dict) -> tuple[int, list[str]]:
        """Returns (checks attempted, failures)."""
        e = self.expected
        fails = checks.compare_features(
            st["fg"].offline_history().toPandas(), e, "engineered rows"
        )
        s = st["scorer"]
        fails += checks.compare_coefficients(
            s.feature_cols, s.weights, s.intercept, st["train"].toPandas(), ml.TARGET
        )
        srv = st["srv"]
        fails += checks.compare_snapshot(srv.get_records(e["customer_id"].tolist()), e, len(srv))
        if self._q16_checked:
            return 3, fails
        # the query's code and input are the same every pass: check it once
        self._q16_checked = True
        return 4, fails + checks.compare_features(st["q16"].toPandas(), e, Q16)


def _history_scorer(history: pd.DataFrame) -> ml.LinearScorer:
    """A fixed linear model for the replay, fitted by numpy on per-customer
    features of the seed history (latest values and plain means). Model
    fitting is pipeline_batch's job; here it would only lengthen set-up."""
    h = history.sort_values(["purchase_timestamp", "event_id"]).groupby("customer_id")
    x = pd.DataFrame({
        "latest_purchase_value": h["purchase_value"].last(),
        "avg_purchase_value": h["purchase_value"].mean(),
        "avg_loyalty_score": h["loyalty_score"].mean(),
    })
    cols = list(ml.TRAINING_FEATURES)
    a = np.column_stack([x[cols].to_numpy(), np.ones(len(x))])
    sol = np.linalg.lstsq(a, h["loyalty_score"].last().to_numpy(), rcond=None)[0]
    return ml.LinearScorer(cols, [float(w) for w in sol[:-1]], float(sol[-1]))


class StreamMicrobatch(Workload):
    """Seed a fresh feature group from a small history (engineer, ingest),
    then replay micro-batches scored by a fixed linear model: process_batch,
    refresh the serving snapshot, and a burst of get_records rounds on the
    batch's keys (each round re-checks freshness with refresh(), a no-op
    unless the table moved). retry_dlq runs at the end."""

    name = "stream_microbatch"
    shape = gen.STREAM_SHAPE
    lookup_rounds = 5
    warmup_kwargs = {"n_batches": 1}

    def prepare(self) -> None:
        self.stream = gen.stream(self.seed, self.shape)
        self.history_df = self.spark.createDataFrame(self.stream.history)
        self.batch_dfs = [self.spark.createDataFrame(b, EVENT_SCHEMA) for b in self.stream.batches]
        self.batch_keys = [
            sorted(set(checks.valid_events(b)["customer_id"].astype(int).tolist()))
            for b in self.stream.batches
        ]
        self.rows_valid = [len(checks.valid_events(b)) for b in self.stream.batches]
        self.scorer = _history_scorer(self.stream.history)

    def run_pass(self, trace_id: str, n_batches: int | None = None) -> dict:
        tr, spark, d = self.tr, self.spark, self._pass_dir()
        n = n_batches or len(self.batch_dfs)
        lat, fresh = [], []
        with tr.span("pass", trace_id=trace_id) as p:
            with tr.span("engineering.engineer_features"):
                feats = _engineer(self.history_df)
            fg = FeatureStore(spark, d).create(FEATURE_GROUP_NAME, FG_SCHEMA, KEY, TS)
            with tr.span("store.ingest"):
                seed_version = fg.ingest(feats)
            pipe = InferencePipeline(spark, fg, self.scorer, os.path.join(d, "dlq"))
            with tr.span("serving.build"):
                srv = ServingSession(fg)
            with tr.span("replay") as replay:
                for bdf, keys in zip(self.batch_dfs[:n], self.batch_keys[:n]):
                    with tr.span("batch", trace_id=tr.new_trace("batch")):
                        with tr.span("inference.process_batch", keys=len(keys)) as pb:
                            pipe.process_batch(bdf)
                        for i in range(self.lookup_rounds):
                            with tr.span("serving.refresh") as r:
                                r.attrs["new"] = srv.refresh()
                            if i == 0:
                                fresh.append(r.end - pb.start)
                            with tr.span("serving.get_records", keys=len(keys)) as g:
                                got = srv.get_records(keys)
                            g.attrs["hits"] = sum(v is not None for v in got.values())
                    lat.append(pb.duration)
            with tr.span("inference.retry_dlq"):
                pipe.retry_dlq()
            with tr.span("serving.refresh") as r:
                r.attrs["new"] = srv.refresh()
        return {
            "dir": d,
            "run_s": p.duration,
            "batches": lat,
            "freshness": fresh,
            "rows": sum(self.rows_valid[:n]),
            "rows_in": sum(len(b) for b in self.stream.batches[:n]),
            "rows_valid": sum(self.rows_valid[:n]),
            "rows_s": replay.duration,
            "store": _store_usage(fg.table.path),
            "commits": len(fg.table.versions()),
            "n": n,
            "fg": fg,
            "seed_version": seed_version,
            "pipe": pipe,
            "srv": srv,
        }

    def check(self, st: dict) -> tuple[int, list[str]]:
        n, s = st["n"], self.scorer
        batches = self.stream.batches[:n]
        seed = st["fg"].offline_history(as_of_version=st["seed_version"]).toPandas()
        final, preds = checks.fold_stream(seed, batches, s.feature_cols, s.weights, s.intercept)
        srv = st["srv"]
        fails = checks.compare_online_view(srv.get_records(list(final)), len(srv), final)
        logs = st["pipe"].predictions
        log = functools.reduce(lambda a, b: a.unionByName(b), logs).toPandas()
        fails += checks.compare_prediction_log(log, batches, preds)
        invalid = pd.concat([checks.invalid_events(b) for b in batches])
        dlq = st["pipe"].dlq.read().toPandas()
        st["dlq_attempts"] = {int(a): int(c) for a, c in dlq["attempt"].value_counts().items()}
        fails += checks.compare_dlq(dlq, invalid)
        return 3, fails


WORKLOADS = {w.name: w for w in (PipelineBatch, StreamMicrobatch)}
