"""Spark job counts of the store's hot calls, pinned exactly.

Job count is deterministic where wall time is not: a store change that adds
a probe, a second scan or a stray action shows up here as a changed count.
Each call runs under its own ``setJobGroup`` and its jobs are read back
through ``statusTracker().getJobIdsForGroup``.
"""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from feature_store_test_spark.store import ServingSession
from feature_store_test_spark.streaming import InferencePipeline
from tests.test_store import FG_SCHEMA, make_fg, row, ts
from tests.test_streaming import SCORER

_groups = itertools.count()

UPDATE_DDL = "customer_id long, purchase_timestamp timestamp, purchase_value double"
EVENT_DDL = (
    "event_id long, customer_id long, purchase_timestamp timestamp, "
    "purchase_value double"
)


def jobs_of(spark, fn):
    """(number of Spark jobs ``fn()`` ran, its return value)."""
    sc = spark.sparkContext
    group = f"store-jobs-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_store_hot_call_job_counts(spark, tmp_path):
    fg = make_fg(spark, tmp_path)
    seed = spark.createDataFrame(
        [row(i, 1, 10.0 + i, 10.0, 5.0, 5.0) for i in range(20)], FG_SCHEMA
    )
    counts = {}
    counts["ingest"], _ = jobs_of(spark, lambda: fg.ingest(seed))

    updates = spark.createDataFrame(
        [(1, ts(2), 30.0), (25, ts(2), 7.0)], UPDATE_DDL
    )
    upsert = lambda: fg.upsert(updates, {"purchase_value": "purchase_value"})  # noqa: E731
    counts["upsert"], v = jobs_of(spark, upsert)
    assert v == 2

    source = spark.createDataFrame([(2, ts(3), 1.0), (26, ts(3), 2.0)], UPDATE_DDL)
    merge = lambda: fg.merge(  # noqa: E731
        source,
        when_matched={"latest_purchase_value": F.col("s.purchase_value")},
        when_not_matched={"latest_purchase_value": F.col("s.purchase_value")},
    )
    counts["merge"], v = jobs_of(spark, merge)
    assert v == 3

    serving = ServingSession(fg)
    fg.ingest(spark.createDataFrame([row(3, 4, 1.0, 1.0, 1.0, 1.0)], FG_SCHEMA))
    counts["refresh_moved"], took = jobs_of(spark, serving.refresh)
    assert took is True
    counts["refresh_unmoved"], took = jobs_of(spark, serving.refresh)
    assert took is False

    pipe = InferencePipeline(
        spark=spark, feature_group=fg, scorer=SCORER, dlq_path=str(tmp_path / "dlq")
    )
    batch = spark.createDataFrame(
        [(1, 1, ts(5), 3.0), (2, 1, ts(6), 4.0), (3, 40, ts(5), 5.0),
         (4, None, ts(5), 6.0)],
        EVENT_DDL,
    )
    counts["process_batch"], _ = jobs_of(spark, lambda: pipe.process_batch(batch))

    assert counts == {
        "ingest": 3,
        "upsert": 8,
        "merge": 12,
        "refresh_moved": 2,
        "refresh_unmoved": 0,
        "process_batch": 12,
    }
