"""Cross-engine numeric semantics of functions.dec_sum and the as-of
tolerance boundary (round-2 ADVICE items).

dec_sum's per-row tick must equal DuckDB's double→decimal cast on EVERY
double, not just money-exact ones: DuckDB casts via the double's shortest
decimal representation with half-away-from-zero ties, which is Spark's
round(double, s). A fixture generator emitting 3+ decimals would expose
any scaled-double shortcut (1.115 -> 1.12 vs 1.11).
"""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from feature_store_test_spark.functions import (
    dec_sum,
    dec_ticks_sql,
    tick_sums_sql,
    tick_total_sql,
)

ADVERSARIAL = [
    1.115, -1.115, 2.675, -2.675, 0.005, -0.005, 0.125, -0.125,
    784.3591, 10.07, 0.29, -0.999, 0.0, -2.5, 279.9995, -319.499,
]


def _pre_projected_sum(df):
    """The shape engineer_features, q01 and q41 use: ticks projected once,
    the hi/lo partial sums over that column, then the recombination."""
    hi, lo = tick_sums_sql("t")
    return (
        df.selectExpr("i", f"{dec_ticks_sql('x', 2)} AS t")
        .groupBy("i")
        .agg(F.expr(hi).alias("hi"), F.expr(lo).alias("lo"))
        .selectExpr("i", f"{tick_total_sql('hi', 'lo', 2)} AS s")
    )


def test_dec_sum_ticks_match_duckdb_cast_exactly(spark):
    rng = random.Random(20240814)
    vals = ADVERSARIAL + [round(rng.uniform(-1000, 1000), 4) for _ in range(300)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, x double")
    shapes = {
        "inline": df.groupBy("i").agg(dec_sum("x", scale=2, out="s")),
        "pre_projected": _pre_projected_sum(df),
    }
    con = duckdb.connect()
    for shape, out in shapes.items():
        got = {r["i"]: r["s"] for r in out.collect()}
        for i, v in enumerate(vals):
            want = con.execute(
                f"SELECT CAST(CAST(CAST({v!r} AS DOUBLE) AS DECIMAL(18,2)) AS DOUBLE)"
            ).fetchone()[0]
            assert got[i] == want, (shape, v, got[i], want)


def test_dec_sum_is_partition_order_free(spark):
    vals = [0.01, -0.02, 1000.55, -999.99] * 500
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    a = df.agg(dec_sum("x", 2, "s")).collect()[0]["s"]
    b = df.repartition(13).agg(dec_sum("x", 2, "s")).collect()[0]["s"]
    assert a == b == pytest.approx(sum([0.01, -0.02, 1000.55, -999.99]) * 500, abs=1e-9)


def test_asof_tolerance_boundary_is_exact_microseconds(spark):
    """A match whose gap equals the tolerance to the microsecond is kept;
    one microsecond past is dropped — long arithmetic, no double ulp."""
    import datetime as dt

    from feature_store_test_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, t0), (2, t0)], "k long, t timestamp"
    )
    # right events exactly tolerance (10s) and tolerance+1µs before t0
    right = spark.createDataFrame(
        [
            (1, t0 - dt.timedelta(seconds=10), 100.0),
            (2, t0 - dt.timedelta(seconds=10, microseconds=1), 200.0),
        ],
        "k long, rt timestamp, v double",
    )
    out = {
        r["k"]: r["v"]
        for r in asof_join(
            left, right,
            on="k", left_time="t", right_time="rt",
            right_values=["v"], tolerance_seconds=10,
        ).collect()
    }
    assert out[1] == 100.0  # gap == tolerance -> kept
    assert out[2] is None  # gap == tolerance + 1µs -> dropped


def test_json_number_field_matches_get_json_object_on_flat_contract(spark):
    """The codegen flat-JSON parse must agree with get_json_object on
    every FLAT numeric-valued object shape (the events-props contract):
    present key, missing key, non-numeric value, multiple fields, key
    order, negative/float values, empty string/object. The documented
    out-of-contract divergence (a STRING value containing '"k": ')
    is pinned too, so the boundary stays explicit."""
    from pyspark.sql import functions as F

    from feature_store_test_spark.functions import json_number_field

    flat = [
        '{"k": 76}', '{"k": -3.5}', '{"j": 1, "k": 2}', '{"k": 2, "j": 1}',
        '{"j": 9}', '{"k": "notnum"}', "", "{}", '{"k": 0}',
        # whitespace-variant serializations of the SAME flat object (r5
        # ADVICE): minified, multi-space, and space-before-colon all
        # parse — a present key is never misread as absent
        '{"k":76}', '{"k":   76}', '{"k" : 76}', '{"j":1,"k":2}',
        '{"k" :76, "j": 1}',
    ]
    df = spark.createDataFrame([(s,) for s in flat], "props string")
    got = df.select(
        json_number_field("props", "k").alias("fast"),
        F.get_json_object("props", "$.k").try_cast("double").alias("ref"),
    ).collect()
    for row, s in zip(got, flat):
        assert row["fast"] == row["ref"], (s, row["fast"], row["ref"])

    # in-contract surprise, pinned: a string value CANNOT fool the
    # parse in valid JSON — an embedded quote is escaped (\"), and the
    # backslash breaks the '"k": ' needle
    escaped = '{"a": "x \\"k\\": 7 y", "k": 9}'
    row = spark.createDataFrame([(escaped,)], "props string").select(
        json_number_field("props", "k").alias("fast"),
        F.get_json_object("props", "$.k").try_cast("double").alias("ref"),
    ).collect()[0]
    assert row["fast"] == row["ref"] == 9.0

    # out-of-contract: a NESTED object whose inner key matches — the
    # locate-based parse reads the inner field (documented; callers on
    # nested data must use get_json_object) — assert the divergence so
    # the boundary can't go silent
    nested = '{"a": {"k": 7}, "k": 9}'
    row = spark.createDataFrame([(nested,)], "props string").select(
        json_number_field("props", "k").alias("fast"),
        F.get_json_object("props", "$.k").try_cast("double").alias("ref"),
    ).collect()[0]
    assert row["ref"] == 9.0
    assert row["fast"] == 7.0
