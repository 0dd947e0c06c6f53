"""Operator edge cases not covered by the oracle queries."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from feature_store_test_spark.operators.asof import asof_join


def ts(h):
    return dt.datetime(2024, 1, 1, h)


def latest_per_key(df, keys, order_by):
    """Window-form reference for ``latest_per_key_agg``: the first row per
    key under ``order_by`` (a total order, DESC-style spec)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def test_asof_strict_vs_nonstrict_on_equal_timestamps(spark):
    left = spark.createDataFrame(
        [(1, ts(5), "L1")], "k long, t timestamp, lbl string"
    )
    right = spark.createDataFrame(
        [(1, ts(5), 100.0), (1, ts(3), 50.0)], "k long, rt timestamp, v double"
    )
    nonstrict = asof_join(left, right, "k", "t", "rt", ["v"]).collect()[0]
    strict = asof_join(left, right, "k", "t", "rt", ["v"], strict=True).collect()[0]
    assert nonstrict.v == 100.0  # ties visible when non-strict
    assert strict.v == 50.0  # equal-time right row excluded when strict


def test_asof_no_match_yields_nulls(spark):
    left = spark.createDataFrame([(1, ts(1), "L")], "k long, t timestamp, lbl string")
    right = spark.createDataFrame([(1, ts(9), 1.0)], "k long, rt timestamp, v double")
    out = asof_join(left, right, "k", "t", "rt", ["v"]).collect()[0]
    assert out.v is None


def test_asof_key_isolation(spark):
    left = spark.createDataFrame([(1, ts(5), "L")], "k long, t timestamp, lbl string")
    right = spark.createDataFrame([(2, ts(1), 7.0)], "k long, rt timestamp, v double")
    assert asof_join(left, right, "k", "t", "rt", ["v"]).collect()[0].v is None


def test_asof_forward_picks_earliest_later_row(spark):
    left = spark.createDataFrame([(1, ts(5), "L1")], "k long, t timestamp, lbl string")
    right = spark.createDataFrame(
        [(1, ts(3), 1.0), (1, ts(7), 2.0), (1, ts(9), 3.0)],
        "k long, rt timestamp, v double",
    )
    fwd = asof_join(left, right, "k", "t", "rt", ["v"], direction="forward").collect()[0]
    assert fwd.v == 2.0  # earliest at-or-after, not the latest

    # strict forward on an equal timestamp skips the tie
    right_tie = spark.createDataFrame(
        [(1, ts(5), 10.0), (1, ts(8), 20.0)], "k long, rt timestamp, v double"
    )
    tie = asof_join(left, right_tie, "k", "t", "rt", ["v"], direction="forward").collect()[0]
    tie_strict = asof_join(
        left, right_tie, "k", "t", "rt", ["v"], direction="forward", strict=True
    ).collect()[0]
    assert tie.v == 10.0
    assert tie_strict.v == 20.0


def test_asof_tolerance_nulls_stale_matches(spark):
    left = spark.createDataFrame([(1, ts(12), "L1")], "k long, t timestamp, lbl string")
    right = spark.createDataFrame([(1, ts(5), 1.0)], "k long, rt timestamp, v double")
    within = asof_join(
        left, right, "k", "t", "rt", ["v"], tolerance_seconds=8 * 3600
    ).collect()[0]
    stale = asof_join(
        left, right, "k", "t", "rt", ["v"], tolerance_seconds=6 * 3600
    ).collect()[0]
    assert within.v == 1.0  # 7h gap <= 8h tolerance
    assert stale.v is None  # 7h gap > 6h tolerance -> nulled, row kept


def test_asof_rejects_bad_direction(spark):
    left = spark.createDataFrame([(1, ts(1), "x")], "k long, t timestamp, lbl string")
    with pytest.raises(ValueError, match="direction"):
        asof_join(left, left.selectExpr("k", "t as rt", "lbl as v"), "k", "t", "rt", ["q"], direction="sideways")


def test_asof_rejects_column_collisions(spark):
    left = spark.createDataFrame([(1, ts(1), 2.0)], "k long, t timestamp, v double")
    right = spark.createDataFrame([(1, ts(1), 3.0)], "k long, rt timestamp, v double")
    import pytest

    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, "k", "t", "rt", ["v"])


def test_latest_per_key_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, ts(5), 10, "a"), (1, ts(5), 11, "b"), (2, ts(1), 1, "c")],
        "k long, t timestamp, id long, val string",
    )
    out = latest_per_key(df, "k", [F.col("t").desc(), F.col("id").desc()])
    got = {r.k: r.val for r in out.collect()}
    assert got == {1: "b", 2: "c"}  # id=11 wins the equal-ts tie


def test_latest_per_key_agg_matches_window_form(spark):
    from feature_store_test_spark.data import load_table
    from feature_store_test_spark.operators.latest import latest_per_key_agg

    ev = load_table(spark, "events", "/root/testdata/sf0.001")
    win = latest_per_key(ev, "user_id", [F.col("ts").desc(), F.col("event_id").desc()])
    agg = latest_per_key_agg(ev, "user_id", ["ts", "event_id"])
    assert sorted(map(tuple, win.collect())) == sorted(map(tuple, agg.collect()))


def test_quarantine_splits_cleanly(spark):
    from feature_store_test_spark.validate import check, quarantine

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None)], "id long, v double"
    )
    rules = {"v_nonneg": "v IS NOT NULL AND v >= 0"}
    rep = {r.rule: r.n_violations for r in check(df, rules).collect()}
    assert rep == {"v_nonneg": 2}
    clean, bad = quarantine(df, rules)
    assert sorted(r.id for r in clean.collect()) == [1]
    assert sorted(r.id for r in bad.collect()) == [2, 3]


def test_asof_join_composite_keys(spark):
    left = spark.createDataFrame(
        [(1, "eu", ts(5), "L1"), (1, "us", ts(5), "L2")],
        "k long, region string, t timestamp, lbl string",
    )
    right = spark.createDataFrame(
        [(1, "eu", ts(3), 10.0), (1, "us", ts(4), 20.0), (2, "eu", ts(1), 99.0)],
        "k long, region string, rt timestamp, v double",
    )
    out = {
        (r.k, r.region): r.v
        for r in asof_join(
            left, right, ["k", "region"], "t", "rt", ["v"]
        ).collect()
    }
    assert out == {(1, "eu"): 10.0, (1, "us"): 20.0}


def test_salted_join_matches_plain_join_with_hot_key(spark):
    """A single ultra-hot key (80% of the big side) joins identically via
    the salted path, including left-join misses."""
    from pyspark.sql import functions as F

    from feature_store_test_spark.operators.skew import salted_join

    big = spark.range(10_000).select(
        F.when(F.col("id") < 8_000, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(40).select(
        F.col("id").alias("sk"), (F.col("id") * 10).alias("dim")
    )
    for how in ["inner", "left"]:
        got = salted_join(big, small, "k", "sk", n_salt=4, how=how)
        want = big.join(small, F.col("k") == F.col("sk"), how)
        g = sorted((r.payload, r.dim) for r in got.collect())
        w = sorted((r.payload, r.dim) for r in want.collect())
        assert g == w, how


def test_hot_key_scoped_salting(spark):
    """hot_threshold scopes the salt fan-out to actually-skewed keys:
    the probe finds the planted hot key (and only it), the two-path join
    matches the plain join exactly, and a uniform input collapses to the
    plain join (empty hot set — no data-sized dim replication)."""
    from pyspark.sql import functions as F

    from feature_store_test_spark.operators.skew import (
        detect_hot_keys,
        salted_join,
    )

    big = spark.range(20_000).select(
        F.when(F.col("id") < 16_000, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(40).select(
        F.col("id").alias("sk"), (F.col("id") * 10).alias("dim")
    )
    hot = detect_hot_keys(big, "k", hot_threshold=1_000, sample_frac=0.05)
    assert hot == [7]

    for how in ["inner", "left"]:
        got = salted_join(
            big, small, "k", "sk", n_salt=4, how=how, hot_threshold=1_000
        )
        want = big.join(small, F.col("k") == F.col("sk"), how)
        assert sorted((r.payload, r.dim) for r in got.collect()) == sorted(
            (r.payload, r.dim) for r in want.collect()
        ), how

    # skew-free input: hot probe comes back empty -> plain join plan
    # (no Expand/explode node from salt replication)
    uniform = spark.range(20_000).select(
        (F.col("id") % 5_000).alias("k"), F.col("id").alias("payload")
    )
    assert detect_hot_keys(uniform, "k", hot_threshold=1_000, sample_frac=0.05) == []
    plan = salted_join(
        uniform, small, "k", "sk", n_salt=4, hot_threshold=1_000
    )._jdf.queryExecution().executedPlan().toString()
    assert "explode" not in plan.lower()


def test_grid_salted_join_many_to_many(spark):
    """Composite skew: the hot key is heavy on BOTH sides (8k big rows ×
    12 small rows). The two-sided grid join must reproduce the plain
    many-to-many join exactly — every pair matched exactly once across
    the salt grid — for inner and left, including left-miss keys."""
    from pyspark.sql import functions as F

    from feature_store_test_spark.operators.skew import grid_salted_join

    big = spark.range(10_000).select(
        F.when(F.col("id") < 8_000, F.lit(7)).otherwise(F.col("id") % 60).alias("k"),
        F.col("id").alias("payload"),
    )
    # key 7 has 12 small rows; keys 0..39 have one; 40..59 miss entirely
    small = spark.range(40).select(
        F.col("id").alias("sk"), (F.col("id") * 10).alias("dim")
    ).unionByName(
        spark.range(11).select(
            F.lit(7).cast("long").alias("sk"), (F.col("id") + 1000).alias("dim")
        )
    )
    for how in ["inner", "left"]:
        got = grid_salted_join(
            big, small, "k", "sk", n_salt_big=4, n_salt_small=3, how=how
        )
        want = big.join(small, F.col("k") == F.col("sk"), how)
        assert sorted((r.payload, r.dim) for r in got.collect()) == sorted(
            (r.payload, r.dim) for r in want.collect()
        ), how


def test_salted_join_routes_composite_keys_to_grid(spark):
    """small_hot_threshold splits the hot set: key 7 (heavy both sides)
    rides the grid path, key 9 (hot big side, single small row) rides
    one-sided salting, cold keys take the plain join — and the three-way
    union still equals the plain join exactly."""
    from pyspark.sql import functions as F

    from feature_store_test_spark.operators.skew import salted_join

    big = spark.range(24_000).select(
        F.when(F.col("id") < 10_000, F.lit(7))
        .when(F.col("id") < 20_000, F.lit(9))
        .otherwise(F.col("id") % 50)
        .alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(40).select(
        F.col("id").alias("sk"), (F.col("id") * 10).alias("dim")
    ).unionByName(
        spark.range(9).select(
            F.lit(7).cast("long").alias("sk"), (F.col("id") + 1000).alias("dim")
        )
    )
    for how in ["inner", "left"]:
        got = salted_join(
            big,
            small,
            "k",
            "sk",
            n_salt=4,
            how=how,
            hot_threshold=1_000,
            small_hot_threshold=4,
            n_salt_small=3,
        )
        want = big.join(small, F.col("k") == F.col("sk"), how)
        assert sorted((r.payload, r.dim) for r in got.collect()) == sorted(
            (r.payload, r.dim) for r in want.collect()
        ), how


def test_connected_components_chain_and_islands(spark):
    """A 4-node chain collapses to one component labeled by its min node;
    a separate pair stays its own component; convergence needs multiple
    propagation rounds (chain diameter 3)."""
    from feature_store_test_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_nonconvergence_is_loud(spark):
    """A path graph whose diameter exceeds max_iter must RAISE, never
    silently return stale (wrong) component labels (VERDICT r5 item 3)."""
    import pytest

    from feature_store_test_spark.operators.graph import connected_components

    # path 0-1-2-...-8: diameter 8, needs ~8 propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)
    # and with enough rounds the same graph converges to component 0
    got = {
        r.node: r.component
        for r in connected_components(edges, max_iter=20).collect()
    }
    assert got == {i: 0 for i in range(9)}


def test_q84_families_are_transitive(spark, sf_dir):
    """Every doc gets a component; at least one family has >1 member; and
    the component id is always the family's min doc_id."""
    from feature_store_test_spark.registry import all_queries

    rows = all_queries()["q84_dedup_components"].fn(spark, sf_dir).collect()
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r.doc_id)
    assert any(len(v) > 1 for v in by_comp.values())
    for comp, members in by_comp.items():
        assert comp == min(members)


def test_approx_quantiles_within_sketch_error_bound(spark, sf_dir):
    """q90's GK sketch (accuracy=10000 -> rank error <= n/10000) must land
    within a conservative value-relative bound of the exact percentile."""
    from pyspark.sql import functions as F

    from feature_store_test_spark.data import load_table
    from feature_store_test_spark.queries.extended import q90_approx_quantiles

    approx = {r.l_returnflag: r for r in q90_approx_quantiles(spark, sf_dir).collect()}
    exact = {
        r.l_returnflag: r
        for r in load_table(spark, "lineitem", sf_dir)
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
            F.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, a in approx.items():
        e = exact[flag]
        for q in ("p50", "p90", "p99"):
            assert getattr(a, q) == pytest.approx(getattr(e, q), rel=0.05), (flag, q)


def test_freq_items_superset_of_exact_heavy_hitters(spark, sf_dir):
    """df.stat.freqItems(support=s) guarantees a SUPERSET of items with
    true frequency >= s (Karp et al. streaming algorithm — the 100 TB path
    for q96; the exact query is the verifier)."""
    from feature_store_test_spark.data import load_table
    from feature_store_test_spark.queries.analytics import q96_heavy_hitters

    exact = {r.user_id for r in q96_heavy_hitters(spark, sf_dir).collect()}
    ev = load_table(spark, "events", sf_dir)
    approx = set(ev.stat.freqItems(["user_id"], support=0.005).collect()[0][0])
    assert exact <= approx


def test_minhash_xxhash64_family_agrees(spark, sf_dir):
    """The xxhash64 signature family (the streaming near-dup index's
    non-portable scale swap) must be a genuine k-hash family: the k
    signature columns are independent hashes — a seed-binding slip
    collapses them all to one value per doc (and LSH silently degrades
    to a 1-hash family)."""
    from feature_store_test_spark.data import load_table
    from feature_store_test_spark.operators.dedup import (
        minhash_signatures_arrays,
        shingle_array,
    )

    docs = load_table(spark, "documents", sf_dir)
    arr = shingle_array(docs.limit(20), "doc_id", "text")
    sig_row = minhash_signatures_arrays(arr, "doc_id", k=8).collect()[0]
    assert len({sig_row[f"mh{s}"] for s in range(8)}) > 1


def test_adaptive_collapse_is_cost_based(spark, sf_dir):
    """The dup-set probe caches the duplicate FRACTION and gates the
    collapse on a crossover threshold: the fixture corpus (trace-level
    duplication) stays on the direct path, a dup-heavy corpus crosses
    it; thresholds share one cached probe per input identity."""
    from feature_store_test_spark.data import load_table
    from feature_store_test_spark.operators import dedup as D

    docs = load_table(spark, "documents", sf_dir)
    arr = D.shingle_array(docs, "doc_id", "text")
    D._dup_probe_cache.clear()
    # fixture: a handful of dup docs in thousands -> below 5%, above 0%
    assert not D.has_duplicate_sets(arr, "doc_id", "shingles", min_frac=0.05)
    assert len(D._dup_probe_cache) == 1
    frac = next(iter(D._dup_probe_cache.values()))
    assert 0.0 <= frac < 0.05
    # a second threshold reuses the SAME probe (no new entry)
    D.has_duplicate_sets(arr, "doc_id", "shingles", min_frac=0.0)
    assert len(D._dup_probe_cache) == 1

    # dup-heavy corpus (every doc duplicated once): fraction = 0.5
    from pyspark.sql import functions as F

    doubled = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + 10_000_000)
    )
    arr2 = D.shingle_array(doubled, "doc_id", "text")
    assert D.has_duplicate_sets(arr2, "doc_id", "shingles", min_frac=0.05)


def test_q41_adaptive_salting_paths_agree(spark):
    """q41's probe-gated salting (round 6): the salted two-stage and the
    plain single-stage aggregation are bit-identical on the same frame —
    long tick sums are associative, count is a sum of partial counts,
    max is max — so the adaptive gate can only move cost, never values."""
    from feature_store_test_spark.functions import (
        dec_ticks_sql,
        tick_sums_sql,
        tick_total_sql,
    )
    from feature_store_test_spark.operators.skew import salted_agg

    rows = [(i % 7, float(i % 50) + 0.25, 10.0 + (i % 9)) for i in range(5000)]
    df = spark.createDataFrame(
        rows, "l_suppkey long, l_quantity double, l_extendedprice double"
    )
    pre = df.select(
        "l_suppkey",
        "l_quantity",
        F.expr(dec_ticks_sql("l_extendedprice", 2)).alias("__pt"),
    )
    hi, lo = (F.expr(x) for x in tick_sums_sql("__pt"))
    aggs = {
        "n_items": ("sum", F.count(F.lit(1))),
        "__tp_hi": ("sum", hi),
        "__tp_lo": ("sum", lo),
        "max_qty_dec": ("max", F.max(F.col("l_quantity").cast("decimal(18,2)"))),
    }
    final = lambda out: out.select(  # noqa: E731
        "l_suppkey",
        "n_items",
        F.expr(tick_total_sql("__tp_hi", "__tp_lo", 2)).alias("total_price"),
        F.col("max_qty_dec").cast("double").alias("max_qty"),
    )
    salted = {tuple(r) for r in final(salted_agg(pre, ["l_suppkey"], aggs)).collect()}
    plain = {
        tuple(r)
        for r in final(
            pre.groupBy("l_suppkey").agg(
                F.count(F.lit(1)).alias("n_items"),
                hi.alias("__tp_hi"),
                lo.alias("__tp_lo"),
                F.max(F.col("l_quantity").cast("decimal(18,2)")).alias("max_qty_dec"),
            )
        ).collect()
    }
    assert salted == plain and len(salted) == 7
