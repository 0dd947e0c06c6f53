"""Extended relational + UDF surface: pandas UDFs, event-time windows,
cube/grouping sets, correlated predicates, approximate aggregates, LSH ANN.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from feature_store_test_spark.functions import (
    dec_sum,
    dec_ticks_sql,
    tick_sums_sql,
    tick_total_sql,
)
from pyspark.sql import types as T

from feature_store_test_spark.data import load_table, load_table_spread
from feature_store_test_spark.registry import register


# ---------------------------------------------------------------------------
# Q33 — scalar pandas UDF (§2.11): Arrow-vectorized scoring in Python.
# The declared semantic is the formula; the oracle reproduces it in SQL.
# Python stays OFF the hot path elsewhere — this query IS the UDF surface.
# ---------------------------------------------------------------------------
@F.pandas_udf(T.DoubleType())
def _pandas_quality(text: pd.Series) -> pd.Series:
    import numpy as np

    n_chars = text.str.len().to_numpy(dtype="float64")
    n_words = text.str.split(" ").map(len).to_numpy(dtype="float64")
    n_uniq = text.str.split(" ").map(lambda w: len(set(w))).to_numpy(dtype="float64")
    score = 0.3 * np.minimum(n_chars / 400.0, 1.0) + 0.7 * (n_uniq / n_words)
    # half-away-from-zero at 6 dp (np.round is banker's rounding, which
    # disagrees with SQL ROUND on exact x.xxxxxx5 ties)
    return pd.Series(np.floor(score * 1e6 + 0.5) / 1e6)


@register(
    "q33_pandas_udf_score",
    oracle="""
    SELECT doc_id,
           ROUND(0.3 * LEAST(CAST(length(text) AS DOUBLE) / 400.0, 1.0)
               + 0.7 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                        / len(string_split(text, ' '))), 6) AS pandas_score
    FROM documents
    """,
    doc="Arrow-batched scalar pandas UDF (vectorized numpy scoring)",
    tags=("udf", "text"),
)
def q33_pandas_udf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_spread(spark, "documents", sf_dir)
    return docs.select("doc_id", _pandas_quality("text").alias("pandas_score"))


# ---------------------------------------------------------------------------
# Q34 — event-time tumbling windows (§2.9): the batch shape of the
# Structured Streaming windowed agg (same F.window operator; in streaming it
# composes with withWatermark).
# ---------------------------------------------------------------------------
@register(
    "q34_tumbling_windows",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="15-minute tumbling event-time windows (streaming agg shape)",
    tags=("window", "streaming", "agg"),
)
def q34_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", 2, "total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Q35 — CUBE grouping sets with GROUPING flags (§2.4 extension).
# ---------------------------------------------------------------------------
@register(
    "q35_cube",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over status × priority with grouping flags",
    tags=("agg", "rollup"),
)
def q35_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice", 2, "total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "g_status",
            "g_priority",
            "n_orders",
            "total_price",
        )
    )


# ---------------------------------------------------------------------------
# Q36 — correlated predicate via window (customers above their nation's
# average balance). At 100 TB the window form beats the correlated-subquery
# form: one shuffle on nation vs a per-row rescan.
# ---------------------------------------------------------------------------
@register(
    "q36_above_nation_avg",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           ROUND(nation_avg, 6) AS nation_avg
    FROM (
      SELECT c_custkey, c_nationkey, c_acctbal,
             AVG(c_acctbal) OVER (PARTITION BY c_nationkey) AS nation_avg
      FROM customer
    )
    WHERE c_acctbal > nation_avg
    """,
    doc="customers above their nation's average balance (decorrelated window)",
    tags=("window", "filter"),
)
def q36_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    w = Window.partitionBy("c_nationkey")
    return (
        c.withColumn("nation_avg", F.avg("c_acctbal").over(w))
        .where(F.col("c_acctbal") > F.col("nation_avg"))
        .select(
            "c_custkey",
            "c_nationkey",
            "c_acctbal",
            F.round("nation_avg", 6).alias("nation_avg"),
        )
    )


# ---------------------------------------------------------------------------
# Q37 — approximate distinct (HLL, one pass — the 100 TB default where exact
# COUNT(DISTINCT) would double-shuffle). No oracle: HLL sketches are
# implementation-specific; the pytest suite asserts <5% error vs exact.
# ---------------------------------------------------------------------------
@register(
    "q37_approx_distinct",
    oracle=None,
    doc="approx_count_distinct (HLL) per market segment — rows-only check",
    tags=("agg", "approx"),
)
def q37_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    return joined.groupBy("c_mktsegment").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Q37b — q37's EXACT hash-checked twin: same join/grouping, exact
# COUNT(DISTINCT). Pins the values the HLL sketch's <5% error bound is
# tested against (tests/test_similarity.py::test_approx_distinct_error_
# bound computes the same exact counts ad hoc — this registers them as a
# first-class oracle-checked query, the q90/q90b pattern). The double
# shuffle exact distinct pays is the documented cost q37 exists to avoid
# at 100 TB.
# ---------------------------------------------------------------------------
@register(
    "q37b_exact_distinct",
    oracle="""
    SELECT c_mktsegment,
           COUNT(DISTINCT o_custkey) AS exact_customers,
           COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="exact distinct customers per market segment (q37's hash-checked twin)",
    tags=("agg", "distinct"),
)
def q37b_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    return joined.groupBy("c_mktsegment").agg(
        F.countDistinct("o_custkey").alias("exact_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Q38 — LSH-bucketed approximate nearest neighbors (the scale path; Q28 is
# the exact baseline). Hash-checked since round 4: bucket membership IS
# cross-engine-exact when the arithmetic order is pinned — the hyperplane
# coefficients are half-integers (md5 nibble − 7.5), so every product
# against a float32 element is exact in double, and the oracle unrolls each
# plane's dot product as a left-associated sum matching Spark's
# aggregate-fold order term for term (bit-identical sums ⇒ identical sign
# bits ⇒ identical buckets). Scoring then reuses q28's proven
# list_dot_product/ROUND(…,6) pattern on the bucket-restricted pairs.
# ---------------------------------------------------------------------------
def _q38_oracle() -> str:
    from feature_store_test_spark.operators.similarity import _hyperplane_coefs

    def plane_sum(plane: list[float]) -> str:
        # left-assoc, 0.0 seed — mirrors F.aggregate(zip_with(...)) exactly
        return "0.0 + " + " + ".join(
            f"CAST(embedding[{j + 1}] AS DOUBLE) * ({c})"
            for j, c in enumerate(plane)
        )

    bucket = " || ".join(
        f"CASE WHEN ({plane_sum(p)}) >= 0 THEN '1' ELSE '0' END"
        for p in _hyperplane_coefs(4, 64)
    )
    return f"""
    WITH b AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             ({bucket}) AS bucket
      FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND(list_dot_product(q.v, c.v) /
                   (sqrt(list_dot_product(q.v, q.v)) *
                    sqrt(list_dot_product(c.v, c.v))), 6) AS cos_sim
      FROM b q JOIN b c
        ON q.bucket = c.bucket AND q.vec_id < 20 AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@register(
    "q38_lsh_ann_topk",
    oracle=_q38_oracle(),
    doc="ANN top-5 via random-hyperplane LSH buckets (bucket-restricted exact, hash-checked)",
    tags=("similarity", "lsh", "approx"),
)
def q38_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_store_test_spark.operators.similarity import lsh_ann_topk

    emb = load_table_spread(spark, "embeddings", sf_dir)
    return lsh_ann_topk(
        corpus=emb,
        queries=emb.where(F.col("vec_id") < 20),
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        n_planes=4,
    )


# ---------------------------------------------------------------------------
# Q40 — gap-based sessionization (session windows, the streaming session-
# window shape in its batch form): a new session starts after a >30-minute
# silence; session id = running count of session starts per user. One
# shuffle on user_id; both window passes share the same partitioning.
# ---------------------------------------------------------------------------
@register(
    "q40_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000 OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
    FROM sess GROUP BY user_id, session_id
    """,
    doc="30-minute-gap sessionization (session windows, batch form)",
    tags=("window", "streaming", "agg"),
)
def q40_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gap compare in integer epoch-microseconds (exact; second-truncation
    # would merge sessions the oracle's interval compare splits), and BOTH
    # window passes order by (ts, event_id) — a total order per partition,
    # so session assignment is engine- and shuffle-independent even when
    # two events share a timestamp.
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    flagged = ev.select(
        "user_id", "ts", "value", "event_id",
        F.when(us - F.lag(us).over(w) > 1_800_000_000, 1)
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        dec_sum("value", 2, "session_value"),
    )


# ---------------------------------------------------------------------------
# Q41 — skew-aware salted aggregation: same result as a plain groupBy (the
# oracle runs the plain form) computed via two-stage salted partials —
# the pattern that survives a single key holding 10^9 rows. Decimal
# partials keep the two-stage sum bit-identical to the one-stage sum.
# ---------------------------------------------------------------------------
@register(
    "q41_salted_agg",
    oracle="""
    SELECT l_suppkey,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS max_qty
    FROM lineitem
    GROUP BY l_suppkey
    """,
    doc="skew-ADAPTIVE salted aggregation (probe-gated) matching the plain groupBy",
    tags=("agg", "skew"),
)
def q41_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_store_test_spark.operators.skew import detect_hot_keys, salted_agg

    li = load_table(spark, "lineitem", sf_dir)
    # money rides through both salting stages as hi/lo long tick sums,
    # over ticks pre-projected once (tick_sums_sql)
    pre = li.select(
        "l_suppkey",
        "l_quantity",
        F.expr(dec_ticks_sql("l_extendedprice", 2)).alias("__pt"),
    )
    hi, lo = (F.expr(x) for x in tick_sums_sql("__pt"))
    # ADAPTIVE salting (round 6 — the same cost-based-gate discipline as
    # the dedup exact-collapse): the salted two-stage runs only when the
    # false-positive-free hot-key probe (memoized, operators/skew.py)
    # actually finds a key above threshold. Two layers of honesty here:
    # (1) on a uniform key domain the extra salt shuffle is pure cost;
    # (2) for ALGEBRAIC aggregates (sum/count/max) Spark's map-side
    # partial aggregation already bounds any one reducer's work by the
    # number of MAP TASKS, not the hot key's row count — the salted
    # shape is the tool for non-combinable aggregation states
    # (collect_list/exact-distinct buffers) and stays exercised by the
    # skew tests and by any load where the probe fires. Both paths are
    # bit-identical: long tick sums are associative, count is a sum of
    # partial counts, max is max.
    hot = detect_hot_keys(pre, "l_suppkey", hot_threshold=1_000_000)
    if hot:
        out = salted_agg(
            pre,
            keys=["l_suppkey"],
            aggs={
                "n_items": ("sum", F.count(F.lit(1))),
                "__tp_hi": ("sum", hi),
                "__tp_lo": ("sum", lo),
                "max_qty_dec": (
                    "max",
                    F.max(F.col("l_quantity").cast("decimal(18,2)")),
                ),
            },
            n_salt=16,
        )
    else:
        out = pre.groupBy("l_suppkey").agg(
            F.count(F.lit(1)).alias("n_items"),
            hi.alias("__tp_hi"),
            lo.alias("__tp_lo"),
            F.max(F.col("l_quantity").cast("decimal(18,2)")).alias("max_qty_dec"),
        )
    return out.select(
        "l_suppkey",
        "n_items",
        F.expr(tick_total_sql("__tp_hi", "__tp_lo", 2)).alias("total_price"),
        F.col("max_qty_dec").cast("double").alias("max_qty"),
    )


# ---------------------------------------------------------------------------
# Q42 — the pure-SQL frontend (§3.2: the reference's only real query engine
# was Athena SQL; ours is spark.sql over registered views): TPC-H Q3 shape,
# parsed/optimized/executed entirely by Catalyst.
# ---------------------------------------------------------------------------
@register(
    "q42_sql_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q3 shape via the pure spark.sql frontend over registered views",
    tags=("sql", "join", "agg", "limit"),
)
def q42_sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_store_test_spark.data import register_temp_views

    register_temp_views(spark, sf_dir)
    # SHUFFLE_HASH(orders): both fact sides still shuffle on l_orderkey/
    # o_orderkey (facts are never broadcast), but the probe streams the
    # filtered lineitem against a per-partition hash of orders' PK rows
    # instead of sorting both sides — the q105 SHJ-vs-SMJ rationale.
    # FROM order puts lineitem ⋈ orders FIRST (round 9): a join hint is
    # consumed by the NEAREST join containing the hinted relation, so the
    # previous "customer, orders, lineitem" order let the broadcast
    # customer⋈orders join swallow the SHUFFLE_HASH hint and the
    # fact-fact join silently fell back to SMJ (PLANS.md had been
    # showing exactly that — the r8 verdict's divergence was the plan
    # document being RIGHT about the code). A/B of the two shapes at
    # sf0.1 is a wash (SMJ min 0.430 / SHJ 0.447, medians reversed);
    # SHJ is kept as the declared fact-fact strategy of this profile.
    return spark.sql(
        """
        SELECT /*+ BROADCAST(customer), SHUFFLE_HASH(orders) */ l_orderkey,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                 AS revenue,
               o_orderdate, o_orderpriority
        FROM lineitem, orders, customer
        WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 20
        """
    )


# ---------------------------------------------------------------------------
# Q43 — per-label embedding centroids: array aggregation via posexplode →
# per-(label, dim) mean → re-assembled array. The one-shuffle shape for
# centroid/statistics computation over vector columns (k-means step, class
# prototypes). Rounded per-dimension (order-insensitive at 6 dp).
# ---------------------------------------------------------------------------
@register(
    "q43_label_centroids",
    oracle="""
    WITH dims AS (
      SELECT label, d AS dim,
             CAST(embedding[d] AS DOUBLE) AS val
      FROM embeddings, unnest(generate_series(1, 64)) AS g(d)
    )
    SELECT label, dim - 1 AS dim,
           ROUND(AVG(val), 6) AS centroid_val,
           COUNT(*) AS n_vecs
    FROM dims GROUP BY label, dim
    """,
    doc="per-label embedding centroids (posexplode -> per-dim mean)",
    tags=("similarity", "agg", "array"),
)
def q43_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table_spread(spark, "embeddings", sf_dir)
    dims = emb.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    ).select("label", "dim", F.col("val").cast("double").alias("val"))
    return dims.groupBy("label", "dim").agg(
        F.round(F.avg("val"), 6).alias("centroid_val"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


# ---------------------------------------------------------------------------
# Q46 — pivot (long → wide): per-user event-type value sums as a feature
# matrix — the reshaping step that turns event logs into model inputs.
# The pivot column set is DECLARED (not discovered) so the plan is a single
# pass with conditional aggregates — at 100 TB an undeclared pivot would
# need a distinct-scan first.
# ---------------------------------------------------------------------------
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

@register(
    "q46_pivot_features",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type='click'    THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS click_value,
           CAST(SUM(CASE WHEN event_type='error'    THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS error_value,
           CAST(SUM(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS purchase_value,
           CAST(SUM(CASE WHEN event_type='signup'   THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS signup_value,
           CAST(SUM(CASE WHEN event_type='view'     THEN CAST(value AS DECIMAL(18,2)) ELSE 0 END) AS DOUBLE) AS view_value
    FROM events
    GROUP BY user_id
    """,
    doc="declared-column pivot: per-user event-type value matrix",
    tags=("agg", "pivot"),
)
def q46_pivot_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.coalesce(F.sum(F.col("value").cast("decimal(18,2)")), F.lit(0).cast("decimal(18,2)")))
    )
    return out.select(
        "user_id",
        *[F.col(t).cast("double").alias(f"{t}_value") for t in _EVENT_TYPES],
    )


# ---------------------------------------------------------------------------
# Q47 — unpivot / melt (wide → long): lineitem money columns to a tidy
# (key, measure, amount) table — the inverse reshape, zero shuffle
# (unpivot is a per-row generator).
# ---------------------------------------------------------------------------
@register(
    "q47_unpivot_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'extendedprice' AS measure, l_extendedprice AS amount
    FROM lineitem WHERE l_orderkey <= 1000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem WHERE l_orderkey <= 1000
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem WHERE l_orderkey <= 1000
    """,
    doc="unpivot/melt of lineitem money columns to tidy long format",
    tags=("project", "unpivot"),
)
def q47_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).where(F.col("l_orderkey") <= 1000)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="amount",
    ).withColumn(
        "measure",
        F.when(F.col("measure") == "l_extendedprice", "extendedprice")
        .when(F.col("measure") == "l_discount", "discount")
        .otherwise("tax"),
    )


# ---------------------------------------------------------------------------
# Q48 — NATIVE session windows (F.session_window, the streaming-capable
# operator behind q40's hand-rolled form): dynamic-gap session grouping in
# one aggregation. Same declared semantics as q40 — the oracle is the same
# lag/cumsum SQL — because a 30-minute-gap session partition is unique.
# In streaming this composes with withWatermark for state eviction.
# ---------------------------------------------------------------------------
@register(
    "q48_native_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes' OR
                  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
    FROM sess GROUP BY user_id, session_id
    """,
    doc="native F.session_window 30-min-gap sessions (streaming-capable operator)",
    tags=("window", "streaming", "agg"),
)
def q48_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", 2, "session_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "session_value")
    )


# ---------------------------------------------------------------------------
# Q49 — exact quantiles + dispersion statistics: percentile (exact, linear
# interpolation — matches quantile_cont) plus stddev/corr. At 100 TB the
# engine's default for quantiles is percentile_approx (t-digest sketch,
# one pass, mergeable); the exact form here is the oracle-checkable
# declared semantic.
# ---------------------------------------------------------------------------
@register(
    "q49_quantiles_stats",
    oracle="""
    SELECT c_mktsegment,
           ROUND(quantile_cont(c_acctbal, 0.25), 6) AS p25_bal,
           ROUND(quantile_cont(c_acctbal, 0.50), 6) AS median_bal,
           ROUND(quantile_cont(c_acctbal, 0.90), 6) AS p90_bal,
           ROUND(stddev_samp(c_acctbal), 6) AS sd_bal,
           ROUND(corr(c_acctbal, c_custkey % 97), 6) AS corr_bal_key
    FROM customer
    GROUP BY c_mktsegment
    """,
    doc="exact percentiles (linear interpolation), stddev and correlation per segment",
    tags=("agg", "stats", "quantile"),
)
def q49_quantiles_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    return c.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(c_acctbal, 0.25)"), 6).alias("p25_bal"),
        F.round(F.expr("percentile(c_acctbal, 0.50)"), 6).alias("median_bal"),
        F.round(F.expr("percentile(c_acctbal, 0.90)"), 6).alias("p90_bal"),
        F.round(F.stddev_samp("c_acctbal"), 6).alias("sd_bal"),
        F.round(F.corr("c_acctbal", F.col("c_custkey") % 97), 6).alias("corr_bal_key"),
    )


# ---------------------------------------------------------------------------
# Q50 — edit-distance verification of head-fingerprint dedup groups: for
# doc pairs sharing a head-5-word fingerprint (q20's groups), the
# Levenshtein distance of their 40-char prefixes. Candidate pairs come from
# the fingerprint equi-join (bounded by group sizes), never a cross-join —
# the same candidate-discipline as MinHash verify.
# ---------------------------------------------------------------------------
@register(
    "q50_prefix_edit_distance",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS f,
             substr(text, 1, 40) AS head
      FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
    FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
    """,
    doc="Levenshtein distance over head-fingerprint dedup candidate pairs",
    tags=("dedup", "text", "join"),
)
def q50_prefix_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_store_test_spark.operators import text as Tx

    docs = load_table_spread(spark, "documents", sf_dir).select(
        "doc_id",
        Tx.prefix_fingerprint("text", 5).alias("f"),
        F.substring("text", 1, 40).alias("head"),
    )
    a = docs.select(
        F.col("doc_id").alias("id_a"), "f", F.col("head").alias("head_a")
    )
    b = docs.select(
        F.col("doc_id").alias("id_b"), "f", F.col("head").alias("head_b")
    )
    return (
        a.join(b, "f")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("head_a", "head_b").cast("bigint").alias("edit_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Q51 — declarative data-quality report: every rule is a conditional count
# in ONE scan (validate.check). The batch twin of the streaming pipeline's
# validate→DLQ stage.
# ---------------------------------------------------------------------------
@register(
    "q51_data_quality",
    oracle="""
    WITH base AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(CASE WHEN NOT COALESCE(value IS NOT NULL AND value >= 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS value_non_negative,
        CAST(SUM(CASE WHEN NOT COALESCE(event_type IN ('click','error','purchase','signup','view'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS known_event_type,
        CAST(SUM(CASE WHEN NOT COALESCE(ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-02-01 00:00:00', FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS ts_in_january,
        CAST(SUM(CASE WHEN NOT COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) BETWEEN 0 AND 100, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS props_k_in_range
      FROM events
    )
    SELECT 'value_non_negative' AS rule, value_non_negative AS n_violations,
           ROUND(value_non_negative / n, 6) AS violation_rate FROM base
    UNION ALL
    SELECT 'known_event_type', known_event_type, ROUND(known_event_type / n, 6) FROM base
    UNION ALL
    SELECT 'ts_in_january', ts_in_january, ROUND(ts_in_january / n, 6) FROM base
    UNION ALL
    SELECT 'props_k_in_range', props_k_in_range, ROUND(props_k_in_range / n, 6) FROM base
    """,
    doc="single-scan declarative data-quality rule report over events",
    tags=("validate", "agg"),
)
def q51_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_store_test_spark.validate import check

    ev = load_table(spark, "events", sf_dir)
    return check(
        ev,
        {
            "value_non_negative": "value IS NOT NULL AND value >= 0",
            "known_event_type": "event_type IN ('click','error','purchase','signup','view')",
            "ts_in_january": "ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-02-01 00:00:00'",
            "props_k_in_range": "CAST(get_json_object(props, '$.k') AS BIGINT) BETWEEN 0 AND 100",
        },
    )


# ---------------------------------------------------------------------------
# Q52 — analytic window functions beyond ranking: lag/lead (neighbor
# access), first_value (frame anchor), ntile (quartiles), percent_rank.
# All share ONE (customer, date-ordered) window — one shuffle, one sort.
# ---------------------------------------------------------------------------
@register(
    "q52_window_analytics",
    oracle="""
    SELECT o_custkey, o_orderkey,
           LAG(o_totalprice)  OVER w AS prev_price,
           LEAD(o_totalprice) OVER w AS next_price,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           CAST(NTILE(4) OVER w AS INT) AS spend_quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="lag/lead/first_value/ntile/percent_rank over one per-customer window",
    tags=("window",),
)
def q52_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.ntile(4).over(w).cast("int").alias("spend_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


# ---------------------------------------------------------------------------
# Q53 — array-function surface as a declared query (the primitives the
# dedup/similarity operators compose): sort, distinct, slice, contains,
# set intersection between documents' token arrays and a constant set.
# ---------------------------------------------------------------------------
@register(
    "q53_array_functions",
    oracle="""
    SELECT doc_id,
           list_sort(list_distinct(string_split(text,' ')))[1] AS first_token_alpha,
           array_to_string(string_split(text,' ')[1:3], '_') AS head3_joined,
           CAST(list_contains(string_split(text,' '), 'spark') AS BOOLEAN) AS has_spark,
           len(list_intersect(list_distinct(string_split(text,' ')),
                              ['join','sort','merge','filter'])) AS n_relational_terms,
           CAST(list_sort(list_distinct(string_split(text,' '))) =
                list_sort(list_distinct(string_split(reverse(text),' '))) AS BOOLEAN)
             AS palindrome_vocab
    FROM documents
    """,
    doc="array functions: sort/distinct/slice/contains/intersect over token arrays",
    tags=("array", "scalar", "text"),
)
def q53_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table_spread(spark, "documents", sf_dir)
    words = F.split("text", " ")
    vocab = F.array_sort(F.array_distinct(words))
    rvocab = F.array_sort(F.array_distinct(F.split(F.reverse(F.col("text")), " ")))
    rel = F.array(F.lit("join"), F.lit("sort"), F.lit("merge"), F.lit("filter"))
    return docs.select(
        "doc_id",
        F.element_at(vocab, 1).alias("first_token_alpha"),
        F.array_join(F.slice(words, 1, 3), "_").alias("head3_joined"),
        F.array_contains(words, "spark").alias("has_spark"),
        F.size(F.array_intersect(F.array_distinct(words), rel)).alias(
            "n_relational_terms"
        ),
        (vocab == rvocab).alias("palindrome_vocab"),
    )


# ---------------------------------------------------------------------------
# Q83 — skew-safe salted JOIN (operators/skew.py::salted_join): the big
# side is salted, the mid-size side replicated n_salt×, the equi join runs
# on (key, salt) — a hot key spreads over n_salt tasks. The result is
# salt-independent, so the oracle is simply the plain join. Use over
# broadcast only when the small side doesn't fit and AQE's skew split
# can't see the skew (single ultra-hot key).
# ---------------------------------------------------------------------------
@register(
    "q83_salted_join",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="salted skew-safe join matching the plain join (salt-independent result)",
    tags=("join", "skew", "agg"),
)
def q83_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-scoped salting (the production form): a sampling probe
    estimates per-key row counts and only keys above ``hot_threshold``
    take the salt-replicated path; the uniform remainder is a plain
    equi-join. TPC-H orderkeys are uniform (≤ 7 lineitems each), so the
    hot set is empty here and the plan collapses to the plain join —
    which is exactly the point: round-3's full-salt form replicated the
    WHOLE orders side ×8, a data-sized fan-out that measured 4.9× wall
    growth for 10× data. The salt path engages only under real skew
    (exercised with a synthetic hot key in tests/test_operators.py);
    the result is salt- and path-independent either way, which is what
    the oracle hash pins. Threshold 1000 is a realistic salting bar (a
    straggler needs orders of magnitude, not 10×) and keeps the
    detection probe at a ~2% sampled scan."""
    from feature_store_test_spark.operators.skew import salted_join

    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderpriority")
    joined = salted_join(
        li, o, "l_orderkey", "o_orderkey", n_salt=8, hot_threshold=1000
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
        )
        .repartition(1).sortWithinPartitions("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Q85 — Python UDTF (table-valued function, SURVEY §2.11): passage chunking
# — each document explodes into 10-word retrieval chunks. A UDTF is the
# right seam when one input row yields a VARIABLE number of structured
# rows from imperative logic; for this simple fixed-width case a native
# slice/explode would also work (and is the fast path) — the query exists
# to pin the UDTF API surface end-to-end. Scale: UDTFs run Arrow-batched
# per partition like other Python seams; chunking is embarrassingly
# parallel and the output is partition-local (no shuffle).
# ---------------------------------------------------------------------------
@register(
    "q85_udtf_chunks",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    idx AS (
      SELECT doc_id, words,
             unnest(range(CAST(ceil(len(words) / 10.0) AS BIGINT))) AS i
      FROM w
    )
    SELECT doc_id,
           CAST(i AS INT) AS chunk_idx,
           array_to_string(words[i*10+1 : (i+1)*10], ' ') AS chunk,
           CAST(len(words[i*10+1 : (i+1)*10]) AS INT) AS n_words
    FROM idx
    ORDER BY doc_id, chunk_idx
    """,
    doc="Python UDTF exploding documents into 10-word passage chunks",
    tags=("udtf", "text", "pipeline"),
)
def q85_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_idx int, chunk string, n_words int")
    class ChunkWords:
        def eval(self, row):
            words = row.text.split(" ")
            for i in range(0, len(words), 10):
                c = words[i : i + 10]
                yield row.doc_id, i // 10, " ".join(c), len(c)

    spark.udtf.register("q85_chunk_words", ChunkWords)
    load_table_spread(spark, "documents", sf_dir).select("doc_id", "text").createOrReplaceTempView(
        "q85_docs"
    )
    return spark.sql(
        "SELECT * FROM q85_chunk_words(TABLE(q85_docs)) ORDER BY doc_id, chunk_idx"
    )


# ---------------------------------------------------------------------------
# Q86 — grouped-aggregate pandas UDAF (SURVEY §2.11): per-group median via
# np.median inside a GROUPED_AGG pandas_udf. Median is sort-based, so the
# result is order-insensitive and bit-identical to DuckDB's
# quantile_cont(0.5) (both average the two middle doubles). The UDAF seam
# is for aggregates Catalyst lacks; median exists natively
# (percentile) — the query pins the API, the test pins the equivalence.
# Scale: grouped-agg UDAFs materialize each group in one Arrow batch —
# fine for bounded groups (per event_type here); unbounded groups should
# use approx sketches instead.
# ---------------------------------------------------------------------------
@register(
    "q86_grouped_agg_udaf",
    oracle="""
    SELECT event_type,
           quantile_cont(value, 0.5) AS median_value,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="grouped-agg pandas UDAF median per event type (≡ quantile_cont 0.5)",
    tags=("udaf", "pandas_udf", "agg", "stats"),
)
def q86_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def np_median(v: pd.Series) -> float:
        return float(np.median(v.to_numpy()))

    # grouped-agg UDAFs can't mix with JVM aggregates in one agg()
    # (INVALID_PANDAS_UDF_PLACEMENT) — the count rides the same seam
    @pandas_udf("long")
    def np_count(v: pd.Series) -> int:
        return int(len(v))

    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy("event_type")
        .agg(
            np_median("value").alias("median_value"),
            np_count("value").alias("n_events"),
        )
        .repartition(1).sortWithinPartitions("event_type")
    )


# ---------------------------------------------------------------------------
# Q89 — funnel / sequence-pattern analytics (the MATCH_RECOGNIZE class):
# within each user's first two hours of activity, the deepest ordered
# funnel stage reached (view → later click → later purchase), detected by
# a regex over the time-ordered event-type sequence. collect_list is
# bounded here by the per-user time-window filter — the documented
# precondition for sequence ops at 100 TB (never collect an unbounded
# history; sessionize or window first). One shuffle: the first-event
# window and the sequence groupBy share the user_id partitioning.
# ---------------------------------------------------------------------------
@register(
    "q89_funnel_stages",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id
    ),
    seqs AS (
      SELECT e.user_id,
             string_agg(CASE e.event_type WHEN 'view' THEN 'v'
                        WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
                        ELSE 'x' END, '' ORDER BY e.ts, e.event_id) AS seq
      FROM events e JOIN firsts f ON e.user_id = f.user_id
      WHERE e.ts <= f.t0 + INTERVAL 2 HOUR
      GROUP BY e.user_id
    ),
    staged AS (
      SELECT user_id,
             CASE WHEN regexp_matches(seq, 'v.*c.*p') THEN 3
                  WHEN regexp_matches(seq, 'v.*c') THEN 2
                  WHEN regexp_matches(seq, 'v') THEN 1
                  ELSE 0 END AS deepest_stage
      FROM seqs
    )
    SELECT deepest_stage, COUNT(*) AS n_users
    FROM staged GROUP BY deepest_stage ORDER BY deepest_stage
    """,
    doc="funnel conversion depth via regex over time-ordered event sequences",
    tags=("sequence", "window", "funnel", "regexp"),
)
def q89_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single spark.sql string since round 10 (this builder sat in the top
    # plan-construction list two rounds running): same physical plan as
    # the previous ~10-call Column-API chain — window + filter + sequence
    # groupBy sharing the user_id partitioning, REPARTITION(1)+SORT BY
    # replacing repartition(1).sortWithinPartitions — verified row-equal
    # with a wash execution A/B (min 0.237 vs 0.246, med 0.316 vs 0.321,
    # 1 scheduler job both ways) and construction 0.161s -> 0.064s
    # min-of-8 interleaved. PRIVATE view, not register_temp_views (the
    # q57/q107/events_v precedent): the global registrar loads ALL ten
    # tables, but this query must run on events-only fixture dirs
    # (tests/test_degenerate_events.py), and overwriting the shared
    # 'events' view under a different sf_dir would silently go stale for
    # later global-view consumers (the memo wouldn't re-register).
    load_table(spark, "events", sf_dir).createOrReplaceTempView("q89_events")
    return spark.sql(
        """
        WITH windowed AS (
          SELECT user_id, ts, event_id,
                 CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                      WHEN 'purchase' THEN 'p' ELSE 'x' END AS i,
                 MIN(ts) OVER (PARTITION BY user_id) AS t0
          FROM q89_events
        ),
        seqs AS (
          SELECT user_id,
                 array_join(transform(
                   array_sort(collect_list(
                     named_struct('ts', ts, 'event_id', event_id, 'i', i))),
                   s -> s.i), '') AS seq
          FROM windowed WHERE ts <= t0 + INTERVAL 2 HOURS
          GROUP BY user_id
        )
        SELECT deepest_stage, n_users FROM (
          SELECT /*+ REPARTITION(1) */ deepest_stage, COUNT(*) AS n_users
          FROM (
            SELECT CASE WHEN seq RLIKE 'v.*c.*p' THEN 3
                        WHEN seq RLIKE 'v.*c' THEN 2
                        WHEN seq RLIKE 'v' THEN 1 ELSE 0 END AS deepest_stage
            FROM seqs
          ) GROUP BY deepest_stage
        ) SORT BY deepest_stage
        """
    )


# ---------------------------------------------------------------------------
# Q90 — mergeable quantile sketch: percentile_approx (Greenwald-Khanna) per
# group. This is the 100 TB path q49's exact percentile cannot take — exact
# percentile materializes each group's values; the GK sketch is bounded
# state merged associatively across partitions (same contract as HLL in
# q37). Rows-only: sketch internals are engine-specific, so the gate is an
# error-bound equivalence test against the exact form (tests/test_operators).
# ---------------------------------------------------------------------------
@register(
    "q90_approx_quantiles",
    oracle=None,
    doc="Greenwald-Khanna approx percentiles per segment (mergeable sketch path)",
    tags=("sketch", "agg", "quantile"),
)
def q90_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    qs = F.percentile_approx(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), 10_000
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            qs.getItem(0).alias("p50"),
            qs.getItem(1).alias("p90"),
            qs.getItem(2).alias("p99"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .repartition(1).sortWithinPartitions("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Q90b — EXACT percentiles, q90's hash-checked twin: Spark's `percentile`
# and DuckDB's `quantile_cont` share the lower+(upper-lower)*frac linear
# interpolation at pos = p*(n-1), and the arithmetic is bit-identical on
# doubles (verified at sf0.001/0.01/0.1). This keeps the approx query
# honest: q90's GK sketch is the 100 TB path, q90b pins the target values
# the sketch's error bound is tested against. Exact percentile must
# materialize each group's values (sort within group) — fine at any SF
# where a single group's rows fit an executor, the documented boundary.
# ---------------------------------------------------------------------------
@register(
    "q90b_exact_quantiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS p50,
           quantile_cont(l_extendedprice, 0.9) AS p90,
           quantile_cont(l_extendedprice, 0.99) AS p99,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="exact linear-interpolated percentiles per segment (q90's hash-checked twin)",
    tags=("agg", "quantile"),
)
def q90b_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    qs = F.percentile(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            qs.getItem(0).alias("p50"),
            qs.getItem(1).alias("p90"),
            qs.getItem(2).alias("p99"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .repartition(1).sortWithinPartitions("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Q132 — composite-skew grid join (operators/skew.py::grid_salted_join via
# the salted_join router): event_type is hot on BOTH sides of the join —
# every type holds ~20% of the events fact AND 10 threshold rows — so
# one-sided salting can't shrink the per-task pair count (every salt
# bucket still meets all 10 small rows). The router's exact small-side
# probe flags every type composite and blocks the join into an
# n_salt × n_salt_small grid of bounded tasks. The result is
# salt-independent, so the oracle is the plain many-to-many join.
# ---------------------------------------------------------------------------
@register(
    "q132_grid_skew_join",
    oracle="""
    WITH thr AS (
        SELECT t.event_type AS t_event_type,
               CAST(r.range AS INTEGER) AS k,
               CAST(r.range AS DOUBLE) * 10.0 AS thr
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN range(10) r
    )
    SELECT e.event_type, t.k, COUNT(*) AS n_ge
    FROM events e JOIN thr t ON e.event_type = t.t_event_type
    WHERE e.value >= t.thr
    GROUP BY e.event_type, t.k
    ORDER BY e.event_type, t.k
    """,
    doc="cumulative threshold histogram via a composite-skew grid-salted m2m join",
    tags=("join", "skew", "agg"),
)
def q132_grid_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative value histogram: each event joins ALL 10 of its type's
    threshold rows (a genuine many-to-many on the 5-value ultra-skewed
    ``event_type`` key), then counts events at or above each threshold.
    ``salted_join(hot_threshold=100, small_hot_threshold=4)`` detects
    every type as hot via the sampling probe, finds 10 > 4 small rows
    per key via the exact bounded probe, and routes ALL of them through
    ``grid_salted_join`` — big side blocked 3×, threshold side 8× — so
    each grid cell carries ~(n_type/8)·(10/3) pairs instead of one task
    holding n_type·10. Counts only (no float arithmetic in the output),
    so the hash check is exact cross-engine."""
    from feature_store_test_spark.operators.skew import salted_join

    ev = load_table(spark, "events", sf_dir).select("event_type", "value")
    thr = (
        ev.select("event_type")
        .distinct()
        .withColumnRenamed("event_type", "t_event_type")
        .withColumn("k", F.explode(F.sequence(F.lit(0), F.lit(9))))
        .withColumn("thr", F.col("k").cast("double") * F.lit(10.0))
    )
    joined = salted_join(
        ev,
        thr,
        "event_type",
        "t_event_type",
        n_salt=8,
        hot_threshold=100,
        small_hot_threshold=4,
        n_salt_small=3,
    )
    return (
        joined.where(F.col("value") >= F.col("thr"))
        .groupBy("event_type", "k")
        .agg(F.count(F.lit(1)).alias("n_ge"))
        .repartition(1).sortWithinPartitions("event_type", "k")
    )


# ---------------------------------------------------------------------------
# Q135 — Bloom-filter semi-join reduction (operators/bloomjoin.py): the
# high-value-orders lineitem rollup, with the orders key set compressed
# into a 256 Kbit Bloom bitmap applied map-side BEFORE lineitem's semi
# join shuffle. Facts never broadcast in this engine, so the exact semi
# join must shuffle both sides — the Bloom pass cuts the fact-side
# shuffle volume to (selectivity + false-positive rate) while the exact
# rerank keeps the result provably identical to the plain semi join,
# which is therefore the oracle.
# ---------------------------------------------------------------------------
@register(
    "q135_bloom_semi_join",
    oracle="""
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM lineitem l
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_orderkey = l.l_orderkey AND o.o_totalprice > 450000
    )
    GROUP BY l.l_returnflag
    """,
    doc="Bloom-prefiltered semi join: map-side bitmap probe ahead of the exact shuffle",
    tags=("join", "bloom", "agg"),
)
def q135_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bitmap builds as a ≤4096-row bit_or aggregation (never a
    driver-side bitmap) and probes as three broadcast hash joins inside
    whole-stage codegen; at 100 TB you'd size m_bits off an
    approx_count_distinct of the filtered dim side instead of the fixed
    2^18 used here for plan determinism."""
    from feature_store_test_spark.operators.bloomjoin import bloom_semi_join, bloom_words
    from feature_store_test_spark.registry import managed_cache

    lineitem = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    hot_orders = (
        load_table(spark, "orders", sf_dir)
        .where(F.col("o_totalprice") > 450000)
        .select("o_orderkey")
    )
    # one bitmap build reused by all three probe joins (the harness
    # releases the cache after the result materializes)
    words = managed_cache(bloom_words(hot_orders, "o_orderkey", 1 << 18, 3))
    matched = bloom_semi_join(
        lineitem,
        hot_orders,
        "l_orderkey",
        "o_orderkey",
        m_bits=1 << 18,
        n_hashes=3,
        words=words,
    )
    return matched.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
    )
