"""Relational operator coverage (SURVEY.md §2.1, §2.2, §2.3, §2.4, §2.5, §2.6, §2.7, §2.8).

Each query is the *engine-idiomatic* Spark plan (declarative DataFrame ops →
Catalyst picks broadcast vs shuffle joins, pushes filters into the parquet
scan, prunes columns) plus a DuckDB oracle.

Scale notes are attached per query: what the plan shuffles, what broadcasts,
and why the same shape holds at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from feature_store_test_spark.data import load_table
from feature_store_test_spark.functions import dec_sum as _dec_sum
from feature_store_test_spark.functions import dec_ticks_sql, tick_sums_sql, tick_total_sql
from feature_store_test_spark.registry import register



# ---------------------------------------------------------------------------
# Q01 — pricing summary (TPC-H Q1 shape): scan → filter → hash agg → sort.
# Covers SURVEY §2.1 S1 (scan), §2.2 P1/P2, §2.4 A1/A2/A4, §2.6 O1, §2.8 F5.
# Scale: filter + column pruning push into the parquet scan; the groupBy has
# 6 groups → partial (map-side) aggregation reduces 100 TB to KBs before the
# shuffle. No risk at 1000 executors.
# Reference parity: the agg shape of engineer_features
# (/root/reference/core/utils.py:199-215) generalized to multi-measure.
# ---------------------------------------------------------------------------
@register(
    "q01_pricing_summary",
    oracle="""
    SELECT
      l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)       AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)  AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6)      AS avg_qty,
      ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
      ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6)      AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-31 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shape pricing summary over lineitem",
    tags=("agg", "scan", "sort"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    # the five money measures pre-project their ticks once (tick_sums_sql)
    measures = {
        "tq": ("l_quantity", 2),
        "te": ("l_extendedprice", 2),
        "td": ("l_extendedprice * (1 - l_discount)", 4),
        "tc": ("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6),
        "ti": ("l_discount", 2),
    }
    pre = li.where(
        F.col("l_shipdate") <= F.lit("2000-12-31").cast("timestamp")
    ).selectExpr(
        "l_returnflag",
        "l_linestatus",
        *[f"{dec_ticks_sql(x, s)} AS {name}" for name, (x, s) in measures.items()],
    )
    aggs = []
    for name in measures:
        hi, lo = tick_sums_sql(name)
        aggs += [F.expr(hi).alias(f"{name}_hi"), F.expr(lo).alias(f"{name}_lo")]
    g = pre.groupBy("l_returnflag", "l_linestatus").agg(
        *aggs, F.count(F.lit(1)).alias("count_order")
    )

    def total(name: str) -> str:
        return tick_total_sql(f"{name}_hi", f"{name}_lo", measures[name][1])

    return g.selectExpr(
        "l_returnflag",
        "l_linestatus",
        f"{total('tq')} AS sum_qty",
        f"{total('te')} AS sum_base_price",
        f"{total('td')} AS sum_disc_price",
        f"{total('tc')} AS sum_charge",
        f"round({total('tq')} / count_order, 6) AS avg_qty",
        f"round({total('te')} / count_order, 6) AS avg_price",
        f"round({total('ti')} / count_order, 6) AS avg_disc",
        "count_order",
    ).repartition(1).sortWithinPartitions("l_returnflag", "l_linestatus")


# ---------------------------------------------------------------------------
# Q02 — selective filter + projection: the pushdown showcase (§2.2 P1-P3).
# Scale: predicate + projection reach the parquet reader (PushedFilters /
# ReadSchema in explain) → row-group skipping; only 4 of 11 columns read.
# ---------------------------------------------------------------------------
@register(
    "q02_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS net_price
    FROM lineitem
    WHERE l_quantity >= 48 AND l_discount > 0.05
      AND l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
    """,
    doc="selective filter + pruned projection with computed column",
    tags=("scan", "filter", "project"),
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return li.where(
        (F.col("l_quantity") >= 48)
        & (F.col("l_discount") > 0.05)
        & (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,4)")
        .cast("double")
        .alias("net_price"),
    )


# ---------------------------------------------------------------------------
# Q03 — global top-k (§2.6 O1-O3): ORDER BY ... LIMIT with a total order.
# Scale: Spark's TakeOrderedAndProject computes per-partition top-k then
# merges k*partitions rows on the driver — no global sort of 100 TB.
# ---------------------------------------------------------------------------
@register(
    "q03_topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    doc="global top-100 orders by totalprice (deterministic tiebreak)",
    tags=("sort", "limit"),
)
def q03_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, "orders", sf_dir)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q04 — star-schema dimension join (§2.3): customer ⋈ nation ⋈ region.
# Scale: nation (25 rows) and region (5 rows) are broadcast — zero shuffle
# of the fact side; Catalyst does this automatically under the threshold,
# hints make it explicit.
# ---------------------------------------------------------------------------
@register(
    "q04_join_broadcast_dims",
    oracle="""
    SELECT r_name, n_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    doc="fact-to-dims broadcast join + agg",
    tags=("join", "broadcast", "agg"),
)
def q04_join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _dec_sum("c_acctbal", 2, "total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Q05 — multi-way join (TPC-H Q5 shape, §2.3): 6-table join, filters pushed
# below the joins, group by nation.
# Scale: region/nation broadcast; customer⋈orders and orders⋈lineitem are
# the two real shuffles, both on their join keys; supplier broadcast. AQE
# re-plans at runtime if a side turns out small.
# ---------------------------------------------------------------------------
@register(
    "q05_local_supplier_volume",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY n_name
    """,
    doc="TPC-H Q5-shape 6-table join with region/date filters",
    tags=("join", "agg", "filter"),
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir)
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir)
    # The three dims compose into ONE broadcast subtree (supplier ⋈ nation
    # ⋈ region-filtered), so the fact side sees a single BroadcastHashJoin
    # instead of three chained ones — one broadcast-build job, not three.
    # nation/region are shuffle_hash-hinted INSIDE the build: tiny-table
    # shuffles are extra stages within the one build job, where separate
    # broadcasts would each be their own scheduler job. Same rows either
    # way; the composite is supplier-subset-sized (ASIA ≈ 1/5), exactly
    # what F.broadcast(s) already shipped.
    dim = (
        s.join(n.hint("shuffle_hash"), s.s_nationkey == n.n_nationkey)
        .join(
            r.where(F.col("r_name") == "ASIA").hint("shuffle_hash"),
            n.n_regionkey == r.r_regionkey,
        )
        .select(s.s_suppkey, s.s_nationkey, n.n_name)
    )
    # shuffle_hash on the customer side and again on the (customer ⋈
    # filtered-orders) side of the lineitem join: all fact-sized sides
    # still shuffle on their keys, but each probe builds a per-partition
    # hash of the smaller shuffled side instead of sorting both — PK/FK
    # builds are uniform, and the q105 comment covers the SHJ-vs-SMJ
    # scale tradeoff.
    co = c.hint("shuffle_hash").join(
        o.where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
        ),
        c.c_custkey == o.o_custkey,
    )
    # Star-join order: the suppkey leg of the dim join applies BELOW the
    # orderkey shuffle (broadcast = map-side over the scan), cutting the
    # shuffled lineitem volume to the ASIA-supplier fraction (~1/5); the
    # nationkey equality needs customer, so it stays above the shuffle as
    # a join-condition filter. Same rows — splitting a conjunctive join
    # predicate across joins changes WHERE each conjunct is enforced,
    # never the surviving tuples.
    return (
        li.join(F.broadcast(dim), li.l_suppkey == dim.s_suppkey)
        .join(
            co.hint("shuffle_hash"),
            (li.l_orderkey == o.o_orderkey)
            & (c.c_nationkey == dim.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            _dec_sum("l_extendedprice * (1 - l_discount)", 4, "revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Q06/Q07 — semi / anti join (§2.2 P4 existence predicate, batched).
# The reference's per-key customer_features_exist
# (/root/reference/core/feature_store_manager.py:155-172) done for ALL keys
# in one pass. Scale: LEFT SEMI/ANTI shuffle only distinct keys of the
# probe side; no row duplication.
# ---------------------------------------------------------------------------
@register(
    "q06_semi_join",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
    doc="customers having at least one open order (left semi join)",
    tags=("join", "semi"),
)
def q06_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "q07_anti_join",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
    doc="customers with no finished order (left anti join)",
    tags=("join", "anti"),
)
def q07_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


# ---------------------------------------------------------------------------
# Q08 — latest-per-key ranking window (§2.5, §2.13 Q1 *intended* semantics).
# THE core feature-store primitive: the online store's latest view
# (/root/reference/core/feature_store_manager.py:165-168) as a window dedup,
# with (ts, event_id) total order replacing nondeterministic F.last.
# Scale: one hash shuffle on the key; window sorts within partitions only.
# ---------------------------------------------------------------------------
@register(
    "q08_latest_event_per_user",
    oracle="""
    SELECT user_id, event_id AS latest_event_id, ts AS latest_ts,
           event_type AS latest_type, value AS latest_value
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    doc="latest event per user via ranking window (online-view primitive)",
    tags=("window", "feature-store"),
)
def q08_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("latest_event_id"),
            F.col("ts").alias("latest_ts"),
            F.col("event_type").alias("latest_type"),
            F.col("value").alias("latest_value"),
        )
    )


# ---------------------------------------------------------------------------
# Q09 — analytic window with frame (§2.5): running revenue per customer.
# Scale: same single shuffle as Q08; running frames are sequential within a
# key but keys parallelize — skew only if one customer dominates (AQE).
# ---------------------------------------------------------------------------
@register(
    "q09_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spend,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS order_seq
    FROM orders
    """,
    doc="per-customer running spend + order sequence number",
    tags=("window",),
)
def q09_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
    )


# ---------------------------------------------------------------------------
# Q10 — distinct aggregation (§2.4 A5).
# Scale: exact COUNT(DISTINCT) double-shuffles (expand + re-agg); the engine
# also exposes approx_count_distinct (HLL, one pass) as the 100 TB default —
# benchmarked in bench.py, oracle-checked here with the exact form.
# ---------------------------------------------------------------------------
@register(
    "q10_distinct_agg",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
    doc="grouped exact distinct-count + plain aggs",
    tags=("agg", "distinct"),
)
def q10_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        _dec_sum("c_acctbal", 2, "total_bal"),
    )


# ---------------------------------------------------------------------------
# Q11 — ROLLUP grouping sets (§2.4 "absent in reference, engine exposes").
# NULL group keys are coalesced to 'ALL' so the row identity is stable.
# ---------------------------------------------------------------------------
@register(
    "q11_rollup",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    doc="hierarchical rollup totals over lineitem",
    tags=("agg", "rollup"),
)
def q11_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"), _dec_sum("l_quantity", 2, "sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows",
            "sum_qty",
        )
    )


# ---------------------------------------------------------------------------
# Q12 — set operations (§2.7): INTERSECT / EXCEPT on key sets.
# Scale: both compile to aggregate/shuffle on the full row; for key-only
# sets this is one shuffle of distinct keys.
# ---------------------------------------------------------------------------
@register(
    "q12_set_ops",
    oracle="""
    WITH open_cust AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'),
         fin_cust  AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F')
    SELECT 'both' AS bucket, COUNT(*) AS n FROM (SELECT k FROM open_cust INTERSECT SELECT k FROM fin_cust)
    UNION ALL
    SELECT 'open_only' AS bucket, COUNT(*) AS n FROM (SELECT k FROM open_cust EXCEPT SELECT k FROM fin_cust)
    UNION ALL
    SELECT 'fin_only' AS bucket, COUNT(*) AS n FROM (SELECT k FROM fin_cust EXCEPT SELECT k FROM open_cust)
    """,
    doc="intersect/except cardinalities of customer key sets",
    tags=("setops",),
)
def q12_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    open_c = o.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("k")).distinct()
    fin_c = o.where(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k")).distinct()
    both = open_c.intersect(fin_c).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("both").alias("bucket"), "n"
    )
    open_only = open_c.exceptAll(fin_c).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("open_only").alias("bucket"), "n"
    )
    fin_only = fin_c.exceptAll(open_c).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("fin_only").alias("bucket"), "n"
    )
    return both.unionByName(open_only).unionByName(fin_only)


# ---------------------------------------------------------------------------
# Q13 — scalar function surface (§2.8 F1-F7): string / date / math, all
# JVM-side whole-stage-codegen expressions (no Python in the hot path).
# ---------------------------------------------------------------------------
@register(
    "q13_scalar_functions",
    oracle="""
    SELECT o_orderkey,
           UPPER(o_orderpriority)                             AS prio_upper,
           SUBSTR(o_orderpriority, 1, 1)                      AS prio_code,
           CONCAT(o_orderstatus, '-', o_orderpriority)        AS status_prio,
           LENGTH(o_orderpriority)                            AS prio_len,
           REPLACE(o_orderpriority, '-', '_')                 AS prio_snake,
           CAST(YEAR(o_orderdate) AS INT)                     AS order_year,
           CAST(MONTH(o_orderdate) AS INT)                    AS order_month,
           CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS order_month_start,
           STRFTIME(o_orderdate, '%Y-%m-%dT%H:%M:%S.%fZ')     AS order_iso,
           CAST(CAST(o_totalprice / 100.0 AS DECIMAL(18,4)) AS DOUBLE) AS price_hundreds,
           ABS(o_totalprice - 50000.0)                        AS dist_from_50k,
           CAST(o_orderkey % 7 AS BIGINT)                     AS key_mod7,
           CAST(o_totalprice AS VARCHAR)                      AS price_str
    FROM orders
    WHERE o_orderkey <= 2000
    """,
    doc="string/date/math scalar functions incl. the reference's ISO-8601 format (F2)",
    tags=("scalar",),
)
def q13_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).where(F.col("o_orderkey") <= 2000)
    return o.select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("prio_upper"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.length("o_orderpriority").alias("prio_len"),
        F.replace(F.col("o_orderpriority"), F.lit("-"), F.lit("_")).alias("prio_snake"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.date_trunc("month", "o_orderdate").alias("order_month_start"),
        F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("order_iso"),
        # decimal(18,4), not round(...,2): the true quotient has exactly 4
        # decimal digits, so the cast is never on a rounding boundary —
        # round() at 2dp would hit x.xx5 ties where Spark (decimal-string
        # HALF_UP) and DuckDB (binary-value nearest) disagree.
        (F.col("o_totalprice") / 100.0).cast("decimal(18,4)").cast("double").alias("price_hundreds"),
        F.abs(F.col("o_totalprice") - 50000.0).alias("dist_from_50k"),
        (F.col("o_orderkey") % 7).alias("key_mod7"),
        F.col("o_totalprice").cast("string").alias("price_str"),
    )


# ---------------------------------------------------------------------------
# Q14 — JSON extraction (§2.8 extension; events.props is a JSON string).
# Spark: get_json_object (JVM-side). Oracle uses a regexp with identical
# output — the check is on values, not on both engines using JSON parsers.
# ---------------------------------------------------------------------------
@register(
    "q14_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MIN(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
    doc="JSON property extraction from event props + grouped agg",
    tags=("json", "agg"),
)
def q14_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Q15 — as-of join (§2.3 J2): for every purchase event, the most recent
# strictly-earlier signup event of the same user.
# Spark-first implementation: union-merge + running last_value window — a
# single shuffle on user_id, NO per-row subquery and NO range cross-join.
# This is the scalable pattern for point-in-time feature joins at 100 TB
# (the same shape Delta/Tecton-style PIT joins compile to).
# ---------------------------------------------------------------------------
@register(
    "q15_asof_join",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, p.value,
           s.sts AS signup_ts
    FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase') p
    LEFT JOIN LATERAL (
        SELECT MAX(ts) AS sts FROM events s
        WHERE s.user_id = p.user_id AND s.event_type = 'signup' AND s.ts < p.ts
    ) s ON TRUE
    """,
    doc="as-of join: latest signup strictly before each purchase (merge-scan, not nested loop)",
    tags=("join", "asof", "window"),
)
def q15_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_store_test_spark.operators.asof import asof_join

    ev = load_table(spark, "events", sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("sts")
    )
    return asof_join(
        left=purchases,
        right=signups,
        on="user_id",
        left_time="ts",
        right_time="sts",
        right_values=["sts"],
        strict=True,
    ).select("event_id", "user_id", "ts", "value", F.col("sts").alias("signup_ts"))


# ---------------------------------------------------------------------------
# Q54 — conditional-aggregate ratio (TPC-H Q14 shape): promo revenue share
# of lineitem ⋈ part in one month. Part is broadcast; the CASE rides the
# same aggregation pass (no second scan for the numerator).
# ---------------------------------------------------------------------------
@register(
    "q54_promo_revenue",
    oracle="""
    SELECT ROUND(
             100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                         THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
             6) AS promo_revenue_pct,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
    doc="TPC-H Q14-shape promo revenue percentage (conditional agg over broadcast join)",
    tags=("join", "agg", "broadcast"),
)
def q54_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).where(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = load_table(spark, "part", sf_dir)
    net = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    zero = F.lit(0).cast("decimal(18,4)")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return joined.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type").startswith("PROMO"), net).otherwise(zero)).cast("double")
            / F.sum(net).cast("double"),
            6,
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# Q55 — supplier-part statistics with exclusion (TPC-H Q16 shape): distinct
# suppliers per (brand, size-band) excluding suppliers with below-par
# balance — an anti-join feeding a distinct aggregation.
# ---------------------------------------------------------------------------
@register(
    "q55_parts_supplier_stats",
    oracle="""
    SELECT p_brand,
           CASE WHEN p_size < 20 THEN 'small' ELSE 'large' END AS size_band,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(*) AS n_lineitems
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2
    """,
    doc="TPC-H Q16-shape distinct suppliers per brand/size-band with NOT-IN exclusion",
    tags=("join", "anti", "agg", "distinct"),
)
def q55_parts_supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    bad = load_table(spark, "supplier", sf_dir).where(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey")
    )
    kept = li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
    return (
        kept.join(F.broadcast(p), kept.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand",
            F.when(F.col("p_size") < 20, "small").otherwise("large").alias("size_band"),
        )
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# Q56 — returned-item top customers (TPC-H Q10 shape): revenue lost to
# returns per customer over a quarter, top 20 — join + agg + deterministic
# top-k in one plan.
# ---------------------------------------------------------------------------
@register(
    "q56_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             AS lost_revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY lost_revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10-shape returned-item revenue per customer, deterministic top-20",
    tags=("join", "agg", "limit"),
)
def q56_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir).where(F.col("l_returnflag") == "R")
    n = load_table(spark, "nation", sf_dir)
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
            )
            .cast("double")
            .alias("lost_revenue")
        )
        .orderBy(F.col("lost_revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q112 — VARIANT shredding (Spark 4 semi-structured type): parse the JSON
# props column ONCE into a binary variant, then extract typed fields with
# variant_get. Versus q14's string-path functions, the variant parse
# happens a single time per row regardless of how many fields are read —
# at 100 TB with wide props objects that is the difference between one
# JSON parse and one per extracted field. The oracle reads the same
# numbers with DuckDB's JSON extraction.
# ---------------------------------------------------------------------------
@register(
    "q112_variant_shred",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(COUNT(DISTINCT CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS n_distinct_k,
           CAST(SUM(CASE WHEN CAST(props->>'$.k' AS BIGINT) < 50 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_small_k
    FROM events
    GROUP BY event_type
    """,
    doc="VARIANT parse-once + typed variant_get extraction over event props",
    tags=("json", "variant", "agg"),
)
def q112_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.countDistinct("k").alias("n_distinct_k"),
        F.sum(F.when(F.col("k") < 50, 1).otherwise(0)).alias("n_small_k"),
    )
