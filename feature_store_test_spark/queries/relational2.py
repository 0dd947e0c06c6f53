"""Second wave of relational coverage: GROUPING SETS, the remaining classic
TPC-H query shapes expressible on the fixture schema (Q12/Q13/Q17/Q19/Q22
analogs), sliding event-time windows, and RANGE window frames.

Same discipline as ``relational.py``: declarative plans (Catalyst picks the
physical strategy), decimal-exact money sums, deterministic orderings, and a
DuckDB oracle per query. Scale notes per query explain why the shape holds
at 100 TB / 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from feature_store_test_spark.data import load_table
from feature_store_test_spark.functions import dec_sum as _dec_sum
from feature_store_test_spark.registry import register



# ---------------------------------------------------------------------------
# Q57 — explicit GROUPING SETS over 3 dimensions (§2.4 extension; q11/q35
# cover ROLLUP/CUBE, this is the general form with a hand-picked lattice).
# Scale: Spark expands grouping sets into a single Expand + one hash agg —
# one shuffle regardless of how many sets; partial aggregation still applies.
# ---------------------------------------------------------------------------
@register(
    "q57_grouping_sets",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COALESCE(CAST(EXTRACT(year FROM o_orderdate) AS BIGINT), -1) AS order_year,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           CAST(GROUPING(EXTRACT(year FROM o_orderdate)) AS INT) AS g_year,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS (
      (o_orderstatus, o_orderpriority, EXTRACT(year FROM o_orderdate)),
      (o_orderstatus, EXTRACT(year FROM o_orderdate)),
      (o_orderpriority),
      ()
    )
    """,
    doc="explicit GROUPING SETS lattice over status × priority × year",
    tags=("agg", "rollup", "sql"),
)
def q57_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    o.createOrReplaceTempView("q57_orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COALESCE(CAST(EXTRACT(year FROM o_orderdate) AS BIGINT), -1) AS order_year,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               CAST(GROUPING(EXTRACT(year FROM o_orderdate)) AS INT) AS g_year,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM q57_orders
        GROUP BY GROUPING SETS (
          (o_orderstatus, o_orderpriority, EXTRACT(year FROM o_orderdate)),
          (o_orderstatus, EXTRACT(year FROM o_orderdate)),
          (o_orderpriority),
          ()
        )
        """
    )


# ---------------------------------------------------------------------------
# Q58 — TPC-H Q12 shape (shipmode→returnflag adaptation): join + conditional
# counts. Scale: the orders side is filtered/projected to 2 columns before
# the shuffle join; conditional counts are map-side partial.
# ---------------------------------------------------------------------------
@register(
    "q58_priority_by_flag",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
             AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
             AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="TPC-H Q12-shape conditional priority counts per return flag",
    tags=("join", "agg", "filter"),
)
def q58_priority_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .repartition(1).sortWithinPartitions("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Q59 — TPC-H Q13 shape: customer order-count distribution via LEFT OUTER
# join with a join-time predicate, then a second agg over the first.
# Scale: both aggs reduce before shuffling; customers with zero orders are
# preserved by the outer join (the classic Q13 trap).
# ---------------------------------------------------------------------------
@register(
    "q59_custdist",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13-shape customer order-count distribution (outer join + double agg)",
    tags=("join", "agg", "sort"),
)
def q59_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .repartition(1).sortWithinPartitions(F.col("custdist").desc(), F.col("c_count").desc())
    )


# ---------------------------------------------------------------------------
# Q60 — TPC-H Q17 shape: small-quantity revenue against a per-part average
# (correlated subquery, decorrelated into an agg + join — the form Catalyst
# can actually distribute; a per-row rescan would be quadratic).
# The per-part average is computed with a decimal-exact sum so both engines
# derive bit-identical thresholds (strict < on a double boundary).
# Scale: the agg side reduces lineitem to one row per part before the join;
# AQE can broadcast it when the brand filter makes it small.
# ---------------------------------------------------------------------------
@register(
    "q60_small_qty_revenue",
    oracle="""
    WITH part_avg AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6)
             AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN part_avg ON part_avg.l_partkey = lineitem.l_partkey
    WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * avg_qty
    """,
    doc="TPC-H Q17-shape small-quantity revenue vs per-part average (decorrelated)",
    tags=("join", "agg", "subquery"),
)
def q60_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    part_avg = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (_dec_sum("l_quantity", 2) / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(p.where(F.col("p_brand") == "Brand#23")), F.col("p_partkey") == F.col("l_partkey"))
        .join(part_avg, F.col("pa_partkey") == F.col("l_partkey"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(F.round(_dec_sum("l_extendedprice", 2) / 7.0, 6).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# Q61 — TPC-H Q19 shape: disjunction of conjunctive predicates across the
# join (brand × size-band × quantity-band). Catalyst extracts the common
# join key and pushes the per-table halves of each disjunct into the scans.
# Scale: part side is tiny after pushdown → broadcast; no shuffle on lineitem.
# ---------------------------------------------------------------------------
@register(
    "q61_disjunctive_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19-shape disjunctive predicate join revenue",
    tags=("join", "filter", "agg", "broadcast"),
)
def q61_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir)
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .where(cond)
        .agg(
            _dec_sum("l_extendedprice * (1 - l_discount)", 4, "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q62 — TPC-H Q22 shape: "idle customers" — scalar-subquery threshold (avg
# positive balance in chosen code buckets), substring-derived code, and an
# anti join to orders. Scale: the scalar threshold is one tiny agg
# broadcast into the filter; the anti join shuffles only the filtered slice.
# ---------------------------------------------------------------------------
@register(
    "q62_idle_customers",
    oracle="""
    WITH pool AS (
      SELECT substr(c_name, 17, 2) AS code, c_custkey, c_acctbal
      FROM customer
      WHERE substr(c_name, 17, 2) IN ('13', '31', '23', '29', '30')
    ),
    threshold AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
      FROM pool WHERE c_acctbal > 0.0
    )
    SELECT code,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM pool, threshold
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY code
    ORDER BY code
    """,
    doc="TPC-H Q22-shape idle high-balance customers (scalar subquery + anti join)",
    tags=("join", "anti", "subquery", "agg"),
)
def q62_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir)
    pool = c.select(
        F.substring("c_name", 17, 2).alias("code"), "c_custkey", "c_acctbal"
    ).where(F.col("code").isin("13", "31", "23", "29", "30"))
    # Decimal-exact average so the strict > threshold is bit-identical in
    # both engines (same discipline as q60).
    threshold = pool.where(F.col("c_acctbal") > 0.0).agg(
        (_dec_sum("c_acctbal", 2) / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        pool.crossJoin(F.broadcast(threshold))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            o.where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .groupBy("code")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dec_sum("c_acctbal", 2, "totacctbal"),
        )
        .repartition(1).sortWithinPartitions("code")
    )


# ---------------------------------------------------------------------------
# Q64 — sliding (hopping) event-time windows: 30-minute windows every 15
# minutes, the overlapping generalization of q34's tumbling windows. Spark's
# F.window replicates each event into the 2 windows covering it; the oracle
# reproduces that expansion with a shifted-bucket UNION ALL.
# Scale: expansion factor = window/slide (2×) before a partial-agg'd shuffle
# — bounded and known; in streaming the same operator composes with
# withWatermark for state eviction.
# ---------------------------------------------------------------------------
@register(
    "q64_sliding_windows",
    oracle="""
    WITH assigned AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts) AS window_start, event_type, value
      FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '15 minutes', ts) - INTERVAL '15 minutes', event_type, value
      FROM events
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM assigned
    GROUP BY window_start, event_type
    """,
    doc="30-minute sliding windows every 15 minutes (hopping-window agg)",
    tags=("window", "streaming", "agg"),
)
def q64_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "30 minutes", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum("value", 2, "total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Q65 — RANGE window frame: trailing-30-day spend per customer at each
# order (event-time range frame, not row-count frame — ties by date are all
# included, so the result is deterministic without a row tiebreak).
# Spark's rangeBetween needs a numeric ordering key → order by epoch
# seconds; DuckDB takes the interval form directly. Decimal frame sums keep
# the two engines bit-identical.
# Scale: one shuffle on customer; frames evaluate with a sliding two-pointer
# over each partition — no per-row rescan.
# ---------------------------------------------------------------------------
@register(
    "q65_trailing_spend",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL '30 days' PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS spend_30d,
           COUNT(*) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL '30 days' PRECEDING AND CURRENT ROW
           ) AS n_orders_30d
    FROM orders
    """,
    doc="trailing-30-day spend per customer via RANGE window frame",
    tags=("window", "frame"),
)
def q65_trailing_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("spend_30d"),
        F.count(F.lit(1)).over(w).alias("n_orders_30d"),
    )


# ---------------------------------------------------------------------------
# Q107 — time-hierarchy ROLLUP (year → month → day) with an explicit
# drill-level id composed from GROUPING flags (§2.4 "grouping sets / rollup"
# extension; the calendar-hierarchy form every BI layer generates).
# level_id is built from the three GROUPING() bits rather than
# grouping_id() so the Spark and DuckDB results agree by construction
# regardless of either engine's native bit ordering.
# Scale: ROLLUP over a 3-level hierarchy is ONE Expand (4 rows per input
# row) + one hash aggregate — partial aggregation runs after the expand,
# so the shuffle carries at most (distinct days × 4) rows, not 4× the
# table. No iterative re-aggregation, no extra shuffles at 100 TB.
# ---------------------------------------------------------------------------
_Q107_SQL = """
    SELECT COALESCE(CAST(EXTRACT(year FROM o_orderdate) AS BIGINT), -1) AS order_year,
           COALESCE(CAST(EXTRACT(month FROM o_orderdate) AS BIGINT), -1) AS order_month,
           COALESCE(CAST(EXTRACT(day FROM o_orderdate) AS BIGINT), -1) AS order_day,
           CAST(GROUPING(EXTRACT(year FROM o_orderdate)) * 4
              + GROUPING(EXTRACT(month FROM o_orderdate)) * 2
              + GROUPING(EXTRACT(day FROM o_orderdate)) AS INT) AS level_id,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
    FROM {table}
    GROUP BY ROLLUP (EXTRACT(year FROM o_orderdate),
                     EXTRACT(month FROM o_orderdate),
                     EXTRACT(day FROM o_orderdate))
"""


@register(
    "q107_time_rollup",
    oracle=_Q107_SQL.format(table="orders"),
    doc="calendar-hierarchy ROLLUP (year/month/day) with drill-level ids",
    tags=("agg", "rollup", "sql"),
)
def q107_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir)
    o.createOrReplaceTempView("q107_orders")
    return spark.sql(_Q107_SQL.format(table="q107_orders"))
