"""Third relational wave: the remaining classic TPC-H query shapes, adapted
to the fixture schema (no ``partsupp`` table, no commit/receipt dates — the
cost proxy is ``p_retailprice`` and "late" is ship-lag vs ``o_orderdate``).

What each query adds to the operator inventory (SURVEY.md §2.3/§2.4):

* q69 — correlated EXISTS with a cross-table predicate → compound-condition
  LEFT SEMI join (TPC-H Q4).
* q70 — two-nation volume join, 6-way star with a pair-disjunction (Q7).
* q71 — market-share ratio: conditional numerator over a shared denominator
  in one agg (Q8).
* q72 — profit rollup with per-row decimal debit/credit (Q9).
* q73 — HAVING against a scalar-subquery threshold (Q11).
* q74 — scalar-subquery MAX equality (a view-free Q15).
* q75 — COUNT(DISTINCT) per attribute triple + NOT IN → LEFT ANTI (Q16).
* q76 — IN over a HAVING subquery (large-volume orders, Q18).
* q77 — nested INs with a correlated share threshold (Q20).
* q78 — EXISTS + NOT EXISTS self-joins on a derived flag table (Q21).

Same discipline as relational.py: declarative plans, decimal-exact money
sums (see cross-engine rules in oracle.py), deterministic orderings, one
DuckDB oracle per query. Scale notes per query justify the shape at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from feature_store_test_spark.data import load_table
from feature_store_test_spark.functions import dec_sum as _dec_sum
from feature_store_test_spark.functions import revenue as _revenue
from feature_store_test_spark.registry import register




# ---------------------------------------------------------------------------
# Q69 — TPC-H Q4 shape: order-priority counts for orders with at least one
# slow line (ship lag > 90 days). The correlated EXISTS references BOTH
# tables (l_shipdate vs o_orderdate), so the semi join carries a compound
# condition — the shape Catalyst turns into a shuffled semi join with the
# non-equi predicate evaluated post-probe.
# Scale: semi join dedups on the stream side (no row explosion for
# multi-line orders); both inputs are filtered/projected before the
# exchange; the date filter prunes orders partitions when stored by month.
# ---------------------------------------------------------------------------
@register(
    "q69_priority_check",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4-shape priority counts via correlated-EXISTS semi join",
    tags=("join", "semi", "subquery", "agg"),
)
def q69_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, "orders", sf_dir).where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .repartition(1).sortWithinPartitions("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Q70 — TPC-H Q7 shape: shipping volume between two specific nations, by
# year and direction. Six-way join where both nation dims enter twice
# (supplier side and customer side) — alias discipline matters.
# Scale: nation/supplier/customer dims broadcast (nation is 25 rows;
# supplier/customer prune to the two nations first); only the
# lineitem⋈orders join shuffles, on the orderkey both sides already share.
# ---------------------------------------------------------------------------
@register(
    "q70_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(year FROM l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_13')
         OR (n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_12')
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7-shape two-nation shipping volume by year and direction",
    tags=("join", "agg", "broadcast"),
)
def q70_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey")
    n = load_table(spark, "nation", sf_dir)
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_12") & (F.col("cust_nation") == "NATION_13")
    ) | ((F.col("supp_nation") == "NATION_13") & (F.col("cust_nation") == "NATION_12"))
    return (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_dec_sum("l_extendedprice * (1 - l_discount)", 4, "revenue"))
        .repartition(1).sortWithinPartitions("supp_nation", "cust_nation", "l_year")
    )


# ---------------------------------------------------------------------------
# Q71 — TPC-H Q8 shape: a nation's market share of PROMO-part volume within
# one region, per year: conditional numerator and shared denominator in ONE
# aggregation pass (no second scan), then the ratio. The ratio is a
# non-terminating quantity → 6-dp round is safe cross-engine.
# Scale: part/customer/nation/region dims broadcast after pushdown; one
# lineitem shuffle; numerator/denominator are partial-agg'd map-side.
# ---------------------------------------------------------------------------
@register(
    "q71_market_share",
    oracle="""
    SELECT o_year,
           ROUND(CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_15' THEN volume ELSE 0 END
                           AS DECIMAL(18,4))) AS DOUBLE)
                 / CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT EXTRACT(year FROM o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region   ON n2.n_regionkey = r_regionkey
      WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
    )
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8-shape national market share of PROMO volume per year",
    tags=("join", "agg", "broadcast", "ratio"),
)
def q71_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = load_table(spark, "part", sf_dir).where(F.col("p_type") == "PROMO").select("p_partkey")
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_nationkey")
    n = load_table(spark, "nation", sf_dir)
    r = load_table(spark, "region", sf_dir).where(F.col("r_name") == "EUROPE")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")).select(
        F.col("n_nationkey").alias("n2_key")
    )
    vol = _revenue().cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_15", _revenue())
                    .otherwise(F.lit(0))
                    .cast("decimal(18,4)")
                ).cast("double")
                / F.sum(vol).cast("double"),
                6,
            ).alias("mkt_share")
        )
        .repartition(1).sortWithinPartitions("o_year")
    )


# ---------------------------------------------------------------------------
# Q72 — TPC-H Q9 shape: profit by supplier nation and year for one part
# family. No partsupp in the fixtures → cost proxy is 10% of retail price
# per unit; profit = revenue − cost, kept per-row in decimal so the debit
# and credit sum exactly in both engines.
# Scale: part (name-filtered) and supplier/nation broadcast; the only big
# shuffle is lineitem⋈orders on orderkey, then one hash agg on (nation, yr).
# ---------------------------------------------------------------------------
@register(
    "q72_product_profit",
    oracle="""
    SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                  - CAST(p_retailprice * l_quantity * CAST(0.1 AS DOUBLE)
                         AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, EXTRACT(year FROM o_orderdate)
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9-shape profit by nation/year (retail-price cost proxy)",
    tags=("join", "agg", "broadcast"),
)
def q72_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = (
        load_table(spark, "part", sf_dir)
        .where(F.col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    n = load_table(spark, "nation", sf_dir).select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderdate")
    cost = F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1)
    profit = _revenue().cast("decimal(18,4)") - cost.cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
        .repartition(1).sortWithinPartitions("nation", F.col("o_year").desc())
    )


# ---------------------------------------------------------------------------
# Q73 — TPC-H Q11 shape: parts whose shipped value (from one nation's
# suppliers) exceeds a fraction of the TOTAL shipped value of that slice —
# HAVING against a scalar subquery. Decorrelated: the total is a one-row
# agg cross-joined (broadcast) into the per-part filter; the slice is
# aggregated ONCE and reused for both sides via a cached-free two-pass plan.
# Scale: the threshold side is one row — broadcast, never a shuffle; the
# per-part agg is the only exchange. At 100 TB the slice filter (nation)
# cuts the input ~25× before anything shuffles.
# ---------------------------------------------------------------------------
@register(
    "q73_important_parts",
    oracle="""
    WITH slice AS (
      SELECT l_partkey, CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS val
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
                    JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_13'
    ),
    per_part AS (
      SELECT l_partkey, CAST(SUM(val) AS DOUBLE) AS part_value
      FROM slice GROUP BY l_partkey
    )
    SELECT l_partkey, part_value
    FROM per_part
    WHERE part_value > (SELECT CAST(SUM(val) AS DOUBLE) * CAST(0.002 AS DOUBLE)
                        FROM slice)
    ORDER BY part_value DESC, l_partkey
    """,
    doc="TPC-H Q11-shape important parts via scalar-subquery HAVING threshold",
    tags=("agg", "subquery", "broadcast"),
)
def q73_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    n = load_table(spark, "nation", sf_dir).where(F.col("n_name") == "NATION_13")
    slice_df = (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("l_partkey", _revenue().cast("decimal(18,4)").alias("val"))
    )
    per_part = slice_df.groupBy("l_partkey").agg(
        F.sum("val").cast("double").alias("part_value")
    )
    threshold = slice_df.agg(
        (F.sum("val").cast("double") * F.lit(0.002)).alias("thresh")
    )
    return (
        per_part.crossJoin(F.broadcast(threshold))
        .where(F.col("part_value") > F.col("thresh"))
        .select("l_partkey", "part_value")
        # Bounded at ANY scale factor by arithmetic, not by fixture size:
        # each surviving part holds > 0.2% of the slice total, so at most
        # floor(1/0.002) = 500 rows can qualify no matter how large the
        # fact tables grow — a single-task sort (no range-sampling pass
        # re-executing the child) is the honest 100 TB plan here (vs TPC-H Q11's 0.0001/SF fraction,
        # which is what makes the ORIGINAL query's output SF-constant).
        .repartition(1).sortWithinPartitions(F.col("part_value").desc(), "l_partkey")
    )


# ---------------------------------------------------------------------------
# Q74 — TPC-H Q15 shape: the top supplier(s) by quarterly revenue — a
# scalar-subquery MAX compared for exact equality. Safe cross-engine only
# because the revenue is a decimal-exact sum cast once to double, so both
# engines derive bit-identical values AND an identical max.
# Scale: per-supplier agg is one shuffle (supplier count ≪ lineitem); the
# max is a one-row broadcast; supplier dim broadcast for the name join.
# ---------------------------------------------------------------------------
@register(
    "q74_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                  AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q15-shape top supplier by quarterly revenue (scalar-subquery max)",
    tags=("agg", "subquery", "join", "broadcast"),
)
def q74_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_dec_sum("l_extendedprice * (1 - l_discount)", 4, "total_revenue"))
    )
    top = rev.agg(F.max("total_revenue").alias("max_rev"))
    return (
        rev.crossJoin(F.broadcast(top))
        .where(F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
        .repartition(1).sortWithinPartitions("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q75 — TPC-H Q16 shape: how many distinct suppliers ship each
# (brand, type, size) combination, excluding brands/types we don't want and
# suppliers on a blocklist (NOT IN → LEFT ANTI; the blocklist column is
# non-nullable, so anti join and NOT IN agree — the classic NOT-IN-null
# trap doesn't bite).
# Scale: COUNT(DISTINCT) expands to a two-phase agg (distinct-expand then
# count) — one extra exchange, bounded by the distinct pairs, not the raw
# rows; the blocklist is tiny → broadcast anti join.
# ---------------------------------------------------------------------------
@register(
    "q75_supplier_variety",
    oracle="""
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#3' AND p_type <> 'MEDIUM'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="TPC-H Q16-shape distinct-supplier counts with NOT-IN blocklist",
    tags=("join", "anti", "agg", "distinct"),
)
def q75_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir).select("l_partkey", "l_suppkey")
    p = (
        load_table(spark, "part", sf_dir)
        .where(
            (F.col("p_brand") != "Brand#3")
            & (F.col("p_type") != "MEDIUM")
            & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    blocked = (
        load_table(spark, "supplier", sf_dir)
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(blocked), F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .repartition(1).sortWithinPartitions(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# Q76 — TPC-H Q18 shape: large-volume orders — IN over a GROUP BY/HAVING
# subquery, then re-join and re-aggregate for the report. In Spark the IN
# becomes a LEFT SEMI against the HAVING output.
# Scale: the HAVING agg reduces lineitem to one row per order BEFORE the
# semi join; the final agg re-shuffles only qualifying orders (tail of the
# distribution — threshold 250 vs mean ≈ 103).
# ---------------------------------------------------------------------------
@register(
    "q76_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    """,
    doc="TPC-H Q18-shape large-volume orders (IN over HAVING subquery)",
    tags=("join", "semi", "agg", "subquery"),
)
def q76_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # keyed spread — q78's rationale: the per-order HAVING aggregation is
    # keyed on l_orderkey, so the spread folds into the agg exchange and
    # widens the agg+join stage (A/B n=8: min 0.426→0.373, med
    # 0.499→0.415); no-op on multi-file layouts.
    from feature_store_test_spark.data import load_table_spread

    li = load_table_spread(spark, "lineitem", sf_dir, key="l_orderkey")
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir).select("c_custkey", "c_name")
    # The IN-over-HAVING decorrelates to a single per-order aggregation:
    # the qualifying sum IS the output sum (the outer GROUP BY keys are
    # functionally dependent on o_orderkey), so lineitem is scanned and
    # aggregated ONCE, then the filtered per-order totals join orders on
    # the partitioning the agg already produced — vs the literal form's
    # second lineitem shuffle (semi join) + re-aggregation.
    big = li.groupBy("l_orderkey").agg(_dec_sum("l_quantity", 2, "total_qty")).where(
        F.col("total_qty") > 250
    )
    return (
        # the HAVING-filtered per-order totals are the (runtime-)small
        # side; shuffle_hash builds their per-partition hash instead of
        # sorting the full orders shuffle (AQE makes the same call from
        # measured sizes at the 10x profile)
        big.hint("shuffle_hash")
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        # shuffle_hash, not broadcast (round 9): the HAVING-filtered join
        # output is a handful of rows and customer is 15k — both shuffle
        # inside the main job instead of paying a broadcast-build job
        # (interleaved A/B: 3 jobs -> 2, min 0.614 -> 0.538)
        .join(c.hint("shuffle_hash"), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty"
        )
        # Qualifying orders are a fixed FRACTION of all orders (~0.004%),
        # so the output grows linearly with the fact tables — fact-sized
        # sorted outputs must pay the range sort; a single-task sort is
        # only for bounded reports and would serialize/OOM here at large SF.
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    )


# ---------------------------------------------------------------------------
# Q77 — TPC-H Q20 shape: suppliers who dominate shipments of a part family
# — nested INs with a correlated share threshold, decorrelated into
# per-(part,supplier) and per-part aggs joined on partkey. A supplier
# qualifies if it shipped > 25% of the total quantity of some '%bolt%' part.
# Scale: both aggs reduce before joining; the name-filtered part list
# broadcasts into the lineitem scan as a semi join (partition-prunable).
# ---------------------------------------------------------------------------
@register(
    "q77_dominant_suppliers",
    oracle="""
    WITH bolt_parts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%'
    ),
    per_ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS ps_qty
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM bolt_parts)
      GROUP BY l_partkey, l_suppkey
    ),
    per_p AS (
      SELECT l_partkey, CAST(SUM(CAST(ps_qty AS DECIMAL(18,2))) AS DOUBLE) AS p_qty
      FROM per_ps GROUP BY l_partkey
    )
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM per_ps JOIN per_p USING (l_partkey)
      WHERE ps_qty > CAST(0.1 AS DOUBLE) * p_qty
    )
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q20-shape dominant suppliers of a part family (nested INs)",
    tags=("join", "semi", "subquery", "agg"),
)
def q77_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, "lineitem", sf_dir)
    p = (
        load_table(spark, "part", sf_dir)
        .where(F.col("p_name").like("%bolt%"))
        .select("p_partkey")
    )
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name", "s_acctbal")
    per_ps = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(_dec_sum("l_quantity", 2, "ps_qty"))
    )
    per_p = per_ps.groupBy(F.col("l_partkey").alias("pp_partkey")).agg(
        _dec_sum("ps_qty", 2, "p_qty")
    )
    dominant = (
        per_ps.join(per_p, F.col("pp_partkey") == F.col("l_partkey"))
        .where(F.col("ps_qty") > F.lit(0.1) * F.col("p_qty"))
        .select("l_suppkey")
    )
    return (
        s.join(dominant, F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .repartition(1).sortWithinPartitions("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Q78 — TPC-H Q21 shape: suppliers who were the ONLY late supplier on a
# finished multi-supplier order. "Late" = shipped > 90 days after the order
# date. The flag table is deduped to one row per (order, supplier) with
# bool_or(late), then: EXISTS another supplier on the order (semi join) and
# NOT EXISTS another LATE supplier (anti join) — compound-condition
# semi/anti self-joins, the hardest decorrelation in the TPC-H suite.
# Scale: the flag table is one agg over lineitem⋈orders on a shared key;
# the self-joins shuffle the deduped (order,supplier) pairs, not raw lines.
# ---------------------------------------------------------------------------
@register(
    "q78_lonely_late_supplier",
    oracle="""
    WITH flagged AS (
      SELECT l_orderkey, l_suppkey,
             BOOL_OR(l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
      GROUP BY l_orderkey, l_suppkey
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM flagged l1 JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE l1.late
      AND EXISTS (SELECT 1 FROM flagged l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM flagged l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.late)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    """,
    doc="TPC-H Q21-shape sole-late-supplier counts (EXISTS + NOT EXISTS self-joins)",
    tags=("join", "semi", "anti", "agg", "subquery"),
)
def q78_lonely_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # keyed spread (round 11, data.load_table_spread): lineitem's FIRST
    # operation is the orderkey exchange feeding the SHJ + two pipelined
    # aggs — on a single-row-group fixture that whole middle stage runs
    # at the toy profile's 4-task width while the (serial) scan stage
    # writes the exchange either way. The keyed repartition IS that
    # exchange (hash(l_orderkey) satisfies the join clustering — plan
    # verified: same Exchange count), just data-sized wide. Interleaved
    # A/B n=10: min 0.504→0.414, med 0.550→0.444 (width 6–11 all within
    # noise of each other; bytes/1.5MiB lands at 8). No-op on multi-file
    # layouts via the existing capacity gate.
    from feature_store_test_spark.data import load_table_spread

    li = load_table_spread(spark, "lineitem", sf_dir, key="l_orderkey")
    o = (
        load_table(spark, "orders", sf_dir)
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_name")
    # The correlated EXISTS / NOT EXISTS decompose into per-order counts:
    # "another supplier exists" = order has >= 2 distinct suppliers;
    # "no other late supplier" = the order's late-supplier count is exactly
    # 1 (the row's own). Round 6: those counts come from a SECOND hash
    # aggregation on l_orderkey (not a window) — the SHJ output is already
    # hash-partitioned by orderkey, which satisfies BOTH groupBys'
    # clustering, so the whole query is ONE shuffle, two pipelined hash
    # aggs, and a broadcast, with NO sort anywhere: when the order's late
    # count is exactly 1, the qualifying supplier is recoverable inside
    # the same agg as max(when(late, suppkey)) — no rejoin against the
    # flag table, where the window form paid a full sort of the flag rows
    # (A/B at sf0.1: 0.634s -> 0.354s, min-merged two-run protocol).
    # The semi/anti join forms stay exercised by q06/q07/q69/q76/q77;
    # window-over-agg stays exercised by q106/q109.
    flagged = (
        # shuffle_hash: build the filtered two-column orders side per
        # partition, stream lineitem — skips both SMJ sorts (PK build,
        # uniform; see q105 for the SHJ scale note)
        li.join(o.hint("shuffle_hash"), F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.bool_or(
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ).alias("late")
        )
    )
    lonely = (
        flagged.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.count_if("late").alias("n_late"),
            F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias("l_suppkey"),
        )
        .where((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
    )
    return (
        # shuffle_hash, not broadcast (round 9): `lonely` is post-filter
        # tiny and supplier is 1k rows, so BOTH sides shuffle pennies —
        # inside the main job — where a broadcast build is its own
        # scheduler job (~0.07s fixed on this box). Interleaved A/B:
        # 2 jobs -> 1, med 1.061 -> 0.980.
        lonely.join(s.hint("shuffle_hash"), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .repartition(1).sortWithinPartitions(F.col("numwait").desc(), "s_name")
    )
