"""Reference-parity feature engineering.

Re-expresses ``engineer_features`` (/root/reference/core/utils.py:167-230)
as one declarative Spark plan. Two deliberate semantic fixes, documented in
SURVEY.md §2.13:
- Q1: "latest" is by (event_time, unique id) total order, not file order
  (the reference's pandas ``agg('last')`` depends on CSV row order).
- Q2: the avg/latest loyalty columns are mapped correctly (the reference's
  MultiIndex rename swaps them).

Output schema mirrors the reference feature group
(/root/reference/core/feature_store_manager.py:85-92):
    key, event_time(max), latest_<v> , avg_<v> per value column.

Scale: a single groupBy shuffle on the key. "latest" values ride the same
aggregation via one max(struct(time, id, values...)) — no second window
pass over the input, no join between an agg branch and a window branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_store_test_spark.functions import dec_ticks_sql, tick_sums_sql, tick_total_sql


def engineer_features(
    df: DataFrame,
    key: str,
    event_time: str,
    value_cols: list[str],
    tiebreak: str,
) -> DataFrame:
    """Per-key snapshot features: latest value + running mean per value column.

    ``tiebreak`` is a unique column ordering rows within equal timestamps,
    making "latest" deterministic under any shuffle (SURVEY §2.13 Q1).
    Each value column is summed exactly as decimal(18,2) (the fixtures'
    values are 2-dp money), so the sum is the same in any partition order.
    The average is then that sum as a double divided by the row count,
    rounded with ``round(double, 6)``. That rounding is not exact-decimal:
    at an exact 6-dp tie of the true mean (counts like 32 or 80) Spark
    rounds the double's decimal rendering half-up, and q16's DuckDB oracle
    can round about one key per 500k rows the other way.
    """
    # ONE struct-max carries the timestamp and every latest_<v> at once:
    # max(struct(ts, tiebreak, v1, v2, ...)) is lexicographic on the
    # (unique) (ts, tiebreak) prefix, so its trailing fields are exactly
    # max_by(v, (ts, tiebreak)) for each v, and its leading field is
    # max(ts). The money ticks are pre-projected once (see tick_sums_sql).
    pre = df.selectExpr(
        f"`{key}`",
        f"`{event_time}`",
        f"`{tiebreak}`",
        *[f"`{v}`" for v in value_cols],
        *[f"{dec_ticks_sql(f'`{v}`', 2)} AS `__t_{v}`" for v in value_cols],
    )
    struct_cols = ", ".join(
        [f"`{event_time}`", f"`{tiebreak}`", *[f"`{v}`" for v in value_cols]]
    )
    aggs = [
        F.expr(f"max(struct({struct_cols}))").alias("__latest"),
        F.expr("count(1)").alias("__n"),
    ]
    out = [f"`{key}`", f"__latest.`{event_time}` AS `{event_time}`"]
    for v in value_cols:
        hi, lo = tick_sums_sql(f"`__t_{v}`")
        aggs += [F.expr(hi).alias(f"__t_{v}_hi"), F.expr(lo).alias(f"__t_{v}_lo")]
        total = tick_total_sql(f"`__t_{v}_hi`", f"`__t_{v}_lo`", 2)
        out.append(f"__latest.`{v}` AS `latest_{v}`")
        out.append(f"round(({total} / __n), 6) AS `avg_{v}`")
    return pre.groupBy(key).agg(*aggs).selectExpr(*out)
