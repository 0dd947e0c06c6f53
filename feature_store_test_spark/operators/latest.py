"""Latest-per-key (the online-store "current view" primitive).

Replaces the reference's per-key get_record point reads
(/root/reference/core/feature_store_manager.py:165-168, :184-204) and the
nondeterministic pandas ``groupby().agg('last')``
(/root/reference/core/utils.py:205 — SURVEY.md §2.13 Q1): "latest" here is
always defined by an explicit total order (event time + unique tiebreak),
never by physical row order.

Scale: one hash shuffle on the key. At 100 TB prefer feeding this from a
table partitioned / clustered by the key so the shuffle is avoided
entirely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def latest_per_key_agg(
    df: DataFrame,
    keys: str | list[str],
    max_of: list[str | Column],
) -> DataFrame:
    """Latest-per-key as an AGGREGATION: max_by(whole row, order tuple).

    Same result as a ``row_number()`` ranking window when ``max_of`` is a
    total order (largest tuple = latest), but executes as a hash aggregate
    with map-side partial max — the shuffle carries ONE candidate row per
    key per input partition instead of every row, and no in-partition sort
    happens.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    order_cols = [F.col(c) if isinstance(c, str) else c for c in max_of]
    row = F.struct(*[F.col(c).alias(c) for c in df.columns])
    out = df.groupBy(*keys).agg(
        F.max_by(row, F.struct(*order_cols)).alias("__row")
    )
    return out.select("__row.*")
