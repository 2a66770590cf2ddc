"""Per-group flow metrics — the scanner aggregation kernel (SURVEY §2.4 A1-A4).

The reference walks an options chain per ticker in Python, summing per-side
dollar volume, counting "active strikes", accumulating unusual-activity depth,
and arg-maxing a contract score (overnight_scanner.py:364-501). Here the
whole kernel is ONE hash aggregation with conditional aggregates — map-side
partial aggregation keeps the shuffle to |groups| rows, and at 100 TB the
group key (entity id) is high-cardinality so the agg parallelizes evenly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def side_flow_metrics(
    chain: DataFrame,
    key: str,
    side: Column,
    call_side: str,
    notional: Column,
    volume: Column,
    strike_id: Column,
    active_threshold: Column,
    uoa_baseline: Column,
) -> DataFrame:
    """Aggregate a contract-level frame to one row per ``key`` with per-side
    (call/put) flow metrics, pivoted into columns.

    - A1 per-side notional SUM (``call_dollar_vol`` / ``put_dollar_vol``)
    - A2 conditional COUNT of distinct active strikes (volume above threshold)
    - A3 conditional SUM of unusual-activity depth (excess volume × notional)

    All conditions are `when()` expressions inside one groupBy — a single
    shuffle, pivot expressed as conditional aggregation (no second shuffle a
    `.pivot()` against an unknown domain would need).
    """
    is_call = side == F.lit(call_side)
    over = volume > active_threshold
    excess = volume > uoa_baseline

    def per_side(cond: Column, agg: Column) -> Column:
        return F.when(cond, agg)

    return chain.groupBy(key).agg(
        F.sum(per_side(is_call, notional)).alias("call_dollar_vol"),
        F.sum(per_side(~is_call, notional)).alias("put_dollar_vol"),
        F.count_distinct(per_side(is_call & over, strike_id)).alias("call_active_strikes"),
        F.count_distinct(per_side(~is_call & over, strike_id)).alias("put_active_strikes"),
        F.sum(per_side(is_call & excess, (volume - uoa_baseline) * notional)).alias(
            "call_uoa_depth"
        ),
        F.sum(per_side(~is_call & excess, (volume - uoa_baseline) * notional)).alias(
            "put_uoa_depth"
        ),
        F.sum(per_side(is_call, volume)).alias("call_volume"),
        F.sum(per_side(~is_call, volume)).alias("put_volume"),
    )


def argmin_nearest(df: DataFrame, key: str, target: Column, distance: Column, value: Column,
                   value_name: str) -> DataFrame:
    """A4 — per group, the ``value`` of the row minimizing ``distance`` to
    ``target`` (ATM-IV pattern): ``min_by`` with a deterministic tie-break.

    ``min_by(value, struct(distance, value))`` makes ties resolve on the value
    itself, so the result is engine-independent.
    """
    _ = target  # distance is already derived from target by the caller
    return df.groupBy(key).agg(
        F.min_by(value, F.struct(distance, value)).alias(value_name)
    )
