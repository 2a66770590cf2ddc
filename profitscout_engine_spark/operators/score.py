"""Scoring ladders + cluster boost (SURVEY §2 J2, §2.8 conditional ladders).

The reference scores each ticker with ~100 lines of imperative threshold
branching (overnight_scanner.py:569-672) and then boosts scores when several
tickers in the same (industry, direction) cluster qualify
(overnight_scanner.py:239-292: group-count + join-back + conditional update).

Spark-first shape: the ladder is a pure Column expression (codegen'd, no UDF);
the cluster boost is a tiny aggregate joined back — the counts side is
|industries × directions| rows, so the join-back is a broadcast join and adds
no shuffle of the fact side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..exprs import clamp, step_ladder

# Cluster-boost ladder from the reference's semantics: 8+ peers → +3,
# 5-7 → +2, 4 → +1 (overnight_scanner.py:279-287), score clamped to 10.
CLUSTER_BOOST_STEPS = ((8.0, 3), (5.0, 2), (4.0, 1))
SCORE_CAP = 10.0
# Rows scoring at least this qualify for, and count towards, a cluster boost.
CLUSTER_MIN_SCORE = 3


def flow_score(
    call_notional: Column,
    put_notional: Column,
    call_active: Column,
    put_active: Column,
    call_uoa: Column,
    put_uoa: Column,
) -> tuple[Column, Column]:
    """(direction, score) from pivoted per-side flow metrics.

    A deterministic additive ladder in the shape of the reference's scorer:
    dominance of one side's notional, breadth (active strikes), and unusual
    depth each add points; direction follows the dominant side.
    """
    c_n = F.coalesce(call_notional, F.lit(0.0))
    p_n = F.coalesce(put_notional, F.lit(0.0))
    c_u = F.coalesce(call_uoa, F.lit(0.0))
    p_u = F.coalesce(put_uoa, F.lit(0.0))

    bullish = c_n >= p_n
    direction = F.when(bullish, F.lit("BULLISH")).otherwise(F.lit("BEARISH"))

    dom_n = F.when(bullish, c_n).otherwise(p_n)
    sub_n = F.when(bullish, p_n).otherwise(c_n)
    dom_active = F.when(bullish, call_active).otherwise(put_active)
    dom_uoa = F.when(bullish, c_u).otherwise(p_u)
    sub_uoa = F.when(bullish, p_u).otherwise(c_u)

    score = (
        F.when(dom_n > sub_n * 3.0, F.lit(3))
        .when(dom_n > sub_n * 2.0, F.lit(2))
        .when(dom_n > sub_n * 1.5, F.lit(1))
        .otherwise(F.lit(0))
        + F.when(dom_active >= 8, F.lit(3))
        .when(dom_active >= 5, F.lit(2))
        .when(dom_active >= 3, F.lit(1))
        .otherwise(F.lit(0))
        + F.when(dom_uoa > sub_uoa * 2.0, F.lit(2))
        .when(dom_uoa > sub_uoa, F.lit(1))
        .otherwise(F.lit(0))
    )
    return direction, score.cast("int")


def apply_cluster_boost(
    scored: DataFrame,
    cluster_keys: list[str],
    score_col: str = "score",
) -> DataFrame:
    """J2 — count qualifying rows per cluster, join counts back, boost.

    Emits ``cluster_size``, ``cluster_boost``, ``original_score`` and the
    boosted (clamped) ``score``. The counts frame is tiny → Spark broadcasts
    it; the fact side never shuffles.
    """
    counts = (
        scored.filter(F.col(score_col) >= CLUSTER_MIN_SCORE)
        .groupBy(*cluster_keys)
        .agg(F.count("*").alias("cluster_size"))
    )
    boosted = scored.join(F.broadcast(counts), cluster_keys, "left").withColumn(
        "cluster_size", F.coalesce(F.col("cluster_size"), F.lit(0))
    )
    boost = F.when(
        F.col(score_col) >= CLUSTER_MIN_SCORE,
        step_ladder(F.col("cluster_size").cast("double"), CLUSTER_BOOST_STEPS),
    ).otherwise(F.lit(0))
    return (
        boosted.withColumn("cluster_boost", boost)
        .withColumn("original_score", F.col(score_col))
        .withColumn(
            score_col,
            clamp(
                (F.col(score_col) + F.col("cluster_boost")).cast("double"), 0.0, SCORE_CAP
            ).cast("int"),
        )
    )
