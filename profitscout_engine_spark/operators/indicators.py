"""Exponentially-weighted indicators (SURVEY §2.5 W2): EMA, RSI, MACD.

The one indicator family with no native Spark window form (EWM is a
recursive kernel). Policy per SURVEY §7.3: pin pandas semantics by computing
inside ``applyInPandas`` — Arrow-batched, one group per entity, embarrassingly
parallel across entities. Entities are high-cardinality (tickers/users), so
group state is a single series that fits executor memory at any total scale.

Semantics pinned to the reference's pandas usage (enrichment-trigger
technicals, main.py:333-348): ``ewm(span=n, adjust=True)`` for EMA,
Wilder-style ``ewm(alpha=1/n, adjust=False)`` smoothing for RSI, MACD =
EMA12 − EMA26 with EMA9 signal (``adjust=False``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EMA_SPAN = 21
RSI_N = 14
# Rows per block of ema_weighted_sum's rescaled closed form.
EMA_SEGMENT = 1000


def ewm_indicator_frame(
    bars: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    order_id: str = "event_id",
    close: str = "close",
) -> DataFrame:
    """Per-entity EWM indicator block: ema (EMA_SPAN), rsi (RSI_N), macd,
    macd_signal.

    One ``applyInPandas`` over groups of ``key``; within each group the series
    is sorted by (ts, order_id) and indicators computed with pandas EWM
    (identical to the reference's pandas_ta outputs for these kernels).
    """
    import pandas as pd

    schema = (
        f"{key} long, {order_id} long, ema double, rsi double, "
        "macd double, macd_signal double"
    )

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts, order_id])
        c = pdf[close]
        ema = c.ewm(span=EMA_SPAN, adjust=True).mean()

        delta = c.diff()
        gain = delta.clip(lower=0.0)
        loss = (-delta).clip(lower=0.0)
        avg_gain = gain.ewm(alpha=1.0 / RSI_N, adjust=False).mean()
        avg_loss = loss.ewm(alpha=1.0 / RSI_N, adjust=False).mean()
        rs = avg_gain / avg_loss
        rsi = 100.0 - 100.0 / (1.0 + rs)
        rsi = rsi.where(avg_loss > 0, 100.0).where(~(delta.isna()), None)

        ema12 = c.ewm(span=12, adjust=False).mean()
        ema26 = c.ewm(span=26, adjust=False).mean()
        macd = ema12 - ema26
        signal = macd.ewm(span=9, adjust=False).mean()

        return pd.DataFrame(
            {
                key: pdf[key],
                order_id: pdf[order_id],
                "ema": ema,
                "rsi": rsi,
                "macd": macd,
                "macd_signal": signal,
            }
        )

    # Explicit hash repartition on the group key: AQE's byte-based
    # partition coalescing would merge this small-by-bytes shuffle into
    # one partition and serialize all the (CPU-heavy) Python groups onto
    # a single core. A user-requested repartition is exempt from
    # coalescing, so the pandas stage keeps full parallelism.
    par = bars.sparkSession.sparkContext.defaultParallelism
    return bars.repartition(par, key).groupBy(key).applyInPandas(compute, schema)


def ema_weighted_sum(
    bars: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    order_id: str = "event_id",
    close: str = "close",
) -> DataFrame:
    """Segment-rescaled closed-form EMA (adjust=True, span EMA_SPAN) — pure
    window algebra, numerically valid at ANY series length (no Python in
    the row path).

    The naive factorization ``ema_t = Σ x_i·d^(t-i) / Σ d^(t-i)`` with
    running sums of ``x_i·d^(-i)`` overflows once ``d^(-i)`` exceeds double
    range (~10k rows at span 21). Rescaled form: rows are cut into
    EMA_SEGMENT-row blocks per entity, so within-block exponents stay
    ≤ EMA_SEGMENT (bounded); each block's tail influence is folded across
    blocks SEQUENTIALLY with the recurrence ``N_s = d^len_s·(T_s + N_{s-1})``
    over the per-entity block array — an ``aggregate()`` lambda on ~n/1000
    rows of state, no overflow at any depth, still zero Python. The
    denominator collapses to the exact closed form ``(1-d^t)/(1-d)``.

    Attenuation floor: a term EMA_SEGMENT rows back is weighted d^1000
    (~1e-41 at span 21) — far below double epsilon relative to recent
    terms, so the rescaled sum agrees with pandas ``ewm(span, adjust=True)``
    to ~1e-12 relative at any length (property-tested at 50k rows).
    NULL closes are not supported (weights would still advance).
    """
    from pyspark.sql.window import Window

    alpha = 2.0 / (EMA_SPAN + 1.0)
    d = 1.0 - alpha
    w_order = Window.partitionBy(key).orderBy(ts, order_id)
    rows = (
        bars.withColumn("_rn", F.row_number().over(w_order))
        .withColumn("_seg", ((F.col("_rn") - 1) / EMA_SEGMENT).cast("int"))
        .withColumn("_m", F.col("_rn") - F.col("_seg") * EMA_SEGMENT)  # 1..EMA_SEGMENT
        .withColumn("_term", F.col(close) * F.pow(F.lit(d), -F.col("_m")))
    )
    # Within-block running numerator: d^m · Σ_{i≤m} x_i·d^(-i)
    w_seg = (
        Window.partitionBy(key, "_seg")
        .orderBy(ts, order_id)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rows = rows.withColumn(
        "_local_num", F.pow(F.lit(d), F.col("_m")) * F.sum("_term").over(w_seg)
    )
    # Cross-block carry: N_{s-1} = fold over blocks 0..s-1 of
    # N = d^len · (T + N_prev); per-entity block array is tiny (n/EMA_SEGMENT).
    segs = rows.groupBy(key, "_seg").agg(
        F.sum("_term").alias("_t"), F.count("*").alias("_len")
    )
    seg_arr = segs.groupBy(key).agg(
        F.array_sort(F.collect_list(F.struct("_seg", "_t", "_len"))).alias("_arr")
    )
    carries = seg_arr.select(
        key,
        F.explode(
            F.expr(
                f"transform(_arr, (e, j) -> struct(e._seg AS _seg, "
                f"aggregate(slice(_arr, 1, j), 0D, "
                f"(acc, p) -> pow({d!r}D, p._len) * (p._t + acc)) AS _carry))"
            )
        ).alias("_c"),
    ).select(key, F.col("_c._seg").alias("_seg"), F.col("_c._carry").alias("_carry"))
    den = (1.0 - F.pow(F.lit(d), F.col("_rn"))) / alpha
    return (
        rows.join(carries, [key, "_seg"])
        .withColumn(
            "ema",
            (F.col("_local_num") + F.pow(F.lit(d), F.col("_m")) * F.col("_carry")) / den,
        )
        .drop("_rn", "_seg", "_m", "_term", "_local_num", "_carry")
    )
