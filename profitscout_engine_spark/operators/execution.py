"""Execution-simulation kernels (SURVEY §2.3 J5/J6/J9, §2.5 W12/W13).

The reference's hardest operators: as-of joins against bar series
(forward-paper-trader entry resolution, VIX-as-of), the path-dependent
bracket-exit scan (stop/target/timeout, stop-first intrabar rule), and
trading-calendar arithmetic. All are re-expressed as set-oriented Spark
plans:

- As-of joins use the union+ordered-window formulation: ONE shuffle/sort of
  (|left|+|right|) rows per key — no per-row range explosion, no correlated
  subquery. This is the canonical scale-out as-of strategy (also what
  pandas.merge_asof / QuestDB ASOF JOIN do, serially).
- The bracket exit computes the three candidate exit timestamps as
  conditional MIN aggregates over the joined bar window and resolves the
  winner with a when()-ladder whose order encodes the stop-first tie rule.
  Set-oriented: does a bit more per-row work than the reference's sequential
  early-exit walk, but vectorizes and distributes; an ``applyInPandas``
  twin (``bracket_exit_pandas``) exists for differential testing.

Reference behavior (for parity, not code): forward-paper-trader/main.py
entry-bar selection (:261-263), exit walk (:277-318); stop-first intrabar
rule simulate_live_execution.py:246-255; timeout fallback on data
exhaustion run_sweep.py:237-241; VIX as-of main.py:108-111.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    right_tiebreak: str,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the single right row at-or-before
    (``backward``, J6) / at-or-after (``forward``, J5) its timestamp.

    Implementation: tag both sides, union, one ordered window per key, fill
    values with last/first ignoreNulls, keep left rows. One shuffle of
    |L|+|R| rows; per-key state is one row of carried values — the shape
    that survives 100 TB (contrast: a range join explodes |L|×|bars|).

    Ties at equal timestamps are inclusive (right row at exactly left_ts
    matches); among right ties the largest (backward) / smallest (forward)
    ``right_tiebreak`` wins — a total order both engines agree on.
    """
    lcols = [c for c in left.columns]
    l_tagged = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_is_left"),
        F.lit(None).cast("long").alias("_rtie"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_v_{c}") for c in value_cols],
    )
    r_tagged = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_is_left"),
        F.col(right_tiebreak).cast("long").alias("_rtie"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(c).alias(f"_v_{c}") for c in value_cols],
    )
    u = l_tagged.unionByName(r_tagged)

    if direction == "backward":
        # Right rows sort before left rows at the same ts (inclusive <=);
        # later right ties win via ascending _rtie + last().
        w = (
            Window.partitionBy("_k")
            .orderBy(F.col("_ts").asc(), F.col("_is_left").asc(), F.col("_rtie").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        filled = [F.last(f"_v_{c}", ignorenulls=True).over(w).alias(f"asof_{c}") for c in value_cols]
    elif direction == "forward":
        # Left rows sort before right rows at the same ts (inclusive >=);
        # earliest right tie wins via ascending _rtie + first().
        w = (
            Window.partitionBy("_k")
            .orderBy(F.col("_ts").asc(), F.col("_is_left").desc(), F.col("_rtie").asc())
            .rowsBetween(0, Window.unboundedFollowing)
        )
        filled = [
            F.first(f"_v_{c}", ignorenulls=True).over(w).alias(f"asof_{c}") for c in value_cols
        ]
    else:
        raise ValueError(f"direction must be backward|forward, got {direction!r}")

    return u.select(*lcols, "_is_left", *filled).filter(F.col("_is_left") == 1).drop("_is_left")


def bracket_exit(trades: DataFrame, bars: DataFrame, key: str) -> DataFrame:
    """W13 — resolve each trade's exit against its bar path.

    Exit = first of {stop (low<=stop), target (high>=target)} within
    (entry_ts, timeout_ts]; same-bar tie → stop (conservative intrabar
    rule); neither → timeout at the last in-window close (entry price if
    the bar data is exhausted). ``trades`` carries trade_id, entry_ts,
    entry_price, target_price, stop_price and timeout_ts; ``bars`` carries
    ts, high, low and close; both carry ``key``.

    Relational form: the candidate-exit timestamps are conditional MINs over
    one trade⋈bars range join + ONE hash aggregation per trade; the winner
    falls out of the when()-ladder order. Equi-key join first, AQE handles
    skewed entities; the bar frame is never globally sorted.
    """
    tr = trades
    in_window = (F.col("ts") > tr["entry_ts"]) & (F.col("ts") <= tr["timeout_ts"])
    joined = tr.join(bars, (bars[key] == tr[key]) & in_window, "left")

    agg = joined.groupBy(tr["trade_id"].alias("_tid")).agg(
        F.min(F.when(bars["low"] <= tr["stop_price"], bars["ts"])).alias("stop_ts"),
        F.min(F.when(bars["high"] >= tr["target_price"], bars["ts"])).alias("target_ts"),
        F.max_by(bars["close"], bars["ts"]).alias("last_close"),
        F.count(bars["ts"]).alias("n_bars"),
    )
    out = tr.join(agg, tr["trade_id"] == agg["_tid"], "left").drop("_tid")

    stop_hit = F.col("stop_ts").isNotNull() & (
        F.col("target_ts").isNull() | (F.col("stop_ts") <= F.col("target_ts"))
    )
    target_hit = F.col("target_ts").isNotNull()
    exit_reason = (
        F.when(stop_hit, F.lit("stop"))
        .when(target_hit, F.lit("target"))
        .otherwise(F.lit("timeout"))
    )
    exit_ts = (
        F.when(stop_hit, F.col("stop_ts"))
        .when(target_hit, F.col("target_ts"))
        .otherwise(F.col("timeout_ts"))
    )
    exit_price = (
        F.when(stop_hit, F.col("stop_price"))
        .when(target_hit, F.col("target_price"))
        .otherwise(F.coalesce(F.col("last_close"), F.col("entry_price")))
    )
    return (
        out.withColumn("exit_reason", exit_reason)
        .withColumn("exit_ts", exit_ts)
        .withColumn("exit_price", exit_price)
        .withColumn(
            "realized_return_pct",
            (F.col("exit_price") - F.col("entry_price")) / F.col("entry_price") * 100,
        )
    )


def bracket_exit_pandas(
    trades: DataFrame,
    bars: DataFrame,
    key: str,
) -> DataFrame:
    """Differential-test twin of :func:`bracket_exit`: the reference's
    sequential early-exit walk, per entity, inside ``applyInPandas``.
    Same output schema/semantics; used in tests to cross-check the
    relational formulation (SURVEY §7.3 risk register item 1).
    """
    import pandas as pd

    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in trades.schema.fields)
        + ", exit_reason string, exit_ts timestamp, exit_price double,"
        " realized_return_pct double"
    )

    bar_cols = ["ts", "high", "low", "close"]
    trade_cols = list(trades.columns)

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        is_trade = pdf["_side"] == 1
        tr = pdf[is_trade]
        br = pdf[~is_trade].sort_values("ts")
        results = []
        for _, row in tr.iterrows():
            sub = br[(br["ts"] > row["entry_ts"]) & (br["ts"] <= row["timeout_ts"])]
            reason, ets, px = "timeout", row["timeout_ts"], None
            last_close = None
            for _, bar in sub.iterrows():
                last_close = bar["close"]
                if bar["low"] <= row["stop_price"]:  # stop-first intrabar
                    reason, ets, px = "stop", bar["ts"], row["stop_price"]
                    break
                if bar["high"] >= row["target_price"]:
                    reason, ets, px = "target", bar["ts"], row["target_price"]
                    break
            if reason == "timeout":
                px = last_close if last_close is not None else row["entry_price"]
            rec = {c: row[c] for c in trade_cols}
            rec.update(
                exit_reason=reason,
                exit_ts=ets,
                exit_price=px,
                realized_return_pct=(px - row["entry_price"]) / row["entry_price"] * 100,
            )
            results.append(rec)
        cols = trade_cols + [
            "exit_reason",
            "exit_ts",
            "exit_price",
            "realized_return_pct",
        ]
        return pd.DataFrame(results, columns=cols)

    t_side = trades.withColumn("_side", F.lit(1)).withColumn("ts", F.lit(None).cast("timestamp"))
    for c in bar_cols[1:]:
        t_side = t_side.withColumn(c, F.lit(None).cast("double"))
    b_side = bars.withColumn("_side", F.lit(0))
    for c in trades.columns:
        if c not in b_side.columns:
            b_side = b_side.withColumn(c, F.lit(None).cast(dict(trades.dtypes)[c]))
    u = t_side.unionByName(b_side.select(*t_side.columns))
    par = u.sparkSession.sparkContext.defaultParallelism
    return u.repartition(par, key).groupBy(key).applyInPandas(walk, out_schema)


def trading_calendar(dates: DataFrame) -> DataFrame:
    """J9 — trading-day dimension: weekday ``cal_date`` values indexed consecutively.
    Joinable for next-trading-day / Nth-trading-day-offset arithmetic;
    tiny (≤ a few k rows for years of days) → always broadcast.
    """
    weekdays = (
        dates.filter(~F.dayofweek(F.col("cal_date")).isin(1, 7)).select("cal_date").distinct()
    )
    w = Window.orderBy("cal_date")
    return weekdays.withColumn("day_index", F.row_number().over(w))
