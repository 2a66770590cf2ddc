"""EWM indicators, Monte Carlo, and event-time window queries
(SURVEY §2.5 W2/W14, §2.9 streaming-window extensions).

- ``ewm_ema`` / ``rsi_macd``: recursive EWM kernels — Arrow
  ``applyInPandas`` (pandas semantics) on the Spark side, closed-form
  weighted-sum window algebra as the DuckDB oracle (adjust=True for the
  EMA, seeded adjust=False forms for Wilder RSI and MACD/signal). Two
  independent formulations agreeing to 4dp IS the W2 correctness check;
  pytest additionally pins the kernel against hand-computed pandas.
- ``monte_carlo_paths``: md5-hash draws make the whole simulation
  replayable by the oracle (same running log-sum, left-to-right);
  reproducibility/partition-independence pinned in pytest too.
- ``tumbling_window_agg`` / ``session_windows``: native event-time windows
  on the batch path, oracle-checked; the streaming twin runs the same
  aggregation through Structured Streaming (tests assert parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import r2, r4
from ..operators.indicators import ewm_indicator_frame
from . import query
from ._util import t


def _close_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.col("value").alias("close")
    )


# --- W2: EMA via applyInPandas, oracled by closed-form window algebra ---------
@query(
    "ewm_ema",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    terms AS (
        SELECT user_id, event_id,
               value * POWER(1.0 - 2.0/22.0, -rn) AS num_term,
               POWER(1.0 - 2.0/22.0, -rn) AS den_term,
               rn
        FROM ordered
    )
    SELECT event_id,
           ROUND(SUM(num_term) OVER w / SUM(den_term) OVER w, 4) AS ema_21
    FROM terms
    WINDOW w AS (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING)
    """,
    tags=("W2",),
)
def ewm_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMA-21 (pandas ewm(span=21, adjust=True)) per entity series."""
    bars = _close_bars(spark, sf_dir)
    ind = ewm_indicator_frame(bars, key="user_id", ts="ts", order_id="event_id", close="close")
    return ind.select("event_id", r4(F.col("ema")).alias("ema_21"))


# --- W2 (recursive kernels): RSI + MACD ---------------------------------------
def _rsi_macd_oracle() -> str:
    """Closed form of pandas ``ewm(alpha, adjust=False)`` seeded at the
    first defined row s of each sub-series:

        e_t = d^(t-s)·x_s + a·Σ_{i=s+1..t} d^(t-i)·x_i
            = d^(t-s)·x_s + a·d^t·S_t,   S_t = Σ_{i>s} x_i·d^(-i)

    applied four times (gain/loss at s=2; close under span 12/26 at s=1;
    then span-9 over the derived macd series). Exponents are bounded by
    per-entity series length — fine at oracle scale."""
    d14, d12, d26, d9 = 13.0 / 14.0, 11.0 / 13.0, 25.0 / 27.0, 0.8
    return f"""
    WITH ordered AS (
        SELECT user_id, event_id, value AS c,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    delta AS (
        SELECT user_id, event_id, c, rn,
               c - LAG(c) OVER (PARTITION BY user_id ORDER BY rn) AS dlt
        FROM ordered
    ),
    terms AS (
        SELECT user_id, event_id, c, rn, dlt,
               greatest(dlt, 0.0) AS g, greatest(-dlt, 0.0) AS l,
               CASE WHEN rn <= 2 THEN 0.0
                    ELSE greatest(dlt, 0.0) * POWER({d14}, -rn) END AS gterm,
               CASE WHEN rn <= 2 THEN 0.0
                    ELSE greatest(-dlt, 0.0) * POWER({d14}, -rn) END AS lterm,
               CASE WHEN rn <= 1 THEN 0.0 ELSE c * POWER({d12}, -rn) END AS t12,
               CASE WHEN rn <= 1 THEN 0.0 ELSE c * POWER({d26}, -rn) END AS t26,
               NTH_VALUE(greatest(dlt, 0.0), 2) OVER wf AS g2,
               NTH_VALUE(greatest(-dlt, 0.0), 2) OVER wf AS l2,
               FIRST_VALUE(c) OVER wf AS c1
        FROM delta
        WINDOW wf AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ),
    ema AS (
        SELECT user_id, event_id, rn, dlt,
               POWER({d14}, rn - 2) * g2
                   + {1.0 / 14.0} * POWER({d14}, rn) * SUM(gterm) OVER w AS ag,
               POWER({d14}, rn - 2) * l2
                   + {1.0 / 14.0} * POWER({d14}, rn) * SUM(lterm) OVER w AS al,
               (POWER({d12}, rn - 1) * c1
                   + {2.0 / 13.0} * POWER({d12}, rn) * SUM(t12) OVER w)
               - (POWER({d26}, rn - 1) * c1
                   + {2.0 / 27.0} * POWER({d26}, rn) * SUM(t26) OVER w) AS macd
        FROM terms
        WINDOW w AS (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING)
    ),
    sig AS (
        SELECT user_id, event_id, rn, dlt, ag, al, macd,
               CASE WHEN rn <= 1 THEN 0.0 ELSE macd * POWER({d9}, -rn) END AS tsig,
               FIRST_VALUE(macd) OVER (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS m1
        FROM ema
    )
    SELECT event_id,
           CASE WHEN dlt IS NULL THEN NULL
                WHEN al > 0 THEN ROUND(100.0 - 100.0 / (1.0 + ag / al), 4)
                ELSE 100.0 END AS rsi_14,
           ROUND(macd, 4) AS macd,
           ROUND(POWER({d9}, rn - 1) * m1
                 + {2.0 / 10.0} * POWER({d9}, rn) * SUM(tsig) OVER w, 4) AS macd_signal
    FROM sig
    WINDOW w AS (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING)
    """


@query("rsi_macd", oracle=_rsi_macd_oracle(), tags=("W2",))
def rsi_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilder RSI-14 + MACD(12,26,9) — recursive EWMs computed by the
    Arrow pandas kernel on the Spark side and replayed by the DuckDB
    oracle as closed-form ``adjust=False`` window algebra (seeded at the
    first defined row of each sub-series). Two independent formulations
    agreeing to 4dp IS the correctness check — the same contract ewm_ema
    established for ``adjust=True``; pytest additionally pins the kernel
    against hand-computed pandas."""
    bars = _close_bars(spark, sf_dir)
    ind = ewm_indicator_frame(bars, key="user_id", ts="ts", order_id="event_id", close="close")
    return ind.select(
        "event_id",
        r4(F.col("rsi")).alias("rsi_14"),
        r4(F.col("macd")).alias("macd"),
        r4(F.col("macd_signal")).alias("macd_signal"),
    )


# --- W14: Monte Carlo (seeded, partition-independent, oracle-replayable) ------
def _mc_oracle() -> str:
    """The full simulation replayed in DuckDB: same bracket-exit pool
    (reusing that query's oracle as a CTE), same md5 draw indices, same
    left-to-right running log-sum — the rows-only contract upgraded to a
    value oracle once the draws moved to the shared md5 primitive."""
    from ..operators.montecarlo import md5_draw_expr
    from . import REGISTRY, execution  # noqa: F401  (registers bracket oracle)

    bracket = REGISTRY["bracket_exit_scan"].oracle
    draw = md5_draw_expr("strpos", 42)
    return f"""
    WITH pool0 AS (SELECT trade_id, realized_return_pct FROM ({bracket}) b),
    pool AS (
        SELECT ROW_NUMBER() OVER (ORDER BY trade_id) - 1 AS _idx,
               realized_return_pct / 100.0 AS _ret
        FROM pool0
    ),
    n AS (SELECT COUNT(*) AS _n FROM pool),
    grid AS (SELECT g.range AS sim_id, q.range AS seq
             FROM range(0, 1000) g, range(1, 41) q),
    drawn AS (SELECT sim_id, seq, {draw} % _n AS _idx FROM grid CROSS JOIN n),
    j AS (SELECT d.sim_id, d.seq, p._ret FROM drawn d JOIN pool p ON d._idx = p._idx),
    path AS (
        SELECT sim_id, seq,
               10000.0 * exp(SUM(ln(1.0 + 0.075 * _ret)) OVER (
                   PARTITION BY sim_id ORDER BY seq ROWS UNBOUNDED PRECEDING)) AS capital
        FROM j
    ),
    pk AS (
        SELECT sim_id, seq, capital,
               greatest(MAX(capital) OVER (
                   PARTITION BY sim_id ORDER BY seq ROWS UNBOUNDED PRECEDING),
                   10000.0) AS peak
        FROM path
    )
    SELECT sim_id,
           ROUND(arg_max(capital, seq), 2) AS final_capital,
           ROUND(MAX((peak - capital) / peak), 4) AS max_drawdown,
           MIN(capital) < 5000.0 AS ruined
    FROM pk GROUP BY sim_id
    """


@query("monte_carlo_paths", oracle=_mc_oracle(), tags=("W14",))
def monte_carlo_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1,000 bootstrap lifetimes over the empirical bracket-exit return
    pool. The pool stays a DataFrame end-to-end (no collect — the sim
    grid resolves hash-indexed draws via a broadcast join), and draws are
    md5-derived, so results are identical across runs AND partition
    layouts — and exactly replayable by the DuckDB oracle (both engines
    run the same running log-sum left-to-right). Reproducibility is
    additionally asserted in pytest."""
    from ..operators.montecarlo import simulate_paths_pooled
    from .execution import bracket_exit_scan

    pool_df = bracket_exit_scan(spark, sf_dir).select("trade_id", "realized_return_pct")
    sims = simulate_paths_pooled(
        pool_df,
        return_col="realized_return_pct",
        order_col="trade_id",
        n_sims=1000,
        trades_per_sim=40,
        seed=42,
    )
    return sims.select(
        "sim_id",
        r2(F.col("final_capital")).alias("final_capital"),
        r4(F.col("max_drawdown")).alias("max_drawdown"),
        "ruined",
    )


# --- streaming-window extension: tumbling event-time window -------------------
@query(
    "tumbling_window_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "A1"),
)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native tumbling window (batch path; the streaming twin runs the same
    plan through readStream — see streaming/ and its parity test)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), r2(F.sum("value")).alias("total_value"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n", "total_value")
    )


# --- custom stateful streaming: incremental per-user totals -------------------
@query(
    "stateful_user_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState incremental aggregation driven to completion:
    the final per-key GroupState must equal the batch groupBy — the
    'process each row once' incremental-backfill contract, oracle-checked."""
    from ..streaming.stateful import run_stateful_totals

    out = run_stateful_totals(spark, sf_dir)
    return out.select("user_id", "n_events", r2(F.col("total_value")).alias("total_value"))


# --- streaming-window extension: session windows (30-min gap) -----------------
@query(
    "session_windows",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    numbered AS (
        SELECT user_id, ts, value,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM numbered
    GROUP BY user_id, sess_id
    """,
    tags=("streaming", "session"),
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window(ts, 30 min) per user — sessionization the engine gets
    natively; oracle reconstructs it as gaps-and-islands."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), r2(F.sum("value")).alias("total_value"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


# --- streaming-window extension: sliding (hopping) event-time window ----------
@query(
    "sliding_window_rate",
    oracle="""
    WITH b AS (
        SELECT CAST(to_timestamp((CAST(floor(epoch(ts)) AS BIGINT) // 1800) * 1800)
                    AS TIMESTAMP) AS bucket,
               event_type, value
        FROM events
    ),
    member AS (
        SELECT bucket AS window_start, event_type, value FROM b
        UNION ALL
        SELECT bucket - INTERVAL 30 MINUTE, event_type, value FROM b
    )
    SELECT window_start,
           window_start + INTERVAL 60 MINUTE AS window_end,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value,
           ROUND(COUNT(*) / 60.0, 4) AS events_per_min
    FROM member
    GROUP BY window_start, event_type
    """,
    tags=("streaming", "W-sliding"),
)
def sliding_window_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) event-time window — 1-hour windows advancing every
    30 minutes, the smoothing form a rate/alerting dashboard uses where
    tumbling windows would alias bursts at bucket edges. Native
    ``F.window(ts, '1 hour', '30 minutes')``: each event lands in exactly
    width/slide = 2 windows; Spark expands membership BEFORE the shuffle,
    so the cost is 2× the tumbling agg, not a self-join. The oracle
    replays the same membership by epoch-floor bucketing each event to
    its slide bucket and the one before. In a true stream this plan runs
    under a watermark with identical results (the batch/stream parity
    contract pinned for the tumbling twin in tests/test_streaming.py)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), r2(F.sum("value")).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
            r4(F.col("n") / F.lit(60.0)).alias("events_per_min"),
        )
    )


# --- monitoring: CUSUM drift detection per entity -----------------------------
CUSUM_H = 3.0  # alarm threshold in standardized units


@query(
    "cusum_drift",
    oracle=f"""
    WITH stats AS (
        SELECT user_id,
               SUM(value) / COUNT(*) AS mu,
               sqrt((SUM(value * value) - SUM(value) * SUM(value) / COUNT(*))
                    / (COUNT(*) - 1)) AS sigma
        FROM events
        GROUP BY user_id
        HAVING COUNT(*) >= 2
    ),
    walk AS (
        SELECT e.user_id, e.event_id,
               SUM((e.value - s.mu) / NULLIF(s.sigma, 0E0))
                   OVER (PARTITION BY e.user_id
                         ORDER BY e.ts, e.event_id
                         ROWS UNBOUNDED PRECEDING) AS cusum
        FROM events e JOIN stats s ON s.user_id = e.user_id
    )
    SELECT user_id, event_id, ROUND(cusum, 4) AS cusum,
           abs(cusum) > {CUSUM_H}E0 AS is_alarm
    FROM walk
    """,
    tags=("timeseries", "monitoring", "W5"),
)
def cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift walk per entity — the classic change-point monitor: a
    running sum of standardized deviations that stays near zero under a
    stable mean and ramps linearly once the level shifts. Per-entity
    moments come from ONE aggregation (explicit sum/sumsq, the
    beta_to_market moment-sum pattern), broadcast back; the walk itself
    is an ordered per-entity running-sum window — both engines
    accumulate in the identical (ts, event_id) order, so the float path
    is the same sequence of IEEE adds. Zero-variance entities are
    guarded to NULL by NULLIF per the division trap rule; singleton
    entities drop at the HAVING."""
    ev = t(spark, sf_dir, "events")
    stats = ev.groupBy("user_id").agg(
        F.sum("value").alias("s1"),
        F.sum(F.col("value") * F.col("value")).alias("s2"),
        F.count("*").alias("n"),
    ).where(F.col("n") >= 2).select(
        "user_id",
        (F.col("s1") / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sigma"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walk = ev.join(stats, "user_id").select(
        "user_id",
        "event_id",
        "ts",
        F.sum(
            (F.col("value") - F.col("mu")) / F.nullif(F.col("sigma"), F.lit(0.0))
        ).over(w).alias("cusum"),
    )
    return walk.select(
        "user_id",
        "event_id",
        r4(F.col("cusum")).alias("cusum"),
        (F.abs(F.col("cusum")) > F.lit(CUSUM_H)).alias("is_alarm"),
    )


# --- robust smoothing: rolling order-statistic median --------------------------
ROLLMED_WINDOW = 11  # current row + 10 preceding


@query(
    "rolling_median_value",
    oracle=f"""
    WITH walk AS (
        SELECT user_id, event_id, value,
               list_sort(list(value) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id
                                           ROWS BETWEEN {ROLLMED_WINDOW - 1} PRECEDING
                                           AND CURRENT ROW)) AS buf
        FROM events
    )
    SELECT user_id, event_id,
           CAST(len(buf) AS BIGINT) AS n_window,
           buf[(len(buf) + 1) // 2] AS rolling_median
    FROM walk
    """,
    tags=("timeseries", "W1", "robust-stats"),
)
def rolling_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling MEDIAN per entity — the robust twin of the SMA (W1): one
    outlier tick poisons a rolling mean for the whole window, while the
    order-statistic median shrugs it off. Spark has no native rolling
    percentile, but for a BOUNDED window the exact form is pure Column
    algebra: collect the frame into an array, sort, index the lower
    middle (a type-1 order statistic — no interpolation arithmetic to
    drift cross-engine). Window state is capped at {ROLLMED_WINDOW}
    values per row on both engines, so memory is O(window), not O(n) —
    the same bounded-buffer a streaming implementation keeps. The
    fixture's doubles pass through untouched (no rounding needed:
    both engines pick the identical stored value)."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ROLLMED_WINDOW - 1), 0)
    )
    buf = F.sort_array(F.collect_list("value").over(w))
    n = F.size(buf)
    return ev.select(
        "user_id",
        "event_id",
        n.cast("long").alias("n_window"),
        F.element_at(buf, ((n + 1) / 2).cast("int")).alias("rolling_median"),
    )


# --- Markov transition matrix over per-entity event sequences ------------------
@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type AS from_type, event_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_type), 4) AS p
    FROM trans
    """,
    tags=("timeseries", "markov", "W8"),
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-entity event
    sequences — the behavioral model behind next-action prediction and
    anomaly scoring (a transition with p near zero is the anomaly).
    One lag window per entity (same per-user ordered partition every
    sequence query here shuffles on — co-partitionable at scale), a
    transition-count aggregate of at most |types|² rows, and row
    normalization as a percent-of-total window over that tiny matrix.
    The integer counts make the probabilities exact ratios, stable-
    rounded identically on both engines."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("from_type")
    ).where(F.col("from_type").isNotNull())
    trans = seq.groupBy(
        "from_type", F.col("event_type").alias("to_type")
    ).agg(F.count("*").alias("n"))
    wrow = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        "n",
        r4(F.col("n") * F.lit(1.0) / F.sum("n").over(wrow)).alias("p"),
    )


# --- multiplicative seasonality profile ----------------------------------------
@query(
    "seasonality_index",
    oracle="""
    WITH hourly AS (
        SELECT event_type,
               CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS hr,
               CAST(COUNT(*) AS BIGINT) AS n,
               -- integral micro-units before the sum: a float group-sum
               -- accumulates in engine-specific order and the 4dp-rounded
               -- mean flips at 2x group sizes (replica-sweep trap)
               CAST(SUM(CAST(round(value * 1000000E0) AS BIGINT)) AS BIGINT) AS s
        FROM events
        GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, CAST(SUM(n) AS BIGINT) AS tn,
               CAST(SUM(s) AS BIGINT) AS ts_ FROM hourly GROUP BY 1
    )
    SELECT h.event_type, h.hr, h.n,
           ROUND(h.s / 1000000E0 / h.n, 4) AS hour_mean,
           ROUND((h.s / 1000000E0 / h.n) / (t.ts_ / 1000000E0 / t.tn), 4)
               AS seasonal_index
    FROM hourly h JOIN tot t ON t.event_type = h.event_type
    """,
    tags=("timeseries", "seasonality", "A1"),
)
def seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative seasonality profile — each (type, hour-of-day)
    cell's mean as a ratio to the type's overall mean; index > 1 marks
    the hot hours a capacity planner staffs for and a forecaster
    multiplies into the trend. ONE aggregation produces the hourly
    moment sums; the per-type totals come from re-aggregating those 24
    rows, never a second fact scan — the two-level rollup shape that
    stays one shuffle at any scale. Ratio-of-ratios evaluates on the
    identical sums in both engines, then stable-rounds."""
    ev = t(spark, sf_dir, "events")
    # integral micro-units before the sum (2x-replica trap: float group
    # sums accumulate in engine-specific order, 4dp means flip)
    hourly = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hr")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 1000000).cast("long")).alias("s"),
    )
    tot = hourly.groupBy("event_type").agg(
        F.sum("n").alias("tn"), F.sum("s").alias("ts_")
    )
    um = F.lit(1000000.0)
    return hourly.join(tot, "event_type").select(
        "event_type",
        "hr",
        "n",
        r4(F.col("s") / um / F.col("n")).alias("hour_mean"),
        r4(
            (F.col("s") / um / F.col("n")) / (F.col("ts_") / um / F.col("tn"))
        ).alias("seasonal_index"),
    )


# --- per-entity OLS trend fit ---------------------------------------------------
@query(
    "trend_fit_ols",
    oracle="""
    WITH seq AS (
        SELECT user_id, value AS y,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS DOUBLE) AS x
        FROM events
    ),
    m AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
        FROM seq GROUP BY user_id
        HAVING COUNT(*) >= 3
    )
    SELECT user_id, n,
           ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0E0), 4) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0E0) * sx) / n,
                 4) AS intercept,
           ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0E0), 4)
               AS r_squared
    FROM m
    """,
    tags=("timeseries", "trend", "A9"),
)
def trend_fit_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity OLS trend — slope/intercept/R² of value against the
    observation index, closing the forecasting trio (seasonality_index
    for the cycle, ewm_ema for the level, this for the trend). The
    regressor is the per-entity ROW NUMBER cast to double: its sums are
    integer-valued doubles, exact under any accumulation order, so only
    the y-moments carry float rounding — absorbed by the stable-rounded
    outputs (the beta_to_market moment-sum contract). One window for
    the index, ONE aggregation for all five moments, closed-form
    normal equations; zero-variance regressors/responses NULL-guarded.
    At 100 TB this is a per-key reduction — no iteration, no solver."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("value").alias("y"),
        F.row_number().over(w).cast("double").alias("x"),
    )
    m = (
        seq.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        .where(F.col("n") >= 3)
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / F.nullif(denx, F.lit(0.0))
    return m.select(
        "user_id",
        "n",
        r4(slope).alias("slope"),
        r4((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
        r4(num * num / F.nullif(denx * deny, F.lit(0.0))).alias("r_squared"),
    )


# --- streaming extension: stream-static dimension enrichment ------------------
@query(
    "stream_static_enrich",
    oracle="""
    SELECT date_trunc('hour', e.ts) AS window_start,
           c.c_mktsegment AS segment,
           COUNT(*) AS n,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
    tags=("streaming", "J1"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join run through the REAL streaming engine: events
    stream ⋈ static customer dim per micro-batch, windowed segment
    rollup in complete mode (see streaming.run_stream_static_enrich).
    The oracle is the batch equivalence — the final complete-mode table
    must equal the one-shot join+group-by, proving the per-batch dim
    join and incremental window state compose to the batch answer."""
    from ..streaming import run_stream_static_enrich

    out = run_stream_static_enrich(spark, sf_dir)
    return out.select(
        F.col("win.start").alias("window_start"),
        F.col("c_mktsegment").alias("segment"),
        "n",
        r2(F.col("total_value")).alias("total_value"),
    )


# --- CEP: MATCH_RECOGNIZE-style sequence pattern over sessions ----------------
SEQ_GAP_MIN = 30
SEQ_FUNNEL_RE = "v+c+p"  # browse (1+), click (1+), then purchase — contiguous


@query(
    "sequence_pattern_match",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL {SEQ_GAP_MIN} MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    numbered AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    ),
    sessions AS (
        SELECT user_id, sess_id,
               MIN(ts) AS session_start,
               COUNT(*) AS n_events,
               string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
                   AS seq
        FROM numbered
        GROUP BY user_id, sess_id
    )
    SELECT user_id, session_start, n_events, seq,
           regexp_matches(seq, '{SEQ_FUNNEL_RE}') AS matched_funnel,
           contains(seq, 'e') AS had_error
    FROM sessions
    """,
    tags=("cep", "match-recognize", "session"),
)
def sequence_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style complex-event pattern matching, expressed
    relationally: sessionize each user's stream (30-min gaps-and-islands),
    compress every session to its ORDERED event-initial string (one
    character per event, sorted by (ts, event_id) — a total order, so
    both engines build the identical string), then run the pattern as a
    plain regex over that string — 'v+c+p' is views, then clicks, then a
    purchase, contiguous, the CEP funnel with NO intervening noise that
    the anchored-min funnel (funnel_stages) cannot express.

    This is the standard Spark answer to SQL:2016 MATCH_RECOGNIZE (which
    Catalyst lacks): fold the sequence dimension into a value, then
    pattern-match values. One shuffle to sessionize, one aggregation per
    session; the regex evaluates in the scan stage of a bounded
    per-session table. Event strings are bounded by session length —
    at 100 TB sessions stay human-sized while users/rows scale out."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Exact-microsecond gap test: the fixture's timestamps carry
    # sub-second precision, and a seconds-truncating cast("long") puts a
    # pair that straddles the boundary by microseconds on the wrong side
    # of the oracle's exact INTERVAL compare (bit at sf0.1 — one split).
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(wo))
            >= SEQ_GAP_MIN * 60 * 1_000_000,
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "sess_id",
        F.sum("new_sess").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sessions = (
        numbered.groupBy("user_id", "sess_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count("*").alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "ts", "event_id",
                                F.substring("event_type", 1, 1).alias("i"),
                            )
                        )
                    ),
                    lambda x: x["i"],
                ),
                "",
            ).alias("seq"),
        )
    )
    return sessions.select(
        "user_id",
        "session_start",
        "n_events",
        "seq",
        (F.regexp_count("seq", F.lit(SEQ_FUNNEL_RE)) > 0).alias("matched_funnel"),
        F.col("seq").contains("e").alias("had_error"),
    )


# --- autocorrelation function of the hourly event series ----------------------
ACF_MAX_LAG = 24


@query(
    "autocorrelation_acf",
    oracle=f"""
    WITH bounds AS (
        SELECT CAST(floor(epoch(MIN(ts)) / 3600) AS BIGINT) AS h0,
               CAST(floor(epoch(MAX(ts)) / 3600) AS BIGINT) AS h1
        FROM events
    ),
    c AS (
        SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) - bounds.h0 AS tt,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events, bounds GROUP BY 1
    ),
    stats AS (
        SELECT CAST(SUM(y) AS BIGINT) AS s,
               CAST(SUM(y * y) AS BIGINT) AS ss,
               (SELECT h1 - h0 + 1 FROM bounds) AS n
        FROM c
    ),
    lags AS (SELECT unnest(range(1, {ACF_MAX_LAG} + 1)) AS k),
    p AS (
        SELECT l.k, CAST(COALESCE(SUM(a.y * b.y), 0) AS BIGINT) AS pk
        FROM lags l
        LEFT JOIN c a ON TRUE
        JOIN c b ON b.tt = a.tt + l.k
        GROUP BY l.k
    ),
    head_cut AS (
        SELECT l.k, CAST(COALESCE(SUM(c.y), 0) AS BIGINT) AS tail_y
        FROM lags l LEFT JOIN c ON c.tt > (SELECT n - 1 FROM stats) - l.k
        GROUP BY l.k
    ),
    tail_cut AS (
        SELECT l.k, CAST(COALESCE(SUM(c.y), 0) AS BIGINT) AS head_y
        FROM lags l LEFT JOIN c ON c.tt < l.k
        GROUP BY l.k
    )
    SELECT p.k AS lag_hours,
           ROUND(
             (pk - (s * 1.0E0 / n) * ((s - hc.tail_y) + (s - tc.head_y))
                 + (n - p.k) * (s * 1.0E0 / n) * (s * 1.0E0 / n))
             / (ss - n * (s * 1.0E0 / n) * (s * 1.0E0 / n)), 4) AS acf
    FROM p JOIN head_cut hc ON hc.k = p.k JOIN tail_cut tc ON tc.k = p.k, stats
    ORDER BY lag_hours
    """,
    tags=("timeseries", "acf", "seasonality"),
)
def autocorrelation_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the hourly event-count series at lags
    1..24 — the statistic that puts a NUMBER on the daily cycle the
    seasonality index displays (a peak at lag 24 = diurnal rhythm).
    Zero-filled spine handled WITHOUT materializing empty hours: every
    moment the estimator needs decomposes into integer sums over the
    nonzero hours only — lag products Σy_t·y_{t+k} (zeros contribute
    nothing), boundary corrections from the head/tail cuts, and the
    global S/SS/n — so the engine never builds or shuffles the dense
    calendar. All inputs to the float expression are exact BIGINTs and
    the expression tree is identical text on both engines, so the
    doubles agree bit-for-bit. Scale shape: one hour-bucket aggregation
    of the fact (map-side combined), then everything is arithmetic on
    a bounded (hours × 24) frame."""
    ev = t(spark, sf_dir, "events")
    hr = (F.floor(F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long"))
    bounds = ev.agg(
        F.min(hr).alias("h0"), F.max(hr).alias("h1")
    )
    c = (
        ev.select(hr.alias("habs"))
        .join(F.broadcast(bounds))
        .groupBy((F.col("habs") - F.col("h0")).alias("tt"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    stats = (
        c.agg(
            F.sum("y").cast("long").alias("s"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("ss"),
        )
        .join(F.broadcast(bounds))
        .select("s", "ss", (F.col("h1") - F.col("h0") + 1).alias("n"))
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("k"))
    a = c.select(F.col("tt").alias("ta"), F.col("y").alias("ya"))
    b = c.select(F.col("tt").alias("tb"), F.col("y").alias("yb"))
    p = (
        F.broadcast(lags)
        .join(a)
        .join(b, F.col("tb") == F.col("ta") + F.col("k"))
        .groupBy("k")
        .agg(F.coalesce(F.sum(F.col("ya") * F.col("yb")), F.lit(0)).cast("long").alias("pk"))
    )
    hc = (
        F.broadcast(lags)
        .join(F.broadcast(stats))
        .join(c, F.col("tt") > F.col("n") - 1 - F.col("k"), "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("y"), F.lit(0)).cast("long").alias("tail_y"))
    )
    tc = (
        F.broadcast(lags)
        .join(c, F.col("tt") < F.col("k"), "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("y"), F.lit(0)).cast("long").alias("head_y"))
    )
    mean = F.col("s") * F.lit(1.0) / F.col("n")
    num = (
        F.col("pk")
        - mean * ((F.col("s") - F.col("tail_y")) + (F.col("s") - F.col("head_y")))
        + (F.col("n") - F.col("k")) * mean * mean
    )
    den = F.col("ss") - F.col("n") * mean * mean
    return (
        p.join(hc, "k")
        .join(tc, "k")
        .join(F.broadcast(stats))
        .select(F.col("k").alias("lag_hours"), r4(num / den).alias("acf"))
        .orderBy("lag_hours")
    )


# --- seasonal anomaly detection: hour-of-day median/MAD baseline --------------
SEAS_K = 1.4826  # MAD -> sigma consistency constant (normal kernel)
SEAS_Z = 3.0


@query(
    "seasonal_anomaly",
    oracle=f"""
    WITH c AS (
        SELECT event_type, date_trunc('hour', ts) AS window_start,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ),
    hod AS (
        SELECT *, CAST(EXTRACT(HOUR FROM window_start) AS BIGINT) AS h FROM c
    ),
    med AS (
        SELECT event_type, h, median(y) AS med_y FROM hod GROUP BY 1, 2
    ),
    dev AS (
        SELECT hod.*, med.med_y, abs(hod.y - med.med_y) AS adev
        FROM hod JOIN med USING (event_type, h)
    ),
    mad AS (
        SELECT event_type, h, median(adev) AS mad_y FROM dev GROUP BY 1, 2
    )
    SELECT dev.event_type, dev.window_start, dev.y,
           ROUND(dev.med_y, 1) AS med_y,
           ROUND((dev.y - dev.med_y)
                 / ({SEAS_K}E0 * NULLIF(mad.mad_y, 0E0)), 4) AS robust_z
    FROM dev JOIN mad USING (event_type, h)
    WHERE mad.mad_y > 0E0
      AND dev.adev > {SEAS_Z}E0 * {SEAS_K}E0 * mad.mad_y
    """,
    tags=("timeseries", "anomaly", "robust-stats"),
)
def seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly detection: each (event_type,
    hour-of-day) cell learns a robust baseline — exact median and MAD
    of its historical hourly counts — and hours deviating more than
    3 robust sigmas flag as anomalies. The hour-of-day conditioning is
    what separates 'traffic spike' from 'it's always busy at 14:00',
    and median/MAD survives the outliers being hunted (the
    mad_outliers contract applied along the time axis). Counts are
    integers, medians follow the cross-engine interpolation contract,
    and zero-MAD cells are guarded per the division trap rule. Scale
    shape: one hour-bucket aggregation of the fact, then all statistics
    live on the bounded (type × 24) baseline joined back broadcast."""
    ev = t(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("window_start")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    hod = c.withColumn("h", F.hour("window_start").cast("long"))
    med = hod.groupBy("event_type", "h").agg(
        F.expr("percentile(y, 0.5)").alias("med_y")
    )
    dev = hod.join(F.broadcast(med), ["event_type", "h"]).withColumn(
        "adev", F.abs(F.col("y") - F.col("med_y"))
    )
    mad = dev.groupBy("event_type", "h").agg(
        F.expr("percentile(adev, 0.5)").alias("mad_y")
    )
    return (
        dev.join(F.broadcast(mad), ["event_type", "h"])
        .where(
            (F.col("mad_y") > 0.0)
            & (F.col("adev") > F.lit(SEAS_Z) * F.lit(SEAS_K) * F.col("mad_y"))
        )
        .select(
            "event_type",
            "window_start",
            "y",
            F.round(F.col("med_y"), 1).alias("med_y"),
            r4(
                (F.col("y") - F.col("med_y"))
                / (F.lit(SEAS_K) * F.nullif(F.col("mad_y"), F.lit(0.0)))
            ).alias("robust_z"),
        )
    )


# --- streaming CUSUM monitor: the in-stream twin of cusum_drift ---------------
@query(
    "stream_cusum_monitor",
    oracle=f"""
    WITH stats AS (
        SELECT user_id,
               SUM(value) / COUNT(*) AS mu,
               sqrt((SUM(value * value) - SUM(value) * SUM(value) / COUNT(*))
                    / (COUNT(*) - 1)) AS sigma
        FROM events
        GROUP BY user_id
        HAVING COUNT(*) >= 2
    ),
    walk AS (
        SELECT e.user_id, e.ts, e.event_id,
               SUM((e.value - s.mu) / NULLIF(s.sigma, 0E0))
                   OVER (PARTITION BY e.user_id
                         ORDER BY e.ts, e.event_id
                         ROWS UNBOUNDED PRECEDING) AS cusum
        FROM events e JOIN stats s ON s.user_id = e.user_id
    ),
    lastrow AS (
        SELECT user_id, cusum,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM walk
    )
    SELECT w.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND((SELECT l.cusum FROM lastrow l
                  WHERE l.user_id = w.user_id AND l.rn = 1), 4) AS final_cusum,
           ROUND(MAX(ABS(w.cusum)), 4) AS max_abs_cusum,
           (MAX(CASE WHEN ABS(w.cusum) > {CUSUM_H}E0 THEN 1 ELSE 0 END) = 1)
               AS alarmed
    FROM walk w
    GROUP BY w.user_id
    """,
    tags=("timeseries", "monitoring", "streaming", "stateful"),
)
def stream_cusum_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity CUSUM drift monitoring run IN the stream — the
    deployment shape of `cusum_drift`: the baseline (per-user mu/sigma
    from the training window) is a static frame joined into the event
    stream per micro-batch, and an applyInPandasWithState kernel keyed
    by user carries (walk position, running max, alarm flag) as
    GroupState — fixed-size state per entity, the standardized walk
    never materializes. Rows standardize and accumulate in strict
    (ts, event_id) order inside the kernel, the same sequential order
    the batch window uses, so the streamed walk is bit-identical to the
    batch one (the oracle proves it: final position, running max and
    alarm flag all value-match). Python appears only in the licensed
    pandas state kernel."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..streaming import BOUNDED_STATE_PARTITIONS, run_to_memory, stream_events

    ev = t(spark, sf_dir, "events")
    stats = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("sv"),
            F.sum(F.col("value") * F.col("value")).alias("svv"),
        )
        .where(F.col("n") >= 2)
        .select(
            "user_id",
            (F.col("sv") / F.col("n")).alias("mu"),
            F.sqrt(
                (F.col("svv") - F.col("sv") * F.col("sv") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("sigma"),
        )
    )
    stream = stream_events(spark, sf_dir, with_watermark=None).select(
        "user_id", "ts", "event_id", "value"
    )
    joined = stream.join(F.broadcast(stats), "user_id").select(
        "user_id",
        "ts",
        "event_id",
        ((F.col("value") - F.col("mu")) / F.nullif(F.col("sigma"), F.lit(0.0))).alias("z"),
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            n_seen, cusum, mx, alarmed = state.get
        else:
            n_seen, cusum, mx, alarmed = 0, 0.0, 0.0, False
        rows = []
        for pdf in pdfs:
            rows.extend(zip(pdf["ts"], pdf["event_id"], pdf["z"]))
        for _, _, z in sorted(rows, key=lambda r: (r[0], r[1])):
            cusum = cusum + float(z)
            a = abs(cusum)
            if a > mx:
                mx = a
            if a > CUSUM_H:
                alarmed = True
            n_seen += 1
        state.update((int(n_seen), float(cusum), float(mx), bool(alarmed)))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_seen": [n_seen],
                "final_cusum": [cusum],
                "max_abs_cusum": [mx],
                "alarmed": [alarmed],
            }
        )

    out = joined.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, n_seen long, final_cusum double, "
            "max_abs_cusum double, alarmed boolean"
        ),
        stateStructType="n_seen long, cusum double, mx double, alarmed boolean",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = run_to_memory(out, "update", BOUNDED_STATE_PARTITIONS)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_seen"))
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("n_seen").alias("n_events"),
            r4(F.col("final_cusum")).alias("final_cusum"),
            r4(F.col("max_abs_cusum")).alias("max_abs_cusum"),
            "alarmed",
        )
    )


# --- watermark late-data audit: drop accounting under out-of-order ingest -----
WM_DELAY_MS = 1_800_000  # 30-minute watermark
WM_SLICES = 5


def _wm_audit_oracle() -> str:
    return f"""
    WITH ordered AS (
        SELECT ts,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
                   AS r,
               COUNT(*) OVER () AS n
        FROM events
    ),
    sliced AS (
        SELECT ts,
               CASE WHEN r <= n * 1 // {WM_SLICES} THEN 0
                    WHEN r <= n * 2 // {WM_SLICES} THEN 1
                    WHEN r <= n * 3 // {WM_SLICES} THEN 2
                    WHEN r <= n * 4 // {WM_SLICES} THEN 3
                    ELSE 4 END AS slice
        FROM ordered
    ),
    batchmax AS (
        SELECT slice, MAX(epoch_us(ts) // 1000) AS max_ms
        FROM sliced GROUP BY slice
    ),
    wm AS (
        SELECT slice,
               (MAX(max_ms) OVER (ORDER BY slice
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
                - {WM_DELAY_MS}) * 1000 AS wm_prev_us,
               (MAX(max_ms) OVER () - {WM_DELAY_MS}) * 1000 AS final_wm_us
        FROM batchmax
    ),
    rows_tagged AS (
        SELECT s.ts,
               date_trunc('hour', s.ts) AS window_start,
               (epoch_us(date_trunc('hour', s.ts)) + 3600000000::BIGINT) AS win_end_us,
               w.wm_prev_us, w.final_wm_us
        FROM sliced s JOIN wm w USING (slice)
    )
    SELECT window_start,
           CAST(COUNT(*) FILTER (WHERE wm_prev_us IS NULL
                                    OR win_end_us > wm_prev_us) AS BIGINT)
               AS n_on_time,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) FILTER (WHERE wm_prev_us IS NOT NULL
                                   AND win_end_us <= wm_prev_us) AS BIGINT)
               AS n_late_dropped
    FROM rows_tagged
    GROUP BY window_start, final_wm_us
    HAVING win_end_us <= final_wm_us
       AND COUNT(*) FILTER (WHERE wm_prev_us IS NULL OR win_end_us > wm_prev_us) > 0
    """


@query(
    "stream_watermark_late_audit",
    oracle=_wm_audit_oracle().replace(
        "HAVING win_end_us <= final_wm_us",
        "HAVING MAX(win_end_us) <= MAX(final_wm_us)",
    ),
    tags=("streaming", "watermark", "late-data"),
)
def stream_watermark_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark SEMANTICS made auditable: events arrive deterministically
    out of order (5 ingest slices in md5(event_id) order — event time
    scattered across batches), a 30-min watermark gates a 1-hour tumbling
    count in APPEND mode, and the result joins the streamed counts
    against the batch truth to report, per emitted window, how many rows
    the watermark dropped as late.

    The oracle REPLAYS the engine's watermark protocol exactly — including
    the subtlety that Spark keeps TWO watermarks per batch: the EVICTION
    watermark (ms-floored max event time over batches < k, minus delay)
    closes windows, while the LATE-EVENT filter uses the PREVIOUS batch's
    watermark (batches < k-1) — discovered empirically here: batch 1
    drops nothing even though its eviction watermark is already live. A
    row is dropped iff its window end ≤ the late-event watermark of its
    arrival batch; a window is emitted iff its end ≤ the final eviction
    watermark (the post-stream no-data batch evicts it). Streamed counts therefore equal
    kept-row counts — this query is the machine-checked specification of
    Spark's late-data rule, and the scale story is the whole point of
    watermarks: state is bounded by the watermark horizon, not the
    stream's history.
    """
    from ..streaming import (
        BOUNDED_STATE_PARTITIONS,
        run_to_memory,
        stream_events_shuffled,
    )

    ev = stream_events_shuffled(spark, sf_dir, n_files=WM_SLICES).withWatermark(
        "ts", "30 minutes"
    )
    agg = ev.groupBy(F.window("ts", "1 hour").alias("win")).agg(
        F.count("*").alias("n_on_time")
    )
    # The stateful exchange's partition count cannot alter which rows are
    # late: the watermark trajectory (batch boundaries, slice order) is fixed
    # by the staged slices.
    sink = run_to_memory(
        agg.select(F.col("win.start").alias("window_start"), "n_on_time"),
        "append",
        BOUNDED_STATE_PARTITIONS,
    )
    # Sum the sink by window_start: a row landing in the one-batch gap
    # (window end <= eviction watermark but > late-filter watermark) AFTER
    # its window was evicted re-creates state and appends a SECOND sink row
    # for the same window — the kept-row total is split across the two
    # emissions, so the audit aggregates emissions before joining totals.
    streamed = sink.groupBy("window_start").agg(
        F.sum("n_on_time").alias("n_on_time")
    )
    totals = (
        t(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"))
        .agg(F.count("*").cast("long").alias("n_total"))
    )
    return streamed.join(totals, "window_start").select(
        "window_start",
        F.col("n_on_time").cast("long").alias("n_on_time"),
        "n_total",
        (F.col("n_total") - F.col("n_on_time")).cast("long").alias("n_late_dropped"),
    )


# --- clickstream path mining: top session 3-grams -----------------------------
@query(
    "session_path_ngrams",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
    ),
    numbered AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sess_id
        FROM flagged
    ),
    grams AS (
        SELECT event_type AS e1,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM numbered
        WINDOW w AS (PARTITION BY user_id, sess_id ORDER BY ts, event_id)
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM grams WHERE e3 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT 20
    """,
    tags=("clickstream", "ngram", "W8"),
)
def session_path_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 within-session event-type 3-grams — the clickstream path-
    mining staple (what do users DO in a session, in order). Sessionize
    by 30-min gap (gaps-and-islands, same contract as session_windows),
    LEAD twice within (user, session) on the (ts, event_id) total order,
    count paths globally. Two windows share one (user_id) shuffle and the
    path count is a bounded-cardinality aggregate (|event_types|³ keys),
    so the global top-k is a broadcastable final step at any corpus size.
    """
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact µs arithmetic: an INTERVAL compare in the oracle must pair with
    # unix_micros here, never a seconds/double cast (NOTES.md trap — pairs
    # straddling the gap boundary by microseconds flip otherwise)
    flagged = ev.withColumn(
        "new_sess",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w_ord)
            >= 1_800_000_000
        ).cast("int"),
    ).withColumn(
        "new_sess", F.coalesce("new_sess", F.lit(0))
    )
    numbered = flagged.withColumn(
        "sess_id",
        F.sum("new_sess").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
    )
    w_sess = Window.partitionBy("user_id", "sess_id").orderBy("ts", "event_id")
    grams = numbered.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w_sess).alias("e2"),
        F.lead("event_type", 2).over(w_sess).alias("e3"),
    ).where(F.col("e3").isNotNull())
    return (
        grams.select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(20)
    )


# --- sliding distinct users (DAU/WAU-style stickiness, hourly grain) ----------
@query(
    "sliding_distinct_users",
    oracle="""
    WITH ph AS (
        SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM events
    ),
    bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM ph),
    contrib AS (
        SELECT DISTINCT user_id, h + to_hours(i) AS target
        FROM ph, unnest(generate_series(0, 23)) AS u(i)
    ),
    w24 AS (
        SELECT c.target AS hour, CAST(COUNT(DISTINCT c.user_id) AS BIGINT)
                   AS users_24h
        FROM contrib c, bounds b
        WHERE c.target >= b.h0 AND c.target <= b.h1
        GROUP BY c.target
    ),
    w1 AS (
        SELECT h AS hour, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users_1h
        FROM ph GROUP BY h
    )
    SELECT w24.hour, COALESCE(w1.users_1h, 0) AS users_1h, w24.users_24h,
           ROUND(COALESCE(w1.users_1h, 0) * 1.0E0 / w24.users_24h, 4)
               AS stickiness
    FROM w24 LEFT JOIN w1 ON w1.hour = w24.hour
    """,
    tags=("streaming", "A19", "sliding-distinct"),
)
def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly active users against the 24-hour sliding distinct-user
    count, plus the DAU/WAU-style stickiness ratio — the standard
    engagement metric a sliding COUNT(DISTINCT) window cannot express
    directly (distinct doesn't decompose over window frames). The scale
    rewrite: reduce to the DISTINCT (user, hour) presence table first,
    then each presence CONTRIBUTES to the 24 following hour buckets (a
    bounded ×24 explode) and a plain distinct count per bucket finishes
    the job — two shuffles on presence-sized data, never a per-row
    window over the raw firehose.
    """
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    )
    ph = ev.distinct()
    bounds = ph.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    # r11 (guide §2.4 — a distinct on already-unique data is a wasted
    # exchange): the bounds filter runs BEFORE the (user, target) dedup so
    # the dedup shuffle carries only in-range rows, and both bucket counts
    # are plain COUNT(*) over sets that are distinct BY CONSTRUCTION —
    # contrib after .distinct() is unique on (user_id, target) and ph is
    # unique on (user_id, h), so countDistinct's second dedup aggregation
    # (one more exchange each) computed the identical number.
    contrib = (
        ph.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(23))).alias("i"),
            "h",
        )
        .select(
            "user_id",
            F.expr("h + make_interval(0, 0, 0, 0, i, 0, 0)").alias("target"),
        )
        .crossJoin(F.broadcast(bounds))
        .where((F.col("target") >= F.col("h0")) & (F.col("target") <= F.col("h1")))
        .select("user_id", "target")
        .distinct()
    )
    w24 = contrib.groupBy(F.col("target").alias("hour")).agg(
        F.count(F.lit(1)).cast("long").alias("users_24h")
    )
    w1 = ph.groupBy(F.col("h").alias("hour")).agg(
        F.count(F.lit(1)).cast("long").alias("users_1h")
    )
    return w24.join(w1, "hour", "left").select(
        "hour",
        F.coalesce("users_1h", F.lit(0)).cast("long").alias("users_1h"),
        "users_24h",
        r4(F.coalesce("users_1h", F.lit(0)) / F.col("users_24h")).alias("stickiness"),
    )


# --- changepoint detection: one binary-segmentation step over daily totals ----
@query(
    "changepoint_binseg",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1
    ),
    consts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s
        FROM daily
    ),
    cum AS (
        SELECT day,
               CAST(SUM(cents) OVER (ORDER BY day) AS BIGINT) AS sk,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS k
        FROM daily
    )
    SELECT day AS split_day, k AS k_days,
           ROUND(ABS(CAST(n * sk - k * s AS DOUBLE)) / (n * 100.0E0)
                 / sqrt(CAST(k * (n - k) AS DOUBLE)), 4) AS cusum_stat,
           ROUND(sk / (k * 100.0E0), 2) AS mean_before,
           ROUND((s - sk) / ((n - k) * 100.0E0), 2) AS mean_after
    FROM cum CROSS JOIN consts
    WHERE k < n
    ORDER BY ABS(CAST(n * sk - k * s AS DOUBLE)) / (n * 100.0E0)
             / sqrt(CAST(k * (n - k) AS DOUBLE)) DESC, day
    LIMIT 1
    """,
    tags=("timeseries", "changepoint", "W5"),
)
def changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-shift changepoint estimate — one binary-segmentation step
    (Scott & Knott; the CUSUM statistic of Page 1954) over the daily
    revenue series: the split day maximizing the standardized CUSUM
    |n*S_k - k*S| / (n * sqrt(k(n-k))), reported with the before/after
    daily means the segmenter would recurse on. Day totals are exact
    integer cents (one hash aggregation; the float path is single
    identical IEEE ops over those BIGINTs, inside 2^53). The cumulative
    walk is a window over the DAILY table — bounded by the calendar,
    never the event count (the running_distinct_users precedent) — and
    the argmax is an orderBy().limit(1) TakeOrderedAndProject with a
    day tie-break, not a full sort."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("cents")
    )
    consts = daily.agg(
        F.count("*").cast("long").alias("n"), F.sum("cents").cast("long").alias("s")
    )
    w = Window.orderBy("day")  # bounded: one row per calendar day
    cum = daily.select(
        "day",
        F.sum("cents").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("sk"),
        F.row_number().over(w).cast("long").alias("k"),
    )
    num = (F.col("n") * F.col("sk") - F.col("k") * F.col("s")).cast("double")
    stat = (
        F.abs(num)
        / (F.col("n") * F.lit(100.0))
        / F.sqrt((F.col("k") * (F.col("n") - F.col("k"))).cast("double"))
    )
    return (
        cum.crossJoin(F.broadcast(consts))
        .where(F.col("k") < F.col("n"))
        .orderBy(stat.desc(), F.col("day"))
        .limit(1)
        .select(
            F.col("day").alias("split_day"),
            F.col("k").alias("k_days"),
            r4(stat).alias("cusum_stat"),
            r2(F.col("sk") / (F.col("k") * F.lit(100.0))).alias("mean_before"),
            r2(
                (F.col("s") - F.col("sk"))
                / ((F.col("n") - F.col("k")) * F.lit(100.0))
            ).alias("mean_after"),
        )
    )


# --- lead-lag cross-correlation between two event-type series ------------------
XCORR_MAX_LAG = 3  # lags -3..+3 days


def _xcorr_oracle() -> str:
    return f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN event_type = 'click'
                        THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    lags AS (
        SELECT CAST(i AS INTEGER) AS lag
        FROM UNNEST(range(-{XCORR_MAX_LAG}, {XCORR_MAX_LAG + 1})) AS u(i)
    ),
    pairs AS (
        SELECT lag, a.x AS x, b.y AS y
        FROM daily a CROSS JOIN lags JOIN daily b ON b.day = a.day + lag
    ),
    mom AS (
        SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM pairs GROUP BY 1
    )
    SELECT lag, n AS n_days,
           ROUND(CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                      THEN NULL
                      ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END, 6)
               AS xcorr
    FROM mom
    """


@query(
    "cross_correlation_lags",
    oracle=_xcorr_oracle(),
    tags=("timeseries", "xcorr", "A9"),
)
def cross_correlation_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlogram between the click and purchase daily
    revenue series (lags -3..+3): the attribution-lag diagnostic that
    says how many days clicks lead purchases — the two-series companion
    of ``autocorrelation_acf``. Daily totals are exact integer cents
    from ONE conditional hash aggregation; each lag's Pearson r comes
    from the BIGINT moment form (n*Sxy - Sx*Sy over the product of the
    two sqrt variances, every input exact — valid while n*S stays under
    2^63, true far past these fixtures). The lag fan-out joins the
    CALENDAR-bounded daily table to itself shifted by a 7-row literal
    lag spine — never the event table. NULL where a window has zero
    variance, identically on both engines."""
    ev = t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", cents).otherwise(F.lit(0)))
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", cents).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("y"),
    )
    lags = spark.range(-XCORR_MAX_LAG, XCORR_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.select("day", "x")
    b = daily.select(F.col("day").alias("bday"), "y")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("bday") == F.date_add(F.col("day"), F.col("lag")))
    )
    mom = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    r = F.when(
        (vx == 0) | (vy == 0), F.lit(None).cast("double")
    ).otherwise(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
        / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")))
    )
    from ..exprs import r6

    return mom.select("lag", F.col("n").alias("n_days"), r6(r).alias("xcorr"))
