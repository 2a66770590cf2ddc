"""Monte Carlo capital-path simulation (SURVEY §2.5 W14).

The reference bootstraps 10k trading lifetimes from an empirical return pool
(np.random.choice, seeded), walking capital sequentially with bet sizing,
ruin detection and drawdown tracking. Spark-first shape:

- the (sim_id × trade_seq) grid is a DataFrame — sims are embarrassingly
  parallel, the sequential dependency is only *within* one sim;
- randomness is **hash-based** (xxhash64 of (sim, seq, seed)), not
  ``rand()``: identical draws regardless of partitioning/retries — the
  reproducibility invariant the reference gets from np.random.seed(42);
- the fixed-fraction path needs no Python at all: capital_t =
  C0·Π(1+f·r_i) = C0·exp(Σ log1p(f·r_i)) → running window SUM; peak/
  drawdown/ruin are running MAX/MIN — all codegen;
- tiered bet sizing (bet depends on current capital) is genuinely
  recursive → ``applyInPandas`` per sim (parallel across sims).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

CAPITAL0 = 10_000.0
BET_FRACTION = 0.075
# Capital below CAPITAL0 * RUIN_LEVEL marks a sim as ruined.
RUIN_LEVEL = 0.5
# Tiered sizing: (capital floor, bet), highest floor first.
BET_TIERS = ((20_000.0, 1000.0), (10_000.0, 750.0), (0.0, 500.0))


def hash_uniform(*cols, seed: int = 42):
    """Deterministic U[0,1) from column values — partition-independent,
    unlike rand(). xxhash64 is a JVM builtin (no Python)."""
    h = F.xxhash64(*cols, F.lit(seed))
    # Map signed 64-bit to [0,1): shift into unsigned range first.
    return (h.cast("double") / F.lit(2.0**64)) + F.lit(0.5)


def md5_draw_expr(instr_fn: str, seed: int) -> str:
    """BIGINT draw from the first 8 hex chars of md5('mc|sim|seq|seed') as
    pure instr arithmetic — the cross-engine randomness primitive (md5 is
    the one hash Spark and DuckDB share), which is what lets the pooled
    Monte Carlo carry a full value oracle. xxhash64 (``hash_uniform``)
    stays the single-engine fast path for the literal-pool variants."""
    h = f"md5(concat('mc|', sim_id, '|', seq, '|{seed}'))"
    terms = " + ".join(
        f"cast(({instr_fn}('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1) as bigint)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"({terms})"


def simulate_paths(
    spark: SparkSession,
    returns_pool: list[float],
    n_sims: int,
    trades_per_sim: int,
    seed: int = 42,
) -> DataFrame:
    """Fixed-fraction Monte Carlo: per-sim final capital, max drawdown, ruin.

    Returns one row per sim. The pool is broadcast as a literal array;
    each (sim, seq) cell samples it by hashed index. Capital path is a
    running log-sum; drawdown a running max — no Python, no sequential
    driver loop, shuffle = one window sort per sim partition.
    """
    pool = F.array(*[F.lit(float(r)) for r in returns_pool])
    n_pool = len(returns_pool)

    grid = (
        spark.range(n_sims)
        .withColumnRenamed("id", "sim_id")
        .select("sim_id", F.explode(F.sequence(F.lit(1), F.lit(trades_per_sim))).alias("seq"))
    )
    # Clamp: xxhash64 values within ~512 ULPs of 2^63 round to u==1.0 when
    # cast to double, which would index one past the pool (~2^-54 per draw).
    draw = F.least(
        F.floor(hash_uniform(F.col("sim_id"), F.col("seq"), seed=seed) * n_pool).cast("int"),
        F.lit(n_pool - 1),
    )
    ret = F.element_at(pool, draw + 1) / 100.0  # pool is in pct

    w = Window.partitionBy("sim_id").orderBy("seq").rowsBetween(Window.unboundedPreceding, 0)
    log_growth = F.log1p(F.lit(BET_FRACTION) * ret)
    path = (
        grid.withColumn("capital", F.lit(CAPITAL0) * F.exp(F.sum(log_growth).over(w)))
        .withColumn("peak", F.greatest(F.max("capital").over(w), F.lit(CAPITAL0)))
        .withColumn("drawdown", (F.col("peak") - F.col("capital")) / F.col("peak"))
    )
    return path.groupBy("sim_id").agg(
        F.max_by("capital", "seq").alias("final_capital"),
        F.max("drawdown").alias("max_drawdown"),
        F.min("capital").alias("min_capital"),
        (F.min("capital") < CAPITAL0 * RUIN_LEVEL).alias("ruined"),
    )


def simulate_paths_tiered(
    spark: SparkSession,
    returns_pool: list[float],
    n_sims: int,
    trades_per_sim: int,
    seed: int = 42,
) -> DataFrame:
    """Tiered-bet Monte Carlo (reference's sniper sizing): bet size depends on
    current capital, so the walk is recursive — ``applyInPandas`` per sim_id,
    parallel across the sim dimension. Same hashed draws as the relational
    variant, so both are reproducible run-over-run."""
    import numpy as np
    import pandas as pd

    grid = (
        spark.range(n_sims)
        .withColumnRenamed("id", "sim_id")
        .select("sim_id", F.explode(F.sequence(F.lit(1), F.lit(trades_per_sim))).alias("seq"))
    )
    draw = F.least(
        F.floor(
            hash_uniform(F.col("sim_id"), F.col("seq"), seed=seed) * len(returns_pool)
        ).cast("int"),
        F.lit(len(returns_pool) - 1),
    )
    pool = F.array(*[F.lit(float(r)) for r in returns_pool])
    drawn = grid.withColumn("ret_pct", F.element_at(pool, draw + 1))

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("seq")
        capital = peak = min_cap = CAPITAL0
        max_dd = 0.0
        for r in pdf["ret_pct"].to_numpy():
            bet = next(b for floor_cap, b in BET_TIERS if capital >= floor_cap)
            bet = min(bet, capital)
            capital += bet * (r / 100.0)
            peak = max(peak, capital)
            max_dd = max(max_dd, (peak - capital) / peak)
            min_cap = min(min_cap, capital)
        return pd.DataFrame(
            {
                "sim_id": [int(pdf["sim_id"].iloc[0])],
                "final_capital": [float(capital)],
                "max_drawdown": [float(max_dd)],
                "min_capital": [float(min_cap)],
                "ruined": [bool(min_cap < CAPITAL0 * RUIN_LEVEL)],
            }
        )

    schema = (
        "sim_id long, final_capital double, max_drawdown double, "
        "min_capital double, ruined boolean"
    )
    _ = np  # numpy import is intentional (to_numpy fast path)
    # Explicit repartition: AQE byte-coalescing would serialize the
    # CPU-bound Python sims onto one core (see indicators.py).
    par = spark.sparkContext.defaultParallelism
    return drawn.repartition(par, "sim_id").groupBy("sim_id").applyInPandas(walk, schema)


def simulate_paths_pooled(
    pool_df: DataFrame,
    return_col: str,
    order_col: str,
    n_sims: int,
    trades_per_sim: int,
    seed: int = 42,
) -> DataFrame:
    """Fixed-fraction Monte Carlo bootstrapping from a DISTRIBUTED pool.

    Unlike :func:`simulate_paths` (literal-array pool), the empirical
    return pool stays a DataFrame end-to-end — no ``collect`` anywhere:
    the pool gets a dense draw index (row_number over a deterministic
    order — the one unpartitioned window here, and a GENUINELY bounded
    one: the pool is an empirical per-strategy trade-return sample,
    sized by the strategy's resolved trade history — hundreds to a few
    thousand returns in the reference's sweeps — not by the corpus, so
    it never grows with the data being simulated), the (sim × seq) grid
    derives its draw as
    ``md5_draw % pool_size`` (pool_size arrives via a 1-row cross join,
    never the driver), and a broadcast equi-join resolves draws to
    returns. At 100 TB the pool is a table; only the index join touches
    it. Draws are md5-based and partition-independent, so results are
    reproducible regardless of cluster layout AND replayable by the
    DuckDB oracle (see queries/timeseries.py::monte_carlo_paths); the
    growth term is ``ln(1 + f·r)`` spelled identically in both engines.
    """
    spark = pool_df.sparkSession
    w_idx = Window.orderBy(order_col)
    pool = pool_df.select(
        (F.row_number().over(w_idx) - 1).alias("_idx"),
        (F.col(return_col) / 100.0).alias("_ret"),
    )
    n_row = pool.agg(F.count("*").alias("_n"))

    grid = (
        spark.range(n_sims)
        .withColumnRenamed("id", "sim_id")
        .select("sim_id", F.explode(F.sequence(F.lit(1), F.lit(trades_per_sim))).alias("seq"))
        .crossJoin(F.broadcast(n_row))
    )
    draw = (F.expr(md5_draw_expr("instr", seed)) % F.col("_n")).cast("int")
    drawn = grid.withColumn("_idx", draw).join(F.broadcast(pool), "_idx")

    w = Window.partitionBy("sim_id").orderBy("seq").rowsBetween(Window.unboundedPreceding, 0)
    log_growth = F.log(F.lit(1.0) + F.lit(BET_FRACTION) * F.col("_ret"))
    path = (
        drawn.withColumn("capital", F.lit(CAPITAL0) * F.exp(F.sum(log_growth).over(w)))
        .withColumn("peak", F.greatest(F.max("capital").over(w), F.lit(CAPITAL0)))
        .withColumn("drawdown", (F.col("peak") - F.col("capital")) / F.col("peak"))
    )
    return path.groupBy("sim_id").agg(
        F.max_by("capital", "seq").alias("final_capital"),
        F.max("drawdown").alias("max_drawdown"),
        F.min("capital").alias("min_capital"),
        (F.min("capital") < CAPITAL0 * RUIN_LEVEL).alias("ruined"),
    )
