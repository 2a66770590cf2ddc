"""Distributed exact ranking without a global sort.

A ``rank().over(Window.orderBy(col))`` with no partition funnels the whole
frame through ONE task — fine for a bounded bin table, fatal for anything
that grows with the data. The scale-safe form of an exact global rank is
the classic range-bucketed decomposition:

1. Assign every row an ordered range-bucket id that is a PURE FUNCTION of
   the key value (bucket boundaries = approximate quantiles, collected
   once to the driver as literals). Purity matters: Spark recomputes a
   subtree per consumer, and a sampling-based ``repartitionByRange`` can
   draw DIFFERENT boundaries for the offsets branch vs the rank branch
   (shuffle-read order is nondeterministic), silently mis-aligning the
   two — observed at sf0.1. A value-deterministic bucket id cannot drift,
   and ties land in one bucket by construction.
2. Per-bucket row counts or sums (<= NUM_BUCKETS rows) -> running prefix
   offsets via a window over the *bucket frame only* (bounded:
   NUM_BUCKETS rows) -> broadcast back.
3. Within-bucket running count or sum — distributed, one sort per range
   slice.
4. global rank or prefix sum = prefix offset + within-bucket value; tie
   counts are purely local by (1), so fractional/average ranks (the
   Spearman treatment) follow with the local tie count.

Boundary quality only affects load balance, never correctness; a
degenerate distribution (all rows one value) collapses to one bucket and
still ranks exactly.

Three kernels carry every operator in this module:

- :func:`_grouped_order_statistics` — the selection kernel (boundaries ->
  counts -> locate -> ``row_number``) behind :func:`order_statistics` and
  the distributed branches of :func:`exact_percentiles` and
  :func:`grouped_exact_percentiles`;
- :func:`_interp_plan` / :func:`_interpolate` — the engines' percentile
  interpolation rule, shared with the bounded-domain strategy
  :func:`grouped_exact_percentiles_discrete`;
- :func:`_prefix_sum` — the prefix-offset kernel behind
  :func:`with_prefix_sum` and :func:`with_avg_rank`.
"""

from __future__ import annotations

import functools
from collections.abc import Callable, Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BKT = "_rank_bkt"

# Range buckets of every decomposition: load balance only, never results.
NUM_BUCKETS = 32

# Stats-gated strategy switch: below this optimizer-estimated input size the
# single-buffer exact percentile()/median() aggregate is both safe and much
# faster (the distributed decomposition pays 3 serial driver round-trips);
# above it the buffer is the 100x OOM and the distributed passes win. Both
# paths produce bit-identical results (pinned by tests/test_ranks.py twins),
# so this is a pure physical-strategy choice — the same call a CBO makes.
PERCENTILE_BUFFER_MAX_BYTES = 256 << 20

# Loud-failure cap on the bounded-domain collect in
# grouped_exact_percentiles_discrete: the caller ASSERTS |groups|·|domain| is
# bounded, but a misjudged domain (a float column, an unbounded id) would
# otherwise OOM the driver silently. 100k (group, value) rows ≈ a few MB.
DISCRETE_COLLECT_MAX_ROWS = 100_000

# percentile_literal_map embeds 2·|groups| literal expressions into the plan;
# Catalyst analysis goes superlinear past ~10^4 map entries. Past this cap the
# caller should join against a small boundary DataFrame (broadcast) instead of
# a literal map.
LITERAL_MAP_MAX_GROUPS = 10_000


def _quoted(col: str) -> str:
    """Backtick-quote an identifier for use inside an F.expr string so the
    fast single-buffer path accepts the same column names (spaces, dots,
    hyphens) the F.col-based distributed path does."""
    return "`" + col.replace("`", "``") + "`"


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's estimated size of the frame (no job). Unknown -> huge,
    so the scale-safe distributed path is the failure default."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 1 << 62


def _as_double(df: DataFrame, key: Column) -> Column:
    """Monotone double image of an orderable key for bucketing purposes
    only (ranks/ties always use the native key). Dates/timestamps map
    through their epoch representation; the session TZ is pinned UTC so
    the TIMESTAMP_NTZ->TIMESTAMP hop is order-preserving."""
    dt = df.select(key.alias("_k")).schema[0].dataType.simpleString()
    if dt == "date":
        return F.unix_date(key).cast("double")
    if dt.startswith("timestamp"):
        return key.cast("timestamp").cast("double")
    return key.cast("double")


def _approx_bounds(dkey: Column) -> Column:
    """Aggregate expression: the NUM_BUCKETS-1 approximate quantiles of
    ``dkey`` that serve as range-bucket boundaries."""
    return F.percentile_approx(
        dkey, F.array(*[F.lit(i / NUM_BUCKETS) for i in range(1, NUM_BUCKETS)])
    )


def _global_boundaries(df: DataFrame, dkey: Column) -> list[float]:
    """One tiny driver round-trip: the 1-row boundary literals shared by
    every branch of a global (ungrouped) decomposition."""
    [row] = df.select(_approx_bounds(dkey).alias("b")).collect()
    return sorted(set(row["b"] or []))


def _bucket_expr(key: Column, boundaries: list[float]) -> Column:
    """Ordered range-bucket id as a pure expression: count of boundaries
    strictly below the key (NULLs -> bucket -1, matching NULLS FIRST)."""
    bucket = functools.reduce(
        lambda acc, b: acc + F.when(key > F.lit(b), 1).otherwise(0),
        boundaries,
        F.lit(0),
    )
    return F.when(key.isNull(), F.lit(-1)).otherwise(bucket)


def group_key(*cols: str) -> Column:
    """The group-key string expression consumers join percentile maps on —
    identical to the key format grouped_exact_percentiles hashes groups
    by (unit-separator-joined string casts)."""
    return F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols])


def _any(conds: list[Column]) -> Column:
    return functools.reduce(lambda a, b: a | b, conds, F.lit(False))


def _grouped_order_statistics(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    positions_for: Callable[[int], Iterable[int]],
) -> tuple[dict[tuple, dict[int, float]], dict[tuple, int]]:
    """The selection kernel: exact values at 1-indexed positions of
    ``col``'s sorted order (nulls excluded) within each group, where
    ``positions_for(n)`` names the positions a group of n rows needs —
    without any single aggregation buffer or single-task sort holding a
    group. ``group_cols=[]`` is the single global group ``()``.

    1. one pass: per-group approx boundary arrays and row counts,
       collected (|groups| rows — the bounded axis — and becoming driver
       literals is what makes the bucket id a pure value function, the
       determinism requirement from the module docstring);
    2. one pass: per-(group, bucket) counts (≤ |groups|·buckets rows)
       locate each position's bucket and local offset on the driver;
    3. one pass: ``row_number`` within (group, bucket) partitions —
       distributed — over ONLY the needed buckets selects the values. Tie
       order within ``row_number`` is arbitrary but irrelevant: the value
       at a sorted position is well-defined regardless.

    Returns ``({group: {position: value}}, {group: n})``, both empty for
    empty or all-NULL input; positions past a group's n are absent. Null
    group keys are not supported. The value projection is persisted
    across the three passes and unpersisted before returning — every
    output is a driver literal, so nothing downstream holds the cached
    plan, and without the cache each pass replays the upstream subtree (a
    join-heavy input made one consumer 15× slower in the round-5 bench)."""
    vals = (
        df.select(
            group_key(*group_cols).alias("_g"),
            *[F.col(g).alias(f"_g{i}") for i, g in enumerate(group_cols)],
            F.col(col).alias("_v"),
            _as_double(df, F.col(col)).alias("_vd"),
        )
        .where(F.col("_v").isNotNull())
        .persist()
    )
    try:
        brows = (
            vals.groupBy("_g")
            .agg(
                _approx_bounds(F.col("_vd")).alias("b"),
                F.count(F.lit(1)).alias("n"),
                *[F.first(f"_g{i}").alias(f"_g{i}") for i in range(len(group_cols))],
            )
            .collect()
        )
        if not brows:
            return {}, {}
        gvals = {
            r["_g"]: tuple(r[f"_g{i}"] for i in range(len(group_cols))) for r in brows
        }
        bmap = F.create_map(
            *[
                x
                for r in brows
                for x in (F.lit(r["_g"]), F.array(*[F.lit(b) for b in sorted(set(r["b"]))]))
            ]
        )
        part = vals.withColumn(
            _BKT, F.size(F.filter(F.element_at(bmap, F.col("_g")), lambda b: b < F.col("_vd")))
        )
        counts: dict[str, list[tuple[int, int]]] = {}
        for r in part.groupBy("_g", _BKT).agg(F.count(F.lit(1)).alias("n")).collect():
            counts.setdefault(r["_g"], []).append((r[_BKT], r["n"]))
        needed: dict[tuple[str, int], dict[int, int]] = {}  # (g,bkt) -> {local: pos}
        for r in brows:
            g, runs = r["_g"], sorted(counts[r["_g"]])
            for pos in sorted(set(positions_for(r["n"]))):
                run = 0
                for bkt, cnt in runs:
                    if pos <= run + cnt:
                        needed.setdefault((g, bkt), {})[pos - run] = pos
                        break
                    run += cnt
        in_bucket = {
            (g, bkt): (F.col("_g") == F.lit(g)) & (F.col(_BKT) == F.lit(bkt))
            for g, bkt in needed
        }
        hits = (
            part.where(_any(list(in_bucket.values())))
            .withColumn("_rn", F.row_number().over(Window.partitionBy("_g", _BKT).orderBy("_v")))
            .where(_any([c & F.col("_rn").isin(list(needed[gb])) for gb, c in in_bucket.items()]))
            .select("_g", _BKT, "_rn", "_v")
            .collect()
        )
        stats: dict[tuple, dict[int, float]] = {gv: {} for gv in gvals.values()}
        for r in hits:
            stats[gvals[r["_g"]]][needed[(r["_g"], r[_BKT])][r["_rn"]]] = float(r["_v"])
        return stats, {gvals[r["_g"]]: r["n"] for r in brows}
    finally:
        vals.unpersist()


def _interp_plan(n: int, probs: list[float]) -> list[tuple[int, int, float, float]]:
    """The ``percentile`` / ``quantile_cont`` interpolation rule for a
    group of n values: per prob, the 1-indexed order statistics (lo, hi)
    around the 0-indexed position p = q*(n-1) and their weights
    (ceil(p)-p, p-floor(p)) — the exact expression tree both Spark's
    Percentile.getPercentile and DuckDB's quantile_cont evaluate; NOT the
    algebraically-equal lo+(hi-lo)*frac or 1-frac, which round differently
    by an ULP for some p (pinned by tests/test_ranks.py)."""
    plan = []
    for q in probs:
        p = q * (n - 1)
        k = int(p)  # floor for non-negative p
        plan.append((k + 1, min(k + 2, n), (k + 1) - p, p - k))
    return plan


def _interpolate(
    plan: list[tuple[int, int, float, float]], at: Callable[[int], float]
) -> list[float]:
    """Evaluate an :func:`_interp_plan` given ``at(position) -> value``.

    Equal-collapse parity: Spark's native percentile() aggregates
    duplicates into (value, count) pairs, so a fractional position
    straddling two EQUAL values returns the value EXACTLY — while the
    naive weighted sum w_lo*x + w_hi*x is an ULP off (bit at the 2x
    replica, where every value is duplicated). Collapse before
    interpolating so every strategy stays bit-identical to the engine."""
    out = []
    for lo, hi, w_lo, w_hi in plan:
        vlo, vhi = at(lo), at(hi)
        out.append(vlo if w_hi <= 0.0 or vlo == vhi else w_lo * vlo + w_hi * vhi)
    return out


def _distributed_percentiles(
    df: DataFrame, group_cols: list[str], col: str, probs: list[float]
) -> dict[tuple, list[float]]:
    """Per-group interpolated percentiles from the selection kernel."""
    stats, n_by_group = _grouped_order_statistics(
        df,
        group_cols,
        col,
        lambda n: [x for lo, hi, _, _ in _interp_plan(n, probs) for x in (lo, hi)],
    )
    return {
        g: _interpolate(_interp_plan(n, probs), stats[g].__getitem__)
        for g, n in n_by_group.items()
    }


def order_statistics(df: DataFrame, col: str, positions: list[int]) -> dict[int, float]:
    """Exact values (cast to double) at the given 1-indexed positions of
    ``col``'s sorted order (nulls excluded) — the no-group case of the
    selection kernel :func:`_grouped_order_statistics`. Positions past
    the row count are absent; empty or all-NULL input returns ``{}``."""
    stats, _ = _grouped_order_statistics(
        df.select(F.col(col).cast("double").alias("v")), [], "v",
        lambda n: positions,
    )
    return stats.get((), {})


def exact_percentiles(df: DataFrame, col: str, probs: list[float]) -> list[float]:
    """Exact linear-interpolated percentiles (the ``percentile`` /
    ``quantile_cont`` contract, :func:`_interp_plan`) of ``col`` cast to
    double, nulls excluded; NaN per prob for empty or all-NULL input.
    Below PERCENTILE_BUFFER_MAX_BYTES one ``percentile()`` aggregate;
    above it distributed order statistics instead of one in-memory sort
    of the whole column."""
    if _plan_size_bytes(df) <= PERCENTILE_BUFFER_MAX_BYTES:
        qlist = ", ".join(repr(q) for q in probs)
        [row] = df.agg(
            F.expr(f"percentile({_quoted(col)}, array({qlist}))").alias("qs")
        ).collect()
        return list(row["qs"]) if row["qs"] is not None else [
            float("nan") for _ in probs
        ]
    res = _distributed_percentiles(
        df.select(F.col(col).cast("double").alias("v")), [], "v", probs
    )
    return res.get((), [float("nan") for _ in probs])


def grouped_exact_percentiles_discrete(
    df: DataFrame, group_cols: list[str], col: str, probs: list[float]
) -> dict[tuple, list[float]]:
    """Exact per-group interpolated percentiles for BOUNDED-DOMAIN columns
    (integer day lags, ages, small code grids — the caller asserts the
    domain, e.g. calendar-bounded): one ``groupBy(group, value).count()``
    aggregation collapses the data to |groups|·|domain| rows, collected,
    and the order statistics fall out of the sorted count runs on the
    driver — no value buffer, no extra passes, exact at any row count.
    Interpolation uses the engine rule (:func:`_interp_plan`).

    The bounded-domain assertion is ENFORCED, not trusted: the collect is
    capped at DISCRETE_COLLECT_MAX_ROWS via limit(cap+1) — a misjudged
    domain (float column, unbounded id) raises loudly instead of OOMing
    the driver silently; the failure message points at
    grouped_exact_percentiles, which handles unbounded domains."""
    cap = DISCRETE_COLLECT_MAX_ROWS
    rows = (
        df.where(F.col(col).isNotNull())
        .groupBy(*group_cols, col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        raise ValueError(
            f"grouped_exact_percentiles_discrete: |groups|x|domain| exceeds "
            f"{cap} rows — column {col!r} is not bounded-domain here; use "
            f"grouped_exact_percentiles (range-bucketed) instead"
        )
    runs: dict[tuple, list[tuple[float, int]]] = {}
    for r in rows:
        runs.setdefault(tuple(r[g] for g in group_cols), []).append(
            (r[col], r["_n"])
        )
    out: dict[tuple, list[float]] = {}
    for key, vc in runs.items():
        vc.sort()
        cum, idx = [], 0
        for v, c in vc:
            idx += c
            cum.append((idx, float(v)))  # value of positions (prev, idx]

        def at(pos: int) -> float:
            for end, v in cum:
                if pos <= end:
                    return v
            return cum[-1][1]

        out[key] = _interpolate(_interp_plan(idx, probs), at)
    return out


def _spark_str(v) -> str:
    """Python-side rendering that MATCHES Spark's cast-to-string for the
    group-key types this module supports, so percentile_literal_map keys
    line up with group_key() lookups. Python ``str()`` silently diverges
    for booleans ("True" vs "true"), floats ("1e-07" vs "1.0E-7") and
    fractional timestamps (Python pads micros to 6 digits, Spark trims
    trailing zeros) — the first two are remapped/rejected here so a
    mismatch raises instead of returning NULL from the map lookup."""
    import datetime

    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        raise TypeError(
            "percentile_literal_map: float group keys are unsupported — "
            "Spark's Double.toString and Python's repr render differently "
            "(1.0E-7 vs 1e-07); cast the group column to string upstream"
        )
    if isinstance(v, datetime.datetime) and v.microsecond:
        raise TypeError(
            "percentile_literal_map: fractional-second timestamp group keys "
            "are unsupported (Spark trims trailing micro zeros, Python pads)"
            "; cast the group column to string upstream"
        )
    return str(v)  # str, int, date, whole-second datetime all match Spark


def percentile_literal_map(
    qs: dict[tuple, list[float]], scalar: bool = False
) -> Column:
    """Literal map from group-key string to percentile payload (array, or
    the first percentile as a scalar when ``scalar``), correctly TYPED
    even when ``qs`` is empty — a bare ``create_map()`` is map<null,null>
    and fails analysis on an empty corpus.

    Keys are rendered with :func:`_spark_str` so they match what
    :func:`group_key` produces Spark-side (boolean/float/fractional-ts
    divergences raise instead of silently missing the lookup). Bounded to
    LITERAL_MAP_MAX_GROUPS entries — past that Catalyst analysis of the
    2·|groups| literal expressions goes superlinear; join a broadcast
    boundary frame instead."""
    if len(qs) > LITERAL_MAP_MAX_GROUPS:
        raise ValueError(
            f"percentile_literal_map: {len(qs)} groups exceeds "
            f"{LITERAL_MAP_MAX_GROUPS} — embed boundaries via a broadcast "
            f"join frame, not a literal map"
        )
    vtype = "double" if scalar else "array<double>"
    if not qs:
        return F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast(f"array<{vtype}>")
        )
    entries: list[Column] = []
    for key, vals in qs.items():
        k = "\x1f".join(_spark_str(v) for v in key)
        entries += [
            F.lit(k),
            F.lit(vals[0]) if scalar else F.array(*[F.lit(v) for v in vals]),
        ]
    return F.create_map(*entries)


def grouped_exact_percentiles(
    df: DataFrame, group_cols: list[str], col: str, probs: list[float]
) -> dict[tuple, list[float]]:
    """Exact per-GROUP interpolated percentiles for the bounded-group /
    huge-rows shape (returnflag, language, priority, scenario, …) —
    WITHOUT Spark's ``percentile()`` aggregate above
    PERCENTILE_BUFFER_MAX_BYTES, whose per-group buffer holds every value
    of the group and OOMs once groups grow with the data. The distributed
    branch is the selection kernel :func:`_grouped_order_statistics`
    followed by driver-side interpolation with the engine rule.

    Returns {group-values-tuple: [percentile per prob]}; ``{}`` for empty
    or all-NULL input. Null group keys are not supported (no consumer
    groups by a nullable key)."""
    if _plan_size_bytes(df) <= PERCENTILE_BUFFER_MAX_BYTES:
        qlist = ", ".join(repr(q) for q in probs)
        rows = (
            df.where(F.col(col).isNotNull())
            .groupBy(*group_cols)
            .agg(F.expr(f"percentile({_quoted(col)}, array({qlist}))").alias("qs"))
            .collect()
        )
        return {
            tuple(r[g] for g in group_cols): list(r["qs"]) for r in rows
        }
    return _distributed_percentiles(df, group_cols, col, probs)


def _prefix_sum(df: DataFrame, key: Column, value: Column, out: str) -> DataFrame:
    """:func:`with_prefix_sum` that keeps the bucket column ``_BKT`` (as
    the first column), so a caller can add windows partitioned by it with
    no further exchange."""
    dkey = _as_double(df, key)
    part = df.withColumn(_BKT, _bucket_expr(dkey, _global_boundaries(df, dkey)))
    # Bounded frame: at most NUM_BUCKETS + 1 rows — the one permissible
    # unpartitioned window in this pattern.
    offsets = (
        part.groupBy(_BKT)
        .agg(F.sum(value).alias("_s"))
        .select(
            _BKT,
            F.coalesce(
                F.sum("_s").over(
                    Window.orderBy(_BKT).rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("_off"),
        )
    )
    return (
        part.withColumn("_run", F.sum(value).over(Window.partitionBy(_BKT).orderBy(key)))
        .join(F.broadcast(offsets), _BKT)
        .withColumn(out, F.col("_off") + F.col("_run"))
        .drop("_run", "_off")
    )


def with_prefix_sum(
    df: DataFrame, key: str | Column, value: str | Column, out: str
) -> DataFrame:
    """Append column ``out`` holding the inclusive running total of
    ``value`` in ascending ``key`` order — ``SUM(v) OVER (ORDER BY key)``
    — computed with the range-bucketed decomposition (per-bucket sums ->
    offsets over the bounded bucket frame -> broadcast back, plus a
    within-bucket running sum) instead of a single-partition window.

    Ties on ``key`` follow SQL RANGE-frame semantics (all peers of a key
    value share the sum through the last peer), because tied keys land
    in one bucket by construction and the within-bucket window uses the
    default RANGE frame. The sum's result type follows Spark's ``sum``
    (BIGINT stays BIGINT: integer weights keep the total exact).
    """
    k = F.col(key) if isinstance(key, str) else key
    v = F.col(value) if isinstance(value, str) else value
    return _prefix_sum(df, k, v, out).drop(_BKT)


def with_avg_rank(df: DataFrame, col: str | Column, out: str) -> DataFrame:
    """Append column ``out`` holding the exact AVERAGE (fractional) rank of
    ``col`` — ``RANK() + (tie_count - 1)/2``, the standard Spearman tie
    treatment — without a single-task global window. Null keys rank first
    (Spark ascending NULLS FIRST default).

    The prefix sum of 1 through a key's last peer is ``RANK() + tie_count
    - 1``, so the average rank is that sum minus ``(tie_count - 1)/2``.
    The tie window is partitioned by (bucket, key): ties share a bucket,
    and the prefix sum's bucket partitioning already satisfies it, where
    partitioning by the key alone would add an exchange per call."""
    key = F.col(col) if isinstance(col, str) else col
    return (
        _prefix_sum(df, key, F.lit(1), "_ps")
        .withColumn("_tc", F.count(F.lit(1)).over(Window.partitionBy(_BKT, key)))
        .withColumn(out, F.col("_ps") - (F.col("_tc") - F.lit(1)) / F.lit(2.0))
        .drop(_BKT, "_ps", "_tc")
    )


# Loud-failure cap on grouped_weighted_median's collected result dict — the
# dict form exists for bounded-cardinality consumers (return flags, languages);
# an unbounded group column should use grouped_weighted_median_df and keep the
# medians distributed.
WEIGHTED_MEDIAN_COLLECT_MAX_GROUPS = 10_000


def grouped_weighted_median_df(
    df: DataFrame,
    group_cols: list[str],
    col: str,
    weight: str,
    out: str = "wmedian",
) -> DataFrame:
    """Exact LOWER weighted median per group — the smallest value v with
    2 * cumulative_weight(<= v) >= total_weight — as a DataFrame of
    ``group_cols + [out]``, one row per group, fully distributed (no
    driver-side per-group state, so |groups| may grow with the data).

    Both physical strategies filter null group keys, null values, and
    null weights identically (SQL aggregate semantics), so the stats gate
    is a pure physical choice:

    - below PERCENTILE_BUFFER_MAX_BYTES: ONE windowed pass over the
      per-(group, value) weight table — fine while a group's distinct
      values fit a partition;
    - above it: the range-bucketed decomposition (ranks.py header), all
      join-back, no literal maps: (1) global approx value boundaries
      (load balance only — the single 1-row collect); (2) per-(group,
      bucket) weight sums + a window over the bounded ≤NUM_BUCKETS
      bucket frame per group locate each group's crossing bucket;
      (3) an equi-join narrows the final RANGE-framed running weight to
      ONLY the crossing slices — ties on the value share the
      through-the-peers total, exactly the cumw(<=v) the definition
      needs — and min(v) past the crossing is the answer.

    Weights must be non-negative; integer weights keep every comparison
    exact BIGINT (the house fixed-point rule). No interpolation — the
    lower median is an order statistic, so the result is always an input
    value in the column's native type. Group keys of any equi-joinable
    type (including float) work on both paths.
    """
    gcols = [f"_g{i}" for i in range(len(group_cols))]
    nn = functools.reduce(
        lambda a, b: a & b, [F.col(g).isNotNull() for g in gcols]
    )
    vals = df.select(
        *[F.col(g).alias(f"_g{i}") for i, g in enumerate(group_cols)],
        F.col(col).alias("_v"),
        _as_double(df, F.col(col)).alias("_vd"),
        F.col(weight).alias("_w"),
    ).where(nn & F.col("_v").isNotNull() & F.col("_w").isNotNull())
    rename = [F.col(g).alias(orig) for g, orig in zip(gcols, group_cols)]

    if _plan_size_bytes(df) <= PERCENTILE_BUFFER_MAX_BYTES:
        g2 = vals.groupBy(*gcols, "_v").agg(F.sum("_w").alias("_cw"))
        w_run = Window.partitionBy(*gcols).orderBy("_v")
        w_all = Window.partitionBy(*gcols)
        return (
            g2.withColumn("_run", F.sum("_cw").over(w_run))
            .withColumn("_tot", F.sum("_cw").over(w_all))
            .where(2 * F.col("_run") >= F.col("_tot"))
            .groupBy(*gcols)
            .agg(F.min("_v").alias(out))
            .select(*rename, out)
        )

    # one bounded collect: the 1-row boundary literals (load balance only —
    # a returned-DataFrame operator must not own persist/unpersist lifetime,
    # so the plan below re-derives vals; AQE reuses the shuffle where it can)
    boundaries = _global_boundaries(vals, F.col("_vd"))
    part = vals.withColumn(_BKT, _bucket_expr(F.col("_vd"), boundaries))
    bw = part.groupBy(*gcols, _BKT).agg(F.sum("_w").cast("long").alias("_bw"))
    # crossing-bucket location: windows over the bounded <= NUM_BUCKETS
    # bucket frame per group — never a data-sized frame
    w_bkt = Window.partitionBy(*gcols).orderBy(_BKT)
    w_all = Window.partitionBy(*gcols)
    target = (
        bw.withColumn("_before", F.sum("_bw").over(w_bkt) - F.col("_bw"))
        .withColumn("_tot", F.sum("_bw").over(w_all))
        .where(2 * (F.col("_before") + F.col("_bw")) >= F.col("_tot"))
        .groupBy(*gcols)
        .agg(F.min(F.struct(_BKT, "_before", "_tot")).alias("_s"))
        .select(
            *gcols,
            F.col(f"_s.{_BKT}").alias("_tbkt"),
            F.col("_s._before").alias("_before"),
            F.col("_s._tot").alias("_tot"),
        )
    )
    w_run = Window.partitionBy(*gcols).orderBy("_v")  # RANGE: peers share
    return (
        part.join(target, on=gcols)
        .where(F.col(_BKT) == F.col("_tbkt"))
        .withColumn("_run", F.sum("_w").over(w_run))
        .where(2 * (F.col("_before") + F.col("_run")) >= F.col("_tot"))
        .groupBy(*gcols)
        .agg(F.min("_v").alias(out))
        .select(*rename, out)
    )


def grouped_weighted_median(
    df: DataFrame, group_cols: list[str], col: str, weight: str
) -> dict[tuple, int | float]:
    """Collected-dict convenience form of :func:`grouped_weighted_median_df`
    for BOUNDED group cardinality (return flags, languages, priorities):
    returns ``{group_tuple: median}``. Capped at
    WEIGHTED_MEDIAN_COLLECT_MAX_GROUPS via limit(cap+1) — an unbounded
    group column fails loudly with guidance instead of OOMing the driver;
    use the ``_df`` variant and keep the medians distributed.
    """
    cap = WEIGHTED_MEDIAN_COLLECT_MAX_GROUPS
    res = grouped_weighted_median_df(df, group_cols, col, weight, out="_m")
    rows = res.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"grouped_weighted_median collected more than {cap} groups — "
            "the dict form is for bounded group cardinality; use "
            "grouped_weighted_median_df and join the medians back instead"
        )
    return {tuple(r[g] for g in group_cols): r["_m"] for r in rows}
