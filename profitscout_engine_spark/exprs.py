"""Scalar Column-expression library (SURVEY §2.8).

Everything the reference implements as row-at-a-time Python arithmetic /
branching (score ladders, guarded divisions, coalesce fallback chains,
tier classification, pct-change, contract-symbol formatting) is re-expressed
here as pure Spark ``Column`` expressions so it stays inside whole-stage
codegen — no Python in the hot path.

Reference provenance (behavioral, not code):
- guarded division ``x / max(y, 1)``: overnight_scanner.py:457,507-508
- coalesce price chains:              overnight_scanner.py:338-345
- tier ladders:                       win-tracker/main.py:91-111
- cluster-boost ladder:               overnight_scanner.py:279-287
- pct change:                         win-tracker/main.py:149-151
- contract symbol format:             forward-paper-trader/main.py:46-51
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def guarded_div(num: Column, den: Column) -> Column:
    """``num / max(den, 1)`` — the reference's division-by-zero guard."""
    return num / F.greatest(den, F.lit(1.0))


def null_div(num: Column, den: Column) -> Column:
    """``num / NULLIF(den, 0)`` — NULL instead of inf on zero denominators."""
    return num / F.nullif(den, F.lit(0))


def pct_change(new: Column, old: Column) -> Column:
    """Percent change ``(new - old) / old * 100`` with NULL on old==0."""
    return null_div(new - old, old) * F.lit(100.0)


def coalesce_chain(*cols: Column) -> Column:
    """First non-null of a fallback chain (price = day.close → lastTrade → prev)."""
    return F.coalesce(*cols)


def tier_ladder(value: Column, ladder: Sequence[tuple[float, str]], default: str) -> Column:
    """Descending-threshold CASE ladder: first ``value >= threshold`` wins.

    ``ladder`` is [(threshold, label), ...] checked in order — the shape of
    the reference's win-tier classification (strong>=5, solid>=3, ...).
    """
    expr: Column | None = None
    for threshold, label in ladder:
        cond = value >= F.lit(float(threshold))
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    assert expr is not None
    return expr.otherwise(F.lit(default))


def step_ladder(value: Column, steps: Sequence[tuple[float, int]]) -> Column:
    """Descending-threshold ladder returning integer boosts (cluster boost:
    count>=8 → +3, >=5 → +2, >=4 → +1, else 0)."""
    expr: Column | None = None
    for threshold, boost in steps:
        cond = value >= F.lit(float(threshold))
        expr = F.when(cond, F.lit(boost)) if expr is None else expr.when(cond, F.lit(boost))
    assert expr is not None
    return expr.otherwise(F.lit(0))


def clamp(col: Column, lo: float, hi: float) -> Column:
    """``least(greatest(col, lo), hi)`` — score clamping."""
    return F.least(F.greatest(col, F.lit(lo)), F.lit(hi))


def bucketize(value: Column, bounds: Sequence[float], labels: Sequence[str]) -> Column:
    """Half-open histogram buckets ``bounds[i] <= v < bounds[i+1]`` → labels[i].

    len(labels) == len(bounds) - 1. Mirrors ``pd.cut`` with right-open bins.
    """
    assert len(labels) == len(bounds) - 1
    expr: Column | None = None
    for i, label in enumerate(labels):
        cond = (value >= F.lit(float(bounds[i]))) & (value < F.lit(float(bounds[i + 1])))
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    assert expr is not None
    return expr.otherwise(F.lit(None))


def contract_symbol(
    underlying: Column, expiration: Column, option_type: Column, strike: Column
) -> Column:
    """OCC-style option symbol ``O:{SYM}{yyMMdd}{C|P}{strike*1000:08d}``."""
    return F.concat(
        F.lit("O:"),
        F.upper(underlying),
        F.date_format(expiration, "yyMMdd"),
        F.when(F.upper(option_type).startswith("C"), F.lit("C")).otherwise(F.lit("P")),
        F.lpad(F.round(strike * 1000, 0).cast("long").cast("string"), 8, "0"),
    )


def stable_round(col: Column, n: int) -> Column:
    """Engine-stable half-up rounding: ``floor(x * 10^n + 0.5) / 10^n``.

    Spark's ``round`` (BigDecimal half-up on the exact binary value) and
    DuckDB's ``round`` disagree on half-boundary doubles, which breaks exact
    oracle hash comparison. This formulation is pure IEEE-double arithmetic,
    so any engine computes the identical bits. Oracle SQL uses the matching
    ``FLOOR(x * 1eN + 0.5) / 1eN`` (see queries/_util.py::sr).
    """
    scale = F.lit(float(10**n))
    return F.floor(col * scale + F.lit(0.5)) / scale


def r2(col: Column) -> Column:
    """Stable-round to cents — comparison-point rounding for money sums."""
    return stable_round(col, 2)


def r4(col: Column) -> Column:
    """Stable-round to 4 dp — comparison-point rounding for ratios/averages."""
    return stable_round(col, 4)


def r6(col: Column) -> Column:
    """Stable-round to 6 dp — for unit-scale values (cosines, rates)."""
    return stable_round(col, 6)
