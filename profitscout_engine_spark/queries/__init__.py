"""Named query registry — the driver contract surface.

Every implemented operator from SURVEY.md §2 registers here as a named query:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible)
the equivalent ANSI SQL a DuckDB oracle runs on the same parquet tables.

Determinism rules (the driver compares order-insensitive value hashes, with
columns sorted by name):
- alias every computed column identically on both sides;
- round every float output on BOTH sides (engines agree on the double bits of
  the inputs, so rounded derived values agree too);
- break every top-k / rank tie with a unique key so LIMIT/ROW_NUMBER pick the
  same rows in both engines;
- sort arrays before exposing them (collect_list order is nondeterministic).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL; None → driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)  # SURVEY §2 operator ids


REGISTRY: dict[str, QuerySpec] = {}


def stabilize_round(sql: str) -> str:
    """Rewrite every ``ROUND(expr, n)`` in oracle SQL into the engine-stable
    ``FLOOR((expr) * 1eN + 0.5) / 1eN`` form (see exprs.stable_round for why:
    Spark and DuckDB ROUND disagree on half-boundary doubles). Lets oracle
    SQL stay readable while the executed text matches Spark's arithmetic.
    """
    out = []
    i = 0
    upper = sql.upper()
    while True:
        j = upper.find("ROUND(", i)
        if j < 0:
            out.append(sql[i:])
            return "".join(out)
        # Only a bare function name (not e.g. MY_ROUND()).
        if j > 0 and (sql[j - 1].isalnum() or sql[j - 1] == "_"):
            out.append(sql[i : j + 6])
            i = j + 6
            continue
        out.append(sql[i:j])
        depth, k = 1, j + 6
        top_comma = -1
        while k < len(sql) and depth:
            ch = sql[k]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 1:
                top_comma = k
            k += 1
        inner = sql[j + 6 : k - 1]
        if top_comma < 0:
            expr, n = inner, "0"
        else:
            expr, n = inner[: top_comma - (j + 6)], inner[top_comma - (j + 6) + 1 :].strip()
        out.append(f"FLOOR(({expr.strip()}) * 1e{n} + 0.5) / 1e{n}")
        i = k


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering a named query with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        stable = stabilize_round(oracle) if oracle is not None else None
        REGISTRY[name] = QuerySpec(fn=fn, oracle=stable, tags=tuple(tags))
        return fn

    return deco


# Import order is registration order. The driver's verification order is not
# kept here: __spark_entry__ derives it from DRIVER_STATE.json
# (driver_state.window).
_MODULES = (
    "similarity",
    "textops",
    "curation",
    "pipelines",
    "timeseries",
    "execution",
    "windows",
    "aggregates",
    "relational",
    "sketches",
    "finance",
    "maintenance",
    "tpch",
)


def load_registry() -> dict[str, QuerySpec]:
    """Import all query modules (idempotent) and return the registry in
    registration order."""
    for mod in _MODULES:
        importlib.import_module(f"{__name__}.{mod}")
    return dict(REGISTRY)
