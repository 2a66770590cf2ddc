"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over ``profitscout_engine_spark.queries``: every implemented
operator from SURVEY.md §2 registers a named query (Spark callable) and,
when SQL-expressible, the equivalent DuckDB oracle SQL.

The driver verifies the first 50 queries of ``queries()`` each round, so
``queries()`` and ``oracle_sql()`` return their names in the order
``driver_state.window`` derives from DRIVER_STATE.json (stale or unstamped
first, then the weakest and oldest stamps).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

import driver_state  # noqa: E402
from profitscout_engine_spark.queries import QuerySpec, load_registry  # noqa: E402
from profitscout_engine_spark.session import _apply_runtime_confs  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (scanner ranking pipeline) on sf0.001."""
    _apply_runtime_confs(spark)
    reg = load_registry()
    return reg["scanner_rank"].fn(spark, "/root/testdata/sf0.001")


def _driver_ordered() -> dict[str, QuerySpec]:
    reg = load_registry()
    hashes = driver_state.current_hashes()
    return {n: reg[n] for n in driver_state.window(hashes, driver_state.load_state(), len(hashes))}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    reg = _driver_ordered()

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _apply_runtime_confs(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(spec.fn) for name, spec in reg.items()}


def oracle_sql() -> dict[str, str]:
    reg = _driver_ordered()
    return {name: spec.oracle for name, spec in reg.items() if spec.oracle is not None}
