"""Driver-style correctness sweep: run every registered query AND its DuckDB
oracle at a chosen scale factor in ONE fresh process, compare with the same
canonicalization the pytest gate uses, and print per-query verdicts.

Usage:
    python sweep.py                      # all queries at sf0.01
    python sweep.py q1_pricing_summary   # just these names
    SWEEP_SF_DIR=/root/testdata/sf0.001 python sweep.py
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from profitscout_engine_spark.catalog import TABLES
from profitscout_engine_spark.queries import load_registry
from profitscout_engine_spark.session import get_spark
from tests.conftest import assert_frames_match

SF_DIR = os.environ.get("SWEEP_SF_DIR", "/root/testdata/sf0.01")


def oracle_sweep(spark, registry: dict, sf_dir: str) -> list[str]:
    """Run every query in ``registry`` and its DuckDB oracle over ``sf_dir``'s
    parquet tables, compare them with the pytest gate's comparator, print
    one verdict per query and a summary; return the names that failed."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    n_pass = n_rows_only = 0
    failures: list[str] = []
    for name, spec in registry.items():
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
            if spec.oracle is None:
                assert len(sdf.columns) > 0
                n_rows_only += 1
                print(f"  rows-only {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)", flush=True)
                continue
            odf = con.sql(spec.oracle).df()
            assert_frames_match(sdf, odf, name)
            n_pass += 1
            print(f"  ok        {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)", flush=True)
        except Exception:
            failures.append(name)
            print(f"  FAIL      {name}", flush=True)
            traceback.print_exc(limit=3)
    print(
        f"\n{n_pass} exact + {n_rows_only} rows-only / {len(registry)} at {sf_dir}; "
        f"{len(failures)} failed{': ' + ', '.join(failures) if failures else ''}"
    )
    return failures


def main() -> int:
    names = sys.argv[1:]
    registry = load_registry()
    if names:
        missing = [n for n in names if n not in registry]
        if missing:
            print(f"unknown queries: {missing}")
            return 2
        registry = {n: registry[n] for n in names}
    spark = get_spark(master=os.environ.get("SWEEP_MASTER", "local[8]"))
    return 1 if oracle_sweep(spark, registry, SF_DIR) else 0


if __name__ == "__main__":
    raise SystemExit(main())
