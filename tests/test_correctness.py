"""Oracle correctness: every registered query with oracle SQL must match
DuckDB exactly (the driver's t2 gate, run here at sf0.001 for speed).

Queries without oracle SQL get a rows-and-schema smoke check.
"""

from __future__ import annotations

import pytest

from profitscout_engine_spark.queries import load_registry

from .conftest import assert_frames_match

REGISTRY = load_registry()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, sf_dir, oracle):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, sf_dir).toPandas()
    if spec.oracle is None:
        assert len(sdf.columns) > 0
        return
    odf = oracle.sql(spec.oracle).df()
    assert_frames_match(sdf, odf, name)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0 and len(df.columns) > 0
    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
