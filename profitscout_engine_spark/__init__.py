"""profitscout_engine_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
the reference options-flow analytics platform (DevDizzle/profitscout-engine),
re-expressed Spark-first: declarative DataFrame/SQL plans optimized by
Catalyst, shuffle-conscious joins/aggregations, and Arrow-batched
``applyInPandas`` only for the genuinely non-relational kernels
(EWM indicators, Monte Carlo paths).

Layout
------
- ``session``    : SparkSession builder tuned for scale (AQE, Arrow, TZ=UTC)
- ``catalog``    : table loading/registration over the parquet fixture dirs
- ``exprs``      : scalar Column-expression library (coalesce chains, guarded
                   ratios, tier ladders, contract-symbol formatting)
- ``operators/`` : relational/window/time-series operator implementations
- ``sources/``   : readers/writers (partition overwrite, merge-upsert)
- ``streaming/`` : Structured Streaming equivalents over the events table
- ``queries/``   : named query registry wired into ``__spark_entry__.py``
"""

__version__ = "0.1.0"
