"""Fixture-table catalog.

The driver's synthetic tables (TPC-H-ish star + events/documents/embeddings)
live one parquet file per table under an sf dir. At 100 TB these would be
partitioned parquet/lakehouse table roots; the loader below only assumes
"path per table", so swapping a directory of part-files in changes nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Coerce ``events.ts`` to a microsecond TimestampType regardless of how
    the fixture generator encoded it.

    Generators have shipped the column as parquet TIMESTAMP(NANOS) (read as
    raw int64 under the legacy conf) and as TIMESTAMP(MICROS) without the
    UTC-adjusted flag (read as TIMESTAMP_NTZ). Both normalize to the same
    session-UTC TimestampType DuckDB sees as its naive TIMESTAMP, so oracle
    comparisons stay exact either way.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        # Integer division: ns values (~1.7e18) exceed double's exact range,
        # so a float divide here silently shifts timestamps by up to ~1 µs.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        # Session tz is pinned to UTC, so this cast preserves wall-clock.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        return normalize_event_ts(df)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
