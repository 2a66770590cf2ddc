"""Embedding-similarity kernels: cosine algebra, random-hyperplane LSH,
and label centroids (SURVEY §7.2 Phase 5 — ANN over ``embeddings``).

Dot products / norms are ``zip_with`` + ``aggregate`` folds over
``array<double>`` — sequential left-to-right double addition, which is
bit-identical to DuckDB's list kernels, so cosine queries can be
oracle-checked exactly (after stable rounding).

Scale design:
- brute-force top-k is a broadcast nested-loop self-join (the query side
  is broadcast; no shuffle of the corpus). It is the CORRECTNESS baseline
  and the right plan only while one side fits in an executor.
- the scale path is hyperplane LSH: L hash tables × P hyperplanes; the
  corpus is shuffled once on (table, bucket) and candidates come from an
  equi-join on the bucket key. Hyperplane signs are a pure function of
  md5 (no RNG state), so driver, executors, and the DuckDB oracle all
  derive the identical matrix.
"""

from __future__ import annotations

import hashlib

import pandas as pd  # module-global so seq_dot_udf's type hints resolve
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LSH_TABLES = 4
LSH_PLANES = 4  # bits per table → 16 buckets per table
DIM = 64


def as_double(vec: str | Column) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return c.cast("array<double>")


# --- scalar-column kernels — the hot-pair-scan fast path ----------------------
# Per-element array access (element_at / higher-order lambdas) runs outside
# efficient codegen on the O(n²)/candidate pair scan. The fast path unpacks
# each vector ONCE into 64 scalar double columns (a columnar layout — what
# Tungsten row format does best), so the per-pair dot is plain multiply-add
# whole-stage codegen. Summation stays left-associated → still bit-identical
# to the DuckDB oracle.


def unpack(df: DataFrame, vec_col: str, prefix: str, keep: list[str]) -> DataFrame:
    """Explode an array<double> column into scalar columns {prefix}0..{DIM-1}."""
    return df.select(
        *keep,
        *[F.element_at(F.col(vec_col), i + 1).alias(f"{prefix}{i}") for i in range(DIM)],
    )


def scalar_dot(pa: str, pb: str) -> Column:
    return F.expr(" + ".join(f"{pa}{i} * {pb}{i}" for i in range(DIM)))


def scalar_norm(p: str) -> Column:
    return F.sqrt(F.expr(" + ".join(f"{p}{i} * {p}{i}" for i in range(DIM))))


def fold_dot(a: str, b: str) -> Column:
    """Sequential-fold dot product over packed array<double> columns.

    Left-to-right accumulation from 0.0 — bit-identical to the unrolled
    left-associated sum (IEEE ``0+x == x``) and to DuckDB's list kernels,
    so fold-scored cosines stay oracle-exact. Tiny expression tree (no
    64-term canonicalization cost); meant for once-per-row work (norms,
    centroid distances), not the per-pair hot loop — that's
    :func:`seq_dot_udf`.
    """
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, z) -> acc + z)")


def fold_norm(a: str) -> Column:
    return F.sqrt(fold_dot(a, a))


def seq_dot_udf():
    """Arrow-vectorized dot product for the candidate-pair hot loop.

    Scores packed vectors directly — no 64-scalar-column row widening, so
    a candidate join carries (id, vector, norm) rows only. The accumulator
    walks dimensions left-to-right (vectorized across the Arrow batch), so
    each pair's sum is the same left-associated sequence the oracle
    computes: bit-identical results, ~batch-at-a-time numpy throughput.

    Defined nested so cloudpickle ships it by value — executor Python
    workers don't need this package importable.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dot(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as np

        if len(va) == 0:
            return pd.Series([], dtype="float64")
        a = np.stack(va.to_numpy())
        b = np.stack(vb.to_numpy())
        acc = np.zeros(len(a), dtype="float64")
        for i in range(a.shape[1]):
            acc = acc + a[:, i] * b[:, i]
        return pd.Series(acc)

    return _dot


def hyperplane_sign(table: int, plane: int, dim: int) -> int:
    """±1, deterministically derived from md5 — no RNG, no seed state."""
    h = hashlib.md5(f"{table},{plane},{dim}".encode()).hexdigest()
    return 1 if int(h[:2], 16) % 2 else -1


def lsh_buckets(vecs: DataFrame) -> DataFrame:
    """(vec_id, table_id, bucket) — one row per hash table per vector.

    ``vecs`` carries (vec_id, v). Relational formulation: posexplode the
    vectors, broadcast-join the ±1 hyperplane matrix, hash-aggregate the
    per-plane dots, then pack the P sign bits into a bucket id. Everything
    is codegen'd hash aggregation — no giant unrolled expressions (which
    blow up Catalyst canonicalization), and it scales to any corpus size:
    the matrix is L×P×DIM rows broadcast, the corpus shuffles once on
    vec_id.

    Hash-agg summation order is partition-dependent, but only the SIGN
    of each dot reaches the bucket id; a sign flip needs |dot| below
    double noise (~1e-13), which has vanishing probability for real
    embeddings — the DuckDB oracle's sequential dots agree.
    """
    spark = vecs.sparkSession
    # The ±1 matrix is derived IN SPARK from the same md5 formula as
    # hyperplane_sign (and the oracle's literal signs) — a range() plus
    # column algebra, not a driver-local collection: createDataFrame of
    # local rows costs a driver→JVM round trip and extra local-relation
    # jobs per query call, and wouldn't scale past toy matrix sizes.
    tp = F.col("id")
    table_id = (tp / (LSH_PLANES * DIM)).cast("int")
    plane = ((tp / DIM).cast("long") % LSH_PLANES).cast("int")
    pos = (tp % DIM).cast("int")
    hexpair = F.substring(
        F.md5(F.concat_ws(",", table_id.cast("string"), plane.cast("string"), pos.cast("string"))),
        1,
        2,
    )
    sign = F.when(F.conv(hexpair, 16, 10).cast("int") % 2 == 1, 1.0).otherwise(-1.0)
    matrix = spark.range(LSH_TABLES * LSH_PLANES * DIM).select(
        table_id.alias("table_id"), plane.alias("plane"), pos.alias("pos"), sign.alias("sign")
    )
    flat = vecs.select("vec_id", F.posexplode(F.col("v")).alias("pos", "x"))
    dots = (
        flat.join(F.broadcast(matrix), "pos")
        .groupBy("vec_id", "table_id", "plane")
        .agg(F.sum(F.col("x") * F.col("sign")).alias("d"))
    )
    return (
        dots.groupBy("vec_id", "table_id")
        .agg(
            F.sum(F.expr("CASE WHEN d > 0D THEN shiftleft(1, plane) ELSE 0 END"))
            .cast("int")
            .alias("bucket")
        )
    )


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """(label, centroid array<double>) — mean vector per label.

    posexplode → groupBy(label, pos) avg → re-assemble ordered by pos.
    Two shuffles over (label × dim) rows; at 100 TB this is the cheap
    side (10 × 64 aggregates) and the result broadcasts.
    """
    flat = embeddings.select("label", F.posexplode(as_double("embedding")).alias("pos", "x"))
    means = flat.groupBy("label", "pos").agg(F.avg("x").alias("m"))
    return (
        means.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("label", F.expr("transform(pm, e -> e.m)").alias("centroid"))
    )
