"""Shared helpers for query modules."""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..catalog import table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return table(spark, sf_dir, name)


def fan_out(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the scan has fewer splits than the
    session's parallelism — the local single-file fixture, where one
    shuffle of a small table buys 32× map parallelism for the CPU-heavy
    text kernels. A real multi-split table (the 100 TB case) already has
    the parallelism and keeps its layout: forcing a full shuffle in front
    of an otherwise zero-shuffle map query would be pure waste."""
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


_SHARED: dict[tuple[str, str, str], DataFrame] = {}
# Reentrant: builders COMPOSE shared frames (the MinHash band chain builds on
# the distinct-shingle frame, IVF ranking on the packed vectors), so a builder
# running under the lock may call shared() again on the same thread. A plain
# Lock self-deadlocks on that nesting; RLock keeps cross-thread build-and-insert
# mutual exclusion while permitting same-thread composition.
_SHARED_LOCK = threading.RLock()


def reset_shared() -> None:
    """Drop EVERY session-shared frame (and its cache registration).

    For snapshot/test isolation: plans_snapshot.py captures each query's
    plan from a pristine state. clearCache() alone is not enough — the
    _SHARED dict still holds the old DataFrame objects, so a later
    consumer reuses a frame whose analyzed plan nests whatever
    InMemoryRelation structure the CHUNK ORDER happened to bake in
    (round-9 finding: 8 shared-frame consumers flipped plan shas when
    new queries shifted the alphabetical chunk boundaries, with zero
    source/oracle changes). After reset, a capture rebuilds its shared
    chain in the query's own deterministic build order."""
    with _SHARED_LOCK:
        _SHARED_VALS.clear()
        for k in list(_SHARED):
            df = _SHARED.pop(k)
            try:
                df.unpersist()
            except Exception:
                pass  # session gone or never persisted — nothing to release


def _evict_stale(app_id: str) -> None:
    """Drop (and unpersist) entries from sessions other than the live one,
    so a long-lived driver process that restarts its SparkSession doesn't
    accumulate dead plan objects and cache registrations."""
    for k in [k for k in _SHARED if k[0] != app_id]:
        df = _SHARED.pop(k)
        try:
            df.unpersist()
        except Exception:
            pass  # the owning session is gone; nothing to release


def shared(
    spark: SparkSession, sf_dir: str, key: str, builder: Callable[[], DataFrame]
) -> DataFrame:
    """Session-scoped memo for subtrees several queries share (the dedup
    family's shingle→MinHash→bands→pairs chain, the packed vector sides).

    Queries stay independently callable — the first caller builds and
    persists the frame; later callers in the SAME session reuse the
    cached materialization instead of recomputing the subtree. This is
    the materialized-shared-view pattern a warehouse uses at 100 TB:
    the expensive derived corpus (signatures, candidate pairs, packed
    vectors) is produced once per (session, dataset) and every
    downstream consumer reads the cache. Keyed by applicationId so a
    fresh driver process never sees a stale entry.
    """
    app_id = spark.sparkContext.applicationId
    k = (app_id, sf_dir, key)
    with _SHARED_LOCK:
        _evict_stale(app_id)
        df = _SHARED.get(k)
        if df is None:
            df = builder()
            _SHARED[k] = df
        sl = df.storageLevel
        if not (sl.useMemory or sl.useDisk):
            # (Re-)persist: also heals an external clearCache(). The persist is
            # load-bearing beyond speed — for the wide scalar layouts it is the
            # optimizer barrier that keeps projection collapse from inlining
            # 64-column expression chains into every consumer (Catalyst's
            # constraint propagation blows the heap on those trees).
            # NB: checked via storageLevel, not is_cached — after an external
            # clearCache() Spark 4.1 still reports is_cached=True while the
            # storage level has dropped to NONE.
            df.persist()
    return df


_SHARED_VALS: dict[tuple[str, str, str], object] = {}


def shared_value(
    spark: SparkSession, sf_dir: str, key: str, builder: Callable[[], object]
) -> object:
    """Session-scoped memo for a BOUNDED driver-side literal derived from the
    data (a class-label axis, a percentile boundary list) — the value twin of
    :func:`shared`. Same contract: first caller in a (session, dataset) runs
    the builder (which may collect a bounded frame), later callers reuse;
    a fresh process always recomputes from the parquet inputs. Only for
    values bounded by MODEL size (classes, quantiles, K), never by data."""
    app_id = spark.sparkContext.applicationId
    k = (app_id, sf_dir, key)
    with _SHARED_LOCK:
        for stale in [sk for sk in _SHARED_VALS if sk[0] != app_id]:
            _SHARED_VALS.pop(stale)
        if k not in _SHARED_VALS:
            _SHARED_VALS[k] = builder()
        return _SHARED_VALS[k]


def sr(expr: str, n: int) -> str:
    """Oracle-SQL twin of ``exprs.stable_round``: engine-stable half-up
    rounding as pure IEEE double arithmetic (see exprs.py for why plain
    ROUND() diverges between engines on half-boundary values)."""
    scale = f"1e{n}"
    return f"FLOOR(({expr}) * {scale} + 0.5) / {scale}"
