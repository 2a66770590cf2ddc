"""Session-shared materialized frames (queries/_util.py::shared): identity
reuse, cache healing after an external clearCache (the optimizer-barrier
regression that OOMed Catalyst), and cross-consumer consistency."""

from __future__ import annotations

from pyspark.sql import functions as F

from profitscout_engine_spark.queries import load_registry
from profitscout_engine_spark.queries import _util
from profitscout_engine_spark.queries._util import reset_shared, shared, shared_value

REGISTRY = load_registry()


def _live(df) -> bool:
    # is_cached is unreliable after clearCache in Spark 4.1 (stays True);
    # storageLevel reflects the actual cache-manager state.
    sl = df.storageLevel
    return bool(sl.useMemory or sl.useDisk)


def test_shared_returns_same_frame_and_persists(spark, sf_dir):
    calls = []

    def build():
        calls.append(1)
        return spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("y"))

    a = shared(spark, sf_dir, "test_frame_idem", build)
    b = shared(spark, sf_dir, "test_frame_idem", build)
    assert a is b  # one build, one cached object
    assert len(calls) == 1
    assert _live(a)


def test_shared_heals_after_clear_cache(spark, sf_dir):
    """clearCache drops the cache entry; the next shared() access must
    re-persist (the persist is the optimizer barrier for wide scalar
    layouts — losing it silently is the Catalyst-OOM failure mode)."""
    df = shared(
        spark, sf_dir, "test_frame_heal", lambda: spark.range(5).select("id")
    )
    assert _live(df)
    spark.catalog.clearCache()
    assert not _live(df)
    df2 = shared(
        spark, sf_dir, "test_frame_heal", lambda: spark.range(99).select("id")
    )
    assert df2 is df  # same frame, NOT rebuilt from the (changed) builder
    assert _live(df2)  # re-persisted
    assert df2.count() == 5


def test_memo_eviction_covers_frames_and_values(spark, sf_dir):
    """An entry keyed to another applicationId (a restarted session's) is
    dropped from BOTH memos — its frame unpersisted — by the next
    ``shared`` or ``shared_value`` call; live entries survive that call;
    ``reset_shared`` empties both memos."""
    live = shared(spark, sf_dir, "test_evict_live", lambda: spark.range(4))
    assert shared_value(spark, sf_dir, "test_evict_val", lambda: 7) == 7
    stale = ("another-application", sf_dir, "test_evict_stale")
    for call in (
        lambda: shared(spark, sf_dir, "test_evict_live", lambda: spark.range(99)),
        lambda: shared_value(spark, sf_dir, "test_evict_val", lambda: 8),
    ):
        stale_df = spark.range(3).persist()
        _util._SHARED[stale] = stale_df
        _util._SHARED_VALS[stale] = 1
        call()
        assert stale not in _util._SHARED and stale not in _util._SHARED_VALS
        assert not _live(stale_df)
        assert shared(spark, sf_dir, "test_evict_live", lambda: spark.range(99)) is live
        assert shared_value(spark, sf_dir, "test_evict_val", lambda: 8) == 7

    reset_shared()
    assert not _util._SHARED and not _util._SHARED_VALS
    assert not _live(live)


def test_dedup_queries_consistent_after_clear_cache(spark, sf_dir):
    """End-to-end: clearing every cache between two runs of a
    shared-frame consumer must not change its result."""
    fn = REGISTRY["neardup_components"].fn
    before = sorted(map(tuple, fn(spark, sf_dir).collect()))
    spark.catalog.clearCache()
    after = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert before == after
