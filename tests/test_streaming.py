"""Stateful-streaming semantics: GroupState survives micro-batches,
watermarks drop late data in append mode, and the stateful query's final
state equals the batch aggregation (also oracle-checked in
test_correctness via `stateful_user_totals`)."""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from profitscout_engine_spark.catalog import table
from profitscout_engine_spark.session import SHUFFLE_PARTITIONS_CONF
from profitscout_engine_spark.streaming import (
    BOUNDED_STATE_PARTITIONS,
    drain,
    run_to_memory,
)
from profitscout_engine_spark.streaming.stateful import (
    incremental_user_totals,
    windowed_counts_append,
)


def _staged_files(spark, tmp_path, frames):
    """Write each frame as one parquet file with increasing mtimes so the
    file stream consumes them in order, one per micro-batch."""
    root = str(tmp_path / "stream_src")
    os.makedirs(root)
    for i, df in enumerate(frames):
        part = str(tmp_path / f"part{i}")
        df.coalesce(1).write.parquet(part)
        src = next(
            os.path.join(part, f) for f in os.listdir(part) if f.endswith(".parquet")
        )
        dst = os.path.join(root, f"{i:04d}.parquet")
        os.rename(src, dst)
        os.utime(dst, (time.time() + i, time.time() + i))
    return root


@pytest.fixture
def three_shuffle_partitions(spark):
    """The session at 3 shuffle partitions, restored after the test."""
    old = spark.conf.get(SHUFFLE_PARTITIONS_CONF)
    spark.conf.set(SHUFFLE_PARTITIONS_CONF, "3")
    yield
    spark.conf.set(SHUFFLE_PARTITIONS_CONF, old)


@pytest.mark.parametrize(
    "state_partitions, expected", [(BOUNDED_STATE_PARTITIONS, 8), (None, 3)]
)
def test_run_to_memory_pins_state_partitions(
    spark, tmp_path, monkeypatch, three_shuffle_partitions, state_partitions, expected
):
    """A pinned stream keeps its own shuffle-partition count for the whole
    run; an unpinned one takes the session's. Either way the session conf
    reads its old value afterwards."""
    import profitscout_engine_spark.streaming as streaming

    queries = []
    real_drain = streaming.drain
    monkeypatch.setattr(
        streaming, "drain", lambda q: (queries.append(q), real_drain(q))
    )
    mk = lambda rows: spark.createDataFrame(rows, "k long, v double")
    root = _staged_files(spark, tmp_path, [mk([(1, 1.0), (2, 2.0)]), mk([(1, 3.0)])])
    stream = spark.readStream.schema("k long, v double").parquet(root)
    counts = stream.groupBy("k").agg(F.count("*").alias("n"))

    got = run_to_memory(counts, "complete", state_partitions).toPandas()

    assert dict(zip(got.k, got.n)) == {1: 2, 2: 1}
    (q,) = queries
    state = q.recentProgress[-1]["stateOperators"][0]
    assert state["numShufflePartitions"] == expected
    assert spark.conf.get(SHUFFLE_PARTITIONS_CONF) == "3"


def test_run_to_memory_restores_conf_when_start_raises(
    spark, tmp_path, three_shuffle_partitions
):
    """Complete mode on a stream without an aggregation fails in .start();
    the pinned conf must not leak into the session."""
    from pyspark.errors import AnalysisException

    root = _staged_files(spark, tmp_path, [spark.createDataFrame([(1,)], "k long")])
    stream = spark.readStream.schema("k long").parquet(root)
    with pytest.raises(AnalysisException):
        run_to_memory(stream, "complete", BOUNDED_STATE_PARTITIONS)
    assert spark.conf.get(SHUFFLE_PARTITIONS_CONF) == "3"


def test_state_survives_micro_batches(spark, sf_dir, tmp_path):
    """Split events into 3 chronological chunks → 3 micro-batches; the
    final GroupState per user must equal the one-shot batch totals."""
    ev = table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    chunks = [
        ev.where(F.col("event_id") % 3 == i).withColumn("ts", F.col("ts").cast("timestamp"))
        for i in range(3)
    ]
    root = _staged_files(spark, tmp_path, chunks)

    stream = (
        spark.readStream.schema(chunks[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(root)
    )
    sink = run_to_memory(incremental_user_totals(stream), "update")

    # state grew across batches: users emitted in >1 batch have >1 row
    multi = sink.groupBy("user_id").count().where("count > 1").count()
    assert multi > 0, "expected per-user updates across multiple micro-batches"

    final = (
        sink.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    batch = ev.groupBy("user_id").agg(F.count("*").alias("n_b"))
    diff = (
        final.join(batch, "user_id")
        .where(F.col("n_events") != F.col("n_b"))
        .count()
    )
    assert diff == 0
    assert final.count() == batch.count()


def test_watermark_drops_late_event(spark, tmp_path):
    """Append-mode guarantee: once the watermark finalizes a window (its
    state is emitted + evicted), a straggler for that window is dropped —
    the window appears exactly once, without the late row.

    Batch timeline (1 file per micro-batch, watermark = max(ts) − 1 h of
    PRIOR batches): after batch 2 the watermark is 12:30, finalizing
    [10:00, 11:00) with ONE row; batch 3's 10:45 straggler arrives below
    the watermark for an evicted window and must vanish."""
    mk = lambda rows: spark.createDataFrame(rows, "ts timestamp, user_id long, value double")
    import datetime

    T = lambda h, m=0: datetime.datetime(2024, 1, 1, h, m)
    batch1 = mk([(T(10, 15), 1, 1.0), (T(12, 0), 2, 1.0)])
    batch2 = mk([(T(13, 30), 3, 1.0)])           # wm 11:00 during → emits [10,11)
    batch3 = mk([(T(10, 45), 4, 1.0), (T(15, 0), 5, 1.0)])  # straggler + flush
    root = _staged_files(spark, tmp_path, [batch1, batch2, batch3])

    stream = (
        spark.readStream.schema(batch1.schema).option("maxFilesPerTrigger", 1).parquet(root)
    )
    rows = run_to_memory(windowed_counts_append(stream), "append").collect()
    emitted = [(r.window_start, r.n) for r in rows]

    # [10:00,11:00) finalized exactly once, WITHOUT the 10:45 straggler.
    ten = [n for ws, n in emitted if ws == T(10)]
    assert ten == [1], f"late row leaked into finalized window: {emitted}"


def test_foreachbatch_keyed_sink(spark, tmp_path):
    """Each micro-batch upserts into the keyed table; re-keyed rows from
    later batches win (last-write-wins), earlier keys survive."""
    from profitscout_engine_spark.streaming.stateful import stream_to_keyed_sink

    mk = lambda rows: spark.createDataFrame(rows, "d string, ticker string, v int")
    b1 = mk([("2024-01-02", "AAPL", 1), ("2024-01-02", "MSFT", 2)])
    b2 = mk([("2024-01-02", "AAPL", 99), ("2024-01-03", "NVDA", 3)])
    root = _staged_files(spark, tmp_path, [b1, b2])

    out_path = str(tmp_path / "keyed")
    stream = spark.readStream.schema(b1.schema).option("maxFilesPerTrigger", 1).parquet(root)
    stream_to_keyed_sink(
        stream, out_path, key_cols=["d", "ticker"], checkpoint=str(tmp_path / "ckpt")
    )
    rows = {r.doc_id: r.v for r in spark.read.parquet(out_path).collect()}
    assert rows["2024-01-02_AAPL"] == 99  # batch 2 overwrote
    assert rows["2024-01-02_MSFT"] == 2   # batch 1 survived
    assert rows["2024-01-03_NVDA"] == 3
    assert len(rows) == 3


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps one row per key across
    micro-batches while the key is inside the watermark horizon."""
    import datetime

    from profitscout_engine_spark.streaming.stateful import streaming_dedup

    T = lambda h, m=0: datetime.datetime(2024, 1, 1, h, m)
    mk = lambda rows: spark.createDataFrame(rows, "ts timestamp, k string, v double")
    b1 = mk([(T(10), "a", 1.0), (T(10, 5), "a", 2.0), (T(10, 10), "b", 3.0)])
    b2 = mk([(T(10, 20), "a", 4.0), (T(10, 30), "c", 5.0)])
    root = _staged_files(spark, tmp_path, [b1, b2])

    stream = spark.readStream.schema(b1.schema).option("maxFilesPerTrigger", 1).parquet(root)
    out = run_to_memory(streaming_dedup(stream, "k"), "append").toPandas()
    assert sorted(out.k) == ["a", "b", "c"]  # one row per key
    assert float(out[out.k == "a"].v.iloc[0]) == 1.0  # first occurrence won


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """The watermarked purchase←click attribution join produces the same
    pairs through Structured Streaming (multi-batch file source on both
    sides) as through the identical batch join — and its plan carries
    event-time bounds on both sides so join state is evictable."""
    from profitscout_engine_spark.streaming.stateful import purchase_click_attribution

    ev = table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type", "value")
    purchases = ev.where("event_type = 'purchase'")
    clicks = ev.where("event_type = 'click'")

    batch = (
        purchase_click_attribution(purchases, clicks)
        .toPandas()
        .sort_values(["purchase_id", "click_id"])
        .reset_index(drop=True)
    )

    # stream both sides: 2 chronological chunks each → multiple micro-batches
    def halves(df):
        mid = df.approxQuantile("event_id", [0.5], 0.0)[0]
        return [df.where(F.col("event_id") <= mid), df.where(F.col("event_id") > mid)]

    proot = _staged_files(spark, tmp_path / "p", halves(purchases))
    croot = _staged_files(spark, tmp_path / "c", halves(clicks))
    ps = spark.readStream.schema(purchases.schema).option("maxFilesPerTrigger", 1).parquet(proot)
    cs = spark.readStream.schema(clicks.schema).option("maxFilesPerTrigger", 1).parquet(croot)
    streamed = (
        run_to_memory(purchase_click_attribution(ps, cs), "append")
        .toPandas()
        .sort_values(["purchase_id", "click_id"])
        .reset_index(drop=True)
    )
    assert len(streamed) == len(batch)
    assert (streamed["purchase_id"].values == batch["purchase_id"].values).all()
    assert (streamed["click_id"].values == batch["click_id"].values).all()
    assert len(batch) > 0  # the fixture actually exercises the join


def test_streaming_ohlc_candles_match_batch(spark, sf_dir, tmp_path):
    """The OHLCV candle aggregation runs unchanged under Structured
    Streaming: min_by/max_by/sum over an event-time window, fed the same
    events through a 3-micro-batch file stream, must equal the batch
    ohlc_resample result — the resample operator is streaming-safe."""
    from profitscout_engine_spark.queries import load_registry

    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    chunks = [
        ev.where(F.col("event_id") % 3 == i).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        for i in range(3)
    ]
    root = _staged_files(spark, tmp_path, chunks)

    stream = (
        spark.readStream.schema(chunks[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(root)
    )
    bars = stream.select(
        "user_id",
        "ts",
        F.col("value").alias("price"),
        (F.col("event_id") % 100 + 1).cast("long").alias("vol"),
    )
    candles = (
        bars.groupBy("user_id", F.window("ts", "1 hour").alias("win"))
        .agg(
            F.min_by("price", "ts").alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max_by("price", "ts").alias("close"),
            F.sum("vol").alias("volume"),
            F.count("*").alias("n_trades"),
        )
        .select(
            "user_id", F.col("win.start").alias("bar_start"),
            "open", "high", "low", "close", "volume", "n_trades",
        )
    )
    got = (
        run_to_memory(candles, "complete")
        .toPandas()
        .sort_values(["user_id", "bar_start"])
        .reset_index(drop=True)
    )
    want = (
        load_registry()["ohlc_resample"]
        .fn(spark, sf_dir)
        .drop("vwap")
        .toPandas()
        .sort_values(["user_id", "bar_start"])
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_event_time_timeout_closes_idle_sessions(spark, sf_dir, tmp_path):
    """Event-time timers: users active ONLY in the first chronological
    third must fire a timeout (closed-session row) once later batches
    push the watermark past last_seen + gap; users with late events must
    NOT close. The absence of data producing output is the capability
    windowed aggregation cannot express."""
    from profitscout_engine_spark.streaming.stateful import expire_idle_sessions

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    bounds = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    t1 = bounds.lo + (bounds.hi - bounds.lo) / 3
    t2 = bounds.lo + 2 * (bounds.hi - bounds.lo) / 3
    idle_users = {0, 1, 2, 3, 4}
    keep_late = ~F.col("user_id").isin(list(idle_users))
    chunks = [
        ev.where(F.col("ts") < F.lit(t1)),
        ev.where((F.col("ts") >= F.lit(t1)) & (F.col("ts") < F.lit(t2)) & keep_late),
        ev.where((F.col("ts") >= F.lit(t2)) & keep_late),
    ]
    root = _staged_files(spark, tmp_path, chunks)
    stream = (
        spark.readStream.schema(chunks[0].schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(root)
        .withWatermark("ts", "1 minute")
    )
    closed = expire_idle_sessions(stream, gap="1 hour")
    got = run_to_memory(closed, "append").toPandas()
    got = got[got.user_id.notna()]
    closed = set(got.user_id.astype(int))
    # every artificially-idled user must fire (their deadline is far
    # behind the final watermark); other users MAY also close if they
    # happen to go quiet long enough — that's correct timer semantics.
    assert idle_users <= closed
    # the idled users close exactly once, with their full first-third
    # event count and closed_at = last_seen + gap
    stats = (
        chunks[0]
        .where(F.col("user_id").isin(list(idle_users)))
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.max("ts").alias("last_ts"))
        .toPandas()
        .set_index("user_id")
    )
    idled_rows = got[got.user_id.astype(int).isin(idle_users)]
    assert len(idled_rows) == len(idle_users)
    for _, row in idled_rows.iterrows():
        uid = int(row.user_id)
        assert int(row.n_events) == int(stats.loc[uid, "n"])
        assert row.closed_at == stats.loc[uid, "last_ts"].floor("ms") + pd.Timedelta(hours=1)
    # users active in the FINAL third never have a pending close at end
    # with their full count unseen: any closed row carries >= 1 event
    assert (got.n_events >= 1).all()


def test_stream_merge_to_txn_exactly_once(spark, sf_dir, tmp_path):
    """Streaming upsert into the transactional table: 3 micro-batches →
    3 atomic snapshot commits whose union equals the source; replaying
    the whole stream from a fresh checkpoint (crash-recovery worst case:
    every batch re-delivered, markers ignored via a new batch-id space)
    leaves table CONTENT unchanged — the idempotent-merge half of the
    exactly-once argument, with time travel intact across the replay."""
    from profitscout_engine_spark.sources.txn import current_version, read_versioned
    from profitscout_engine_spark.streaming.txn_sink import stream_merge_to_txn

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    chunks = [ev.where(F.col("event_id") % 3 == i) for i in range(3)]
    root = str(tmp_path / "txn_table")
    src = _staged_files(spark, tmp_path, chunks)

    def run(checkpoint: str) -> None:
        stream = (
            spark.readStream.schema(chunks[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        drain(stream_merge_to_txn(stream, root, keys=["event_id"], checkpoint=checkpoint))

    run(str(tmp_path / "ckpt1"))
    v_first = current_version(root)
    assert v_first == 3  # one atomic commit per micro-batch
    got = read_versioned(spark, root).toPandas().sort_values("event_id")
    want = ev.toPandas().sort_values("event_id")
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True), check_dtype=False
    )

    # full re-delivery, markers intact: the fast path skips every
    # replayed batch — no new versions, content unchanged
    run(str(tmp_path / "ckpt2"))
    assert current_version(root) == v_first
    # crash-window worst case: markers lost, every batch re-merges —
    # versions advance but the merge is idempotent on content
    import shutil

    shutil.rmtree(os.path.join(root, "_committed_batches"))
    run(str(tmp_path / "ckpt3"))
    assert current_version(root) > v_first
    again = read_versioned(spark, root).toPandas().sort_values("event_id")
    pd.testing.assert_frame_equal(
        again.reset_index(drop=True), want.reset_index(drop=True), check_dtype=False
    )
    # time travel across the replay: the pre-replay snapshot is intact
    old = read_versioned(spark, root, version=v_first).toPandas().sort_values("event_id")
    pd.testing.assert_frame_equal(
        old.reset_index(drop=True), want.reset_index(drop=True), check_dtype=False
    )


def test_stream_dedup_bands_state_spans_micro_batches(spark, sf_dir):
    """The banded signature store must carry across micro-batches: at least
    one detected duplicate's first occurrence lives in an EARLIER ingest
    slice (file/batch) than the duplicate itself, and every verdict equals
    the batch first-occurrence recomputation over the same band frame."""
    from profitscout_engine_spark.operators import text as tx
    from profitscout_engine_spark.queries.similarity import (
        DEDUP_STREAM_FILES,
        _docs,
        stream_dedup_bands,
    )

    got = stream_dedup_bands(spark, sf_dir).toPandas().set_index("doc_id")
    bands = tx.minhash_bands(
        tx.minhash_signature(tx.shingle_frame(_docs(spark, sf_dir)))
    ).toPandas()
    first: dict[tuple, int] = {}
    expect: dict[int, int | None] = {}
    for r in bands.sort_values("doc_id").itertuples():
        k = (r.band_id, r.band_sig)
        d = int(r.doc_id)
        prior = first.get(k)
        if prior is not None and prior < d:
            expect[d] = prior if expect.get(d) is None else min(expect[d], prior)
        expect.setdefault(d, None)
        if prior is None or d < prior:
            first[k] = d
    n_docs = len(got)
    slice_width = max(n_docs // DEDUP_STREAM_FILES, 1)
    cross_batch = 0
    for d, e in expect.items():
        row = got.loc[d]
        assert bool(row.is_dup) == (e is not None)
        if e is not None:
            assert int(row.dup_of) == e
            if d // slice_width != e // slice_width:
                cross_batch += 1
    assert cross_batch > 0, "no duplicate spanned an ingest slice boundary"
