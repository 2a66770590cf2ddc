"""Custom stateful streaming operators (SURVEY §2.9 extensions).

The reference's incremental patterns — `performance_updated IS NULL`
state tracking (win-tracker/main.py:457-458), process-each-row-once
backfills — become ``applyInPandasWithState``: per-key state that
survives micro-batches, updated with Arrow-batched pandas.

Scale: state lives in the state store partitioned by key (RocksDB/HDFS
on a cluster); each micro-batch shuffles only new rows to their key's
partition. The pandas hop touches one key-group per call.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# NOTE: `drain` / `run_to_memory` are imported inside each function that starts
# a stream (not at module level) so streaming/__init__ stays free to import
# this module without a circular-import ordering constraint.

# Event-time watermark (state retention) of the watermarked operators here.
WATERMARK = "1 hour"


def incremental_user_totals(events: DataFrame) -> DataFrame:
    """Running per-user (n_events, total_value) maintained in GroupState.

    Each micro-batch folds its rows into the key's persisted state and
    emits the updated running totals — the streaming twin of an
    incremental `groupBy(user).agg(count, sum)` that never reprocesses
    old rows (the reference's performance_updated-IS-NULL pattern)."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_counts_append(events: DataFrame) -> DataFrame:
    """Watermarked hourly tumbling counts in APPEND mode: a window only emits
    once the watermark passes its end, and events older than the
    watermark are dropped — the streaming form of the reference's
    '>3-days-stale scan is skipped' policy."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("window_start"), "n")
    )


def run_stateful_totals(spark, sf_dir: str) -> DataFrame:
    """Drive :func:`incremental_user_totals` to completion (AvailableNow,
    memory sink, update mode) and return the LAST emitted state per user
    — after the final batch this equals the batch `groupBy` totals."""
    from . import run_to_memory, stream_events

    events = stream_events(spark, sf_dir, with_watermark=None)
    sink = run_to_memory(incremental_user_totals(events), "update")
    # update-mode sink holds one row per (user, batch-it-changed-in);
    # running totals are monotone in n_events → latest = max n_events.
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


def stream_to_keyed_sink(
    events: DataFrame, path: str, key_cols: list[str], checkpoint: str
) -> None:
    """S14's streaming twin: mirror a stream into a keyed-document table
    via foreachBatch — each micro-batch upserts its rows by composite doc
    id (last-write-wins), the Firestore-mirror pattern as an idempotent
    batch sink (enrichment-trigger/main.py:798-904 behaviorally)."""
    from pyspark.sql import Window

    from . import drain

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        keyed = (
            batch_df.withColumn(
                "doc_id", F.concat_ws("_", *[F.col(c).cast("string") for c in key_cols])
            )
            .dropDuplicates(["doc_id"])
            .withColumn("_pri", F.lit(batch_id).cast("long"))
        )
        # Only a genuinely-absent sink means "first batch"; any other read
        # failure (corrupt footer, transient FS error) must propagate rather
        # than silently overwriting the sink with just this batch's rows.
        from pyspark.errors import AnalysisException

        try:
            merged = keyed.unionByName(spark.read.parquet(path))
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" not in str(exc) and "Path does not exist" not in str(exc):
                raise
            merged = keyed
        # deterministic last-write-wins: highest batch id per doc id
        w = Window.partitionBy("doc_id").orderBy(F.desc("_pri"))
        final = (
            merged.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
            .localCheckpoint()  # cut lineage off the path being replaced
        )
        final.write.mode("overwrite").parquet(path)

    q = (
        events.writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    drain(q)


def purchase_click_attribution(purchases: DataFrame, clicks: DataFrame) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to same-user
    clicks in the preceding 30 minutes.

    Both sides carry watermarks AND the join condition bounds event time
    on both ends — the two requirements that let the streaming engine
    evict join state instead of buffering both streams forever. State per
    key is bounded by (WATERMARK + 30 minutes); at 100 TB/day this is the
    only join shape that runs indefinitely. Works identically on batch
    DataFrames (same API), which is what the parity test asserts.
    """
    p = (
        purchases.withWatermark("ts", WATERMARK)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    c = (
        clicks.withWatermark("ts", WATERMARK)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 minutes"))
    )
    return p.join(c, cond).select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        "p_ts",
        "c_ts",
        "purchase_value",
    )


def streaming_dedup(events: DataFrame, key: str) -> DataFrame:
    """Streaming exact-dedup: keep the first occurrence of each key,
    with state bounded by the event-time watermark
    (dropDuplicatesWithinWatermark) — the streaming form of the
    training-pipeline exact-dedup pass: infinite streams need bounded
    dedup state, and the watermark is the retention contract."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark([key])


def expire_idle_sessions(events: DataFrame, gap: str = "1 hour") -> DataFrame:
    """Heartbeat/idle-session detection with EVENT-TIME TIMERS: each key
    keeps (n_events, last_seen) in GroupState and arms an event-time
    timeout at last_seen + gap; when the watermark passes that deadline
    with no new events, the state FIRES — the key emits a closed-session
    row and its state is removed from the store. This is the capability
    plain windowed aggregation cannot express: the *absence* of data
    producing output (dead-man's-switch monitoring, session expiry with
    side effects, abandoned-cart triggers). State-store cost is one
    small tuple per live key, and expiry guarantees the store shrinks —
    the unbounded-key hygiene a 100 TB stream needs."""
    import datetime as _dt

    gap_ms = {"1 hour": 3_600_000, "30 minutes": 1_800_000}[gap]

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            n, last_ms = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "closed_at": [_dt.datetime.utcfromtimestamp((last_ms + gap_ms) / 1000.0)],
                }
            )
            return
        n, last_ms = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            batch_max = int(pdf["ts"].astype("int64").max() // 1_000_000)
            last_ms = max(last_ms, batch_max)
        state.update((n, last_ms))
        state.setTimeoutTimestamp(last_ms + gap_ms)
        yield pd.DataFrame(
            {"user_id": pd.Series([], dtype="int64"),
             "n_events": pd.Series([], dtype="int64"),
             "closed_at": pd.Series([], dtype="datetime64[ns]")}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, closed_at timestamp",
        stateStructType="n long, last_ms long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
