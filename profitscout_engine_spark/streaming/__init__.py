"""Structured Streaming surface (SURVEY §2.9).

The reference is a chain of scheduled idempotent daily batches; its
streaming-adjacent semantics (idempotent reprocessing, staleness policy,
incremental state) map onto Structured Streaming primitives:

- ``Trigger.AvailableNow`` + idempotent sink  ≙  the count-guarded daily batch
- watermarks                                   ≙  the >3-days-stale skip policy
- tumbling/session windows over ``events``    ≙  the natural extension the
  fixture invites (same aggregates as the batch queries, oracle-checked there)

``run_stream_aggregation`` executes the SAME logical aggregation as the batch
query through the streaming engine, so tests can assert batch/stream parity —
the property that makes the daily pipeline re-runnable as an incremental one.

Every stream that ends in a memory sink runs through :func:`run_to_memory`
(AvailableNow trigger, :func:`drain`, the sink read back as a static frame).
Pass ``state_partitions=BOUNDED_STATE_PARTITIONS`` when the stream's state
cardinality is fixed by the query (windows × segments, sketch registers, a
watermark horizon) rather than by the data; keep the session default when
state grows with the data (per-user totals).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import SHUFFLE_PARTITIONS_CONF

# Shuffle partitions for a stream whose state cardinality is bounded by the
# query, not the data. Each stateful shuffle partition opens state-store
# providers and commits them on every micro-batch (a stream-stream join opens
# four per partition; a pandas state kernel adds a Python worker hop), so
# beyond a handful of partitions the session default — the host's task slots,
# 32 on a 32-core host — buys store commits, not parallelism. The bound that
# makes 8 right here (registers, windows, segments) holds at any corpus size.
BOUNDED_STATE_PARTITIONS = 8


def drain(q, timeout_sec: int = 240) -> None:
    """Block until an AvailableNow stream finishes, RAISING on timeout.

    ``awaitTermination`` returns False (no exception) when the clock runs
    out while batches are still committing; every caller that then reads
    the memory sink would silently consume a partial, nondeterministic
    result. Centralizing the check turns that failure mode into a loud
    error (code-review finding, round 4)."""
    if not q.awaitTermination(timeout_sec):
        try:
            q.stop()
        finally:
            raise TimeoutError(
                f"streaming query {q.name or q.id} did not finish within "
                f"{timeout_sec}s; memory-sink contents would be partial"
            )


def run_to_memory(
    df: DataFrame, output_mode: str, state_partitions: int | None = None
) -> DataFrame:
    """Run a streaming frame to completion into a uniquely named memory sink
    (``Trigger.AvailableNow``, :func:`drain`) and return the sink as a static
    DataFrame.

    ``state_partitions`` sets ``spark.sql.shuffle.partitions`` for this
    stream only: a streaming query takes its conf from the session when it
    starts and keeps that shuffle-partition count for its whole run, so the
    session value is restored right after ``.start()``, also when
    ``.start()`` raises."""
    spark = df.sparkSession
    name = f"stream_{uuid.uuid4().hex}"
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    old = spark.conf.get(SHUFFLE_PARTITIONS_CONF)
    if state_partitions is not None:
        spark.conf.set(SHUFFLE_PARTITIONS_CONF, str(state_partitions))
    try:
        q = writer.start()
    finally:
        spark.conf.set(SHUFFLE_PARTITIONS_CONF, old)
    drain(q)
    return spark.table(name)


def _stage_slices(src_path: str, tag: str, n_files: int, write_slices) -> str:
    """Stage a fixture into ordered slice files under a cache dir keyed by
    the source file's CONTENT hash (not size+mtime: a fixture regenerated
    within the same second with identical size must still invalidate), and
    build atomically — slices are written into a process-private temp dir
    that is renamed into place, so a concurrent process can never observe
    half-written parquet. Returns the staged directory path.

    ``write_slices(pdf_path, out_dir)`` must write ``slice-%03d.parquet``
    files; this helper stamps their mtimes strictly increasing so the file
    source replays them in slice order."""
    import hashlib
    import os
    import shutil

    h = hashlib.md5()
    with open(src_path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    ident = f"{tag}|{h.hexdigest()}|{n_files}"
    stage = f"/tmp/pse_{tag}_{hashlib.md5(ident.encode()).hexdigest()[:12]}"
    if os.path.isdir(stage):
        return stage
    tmp = f"{stage}.tmp-{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    try:
        write_slices(src_path, tmp)
        for i in range(n_files):
            os.utime(f"{tmp}/slice-{i:03d}.parquet", (1_000_000 + i, 1_000_000 + i))
    except BaseException:
        # a failed build must not orphan the process-private temp dir
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, stage)  # atomic publish; loser of a race cleans up
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(stage):
            raise
    return stage


def stream_events(spark: SparkSession, sf_dir: str, with_watermark: str | None = "1 hour") -> DataFrame:
    """events as an unbounded stream (file source, one-file micro-batch).

    The ts shim mirrors catalog.normalize_event_ts: whatever physical type
    the fixture encodes, the stream carries a µs TimestampType.
    """
    from ..catalog import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    # The file source requires a directory; stage a symlink dir (the fixture
    # is a single file — a real deployment points this at the table root).
    import hashlib
    import os

    stage = f"/tmp/pse_stream_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    os.makedirs(stage, exist_ok=True)
    link = f"{stage}/events.parquet"
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    stream = normalize_event_ts(
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    if with_watermark:
        stream = stream.withWatermark("ts", with_watermark)
    return stream


def tumbling_counts_stream(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window counts/sums per event_type — the streaming twin of the
    batch ``tumbling_window_agg`` query."""
    return (
        events.groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def run_stream_aggregation(
    spark: SparkSession,
    sf_dir: str,
    agg_builder=tumbling_counts_stream,
    with_watermark: str | None = "1 hour",
) -> DataFrame:
    """Run a streaming aggregation to completion with AvailableNow semantics
    and return the final result as a static DataFrame (memory sink).

    Complete output mode: every trigger emits full state — matching the
    reference's overwrite-the-day idempotent sink pattern.
    """
    events = stream_events(spark, sf_dir, with_watermark=with_watermark)
    return run_to_memory(agg_builder(events), "complete")


def run_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join driven to completion: the events
    STREAM joins the static customer dimension on every micro-batch
    (Structured Streaming re-plans the static side per batch — the
    always-fresh-dim lookup pattern), then aggregates per (hour window,
    market segment) in complete mode.

    Scale shape: the static side is a dimension — Spark broadcasts it
    into each micro-batch's join; the streaming state is the windowed
    aggregate only (bounded by windows × segments), never the joined
    rows. This is the canonical 'enrich the firehose against the
    warehouse dim' topology; batch parity is the oracle."""
    events = stream_events(spark, sf_dir, with_watermark=None)
    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    agg = (
        events.join(dim, "user_id")
        .groupBy(F.window("ts", "1 hour").alias("win"), "c_mktsegment")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
    )
    return run_to_memory(agg, "complete", BOUNDED_STATE_PARTITIONS)


def stream_documents_ordered(
    spark: SparkSession, sf_dir: str, n_files: int = 5
) -> DataFrame:
    """documents as a doc_id-ORDERED ingest stream: the fixture table is
    staged as ``n_files`` contiguous doc_id slices with strictly increasing
    modification times, so the file source (oldest-first, one file per
    trigger) replays the corpus in doc_id order — the ordering contract an
    incremental ingest pipeline provides by construction (appends arrive
    after the corpus they extend). Production points this at the ingest
    directory instead of staging."""
    import pandas as pd

    static = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def write_slices(src: str, out: str) -> None:
        pdf = pd.read_parquet(src).sort_values("doc_id")
        cuts = [round(i * len(pdf) / n_files) for i in range(n_files + 1)]
        for i in range(n_files):
            pdf.iloc[cuts[i] : cuts[i + 1]].to_parquet(
                f"{out}/slice-{i:03d}.parquet", index=False
            )

    stage = _stage_slices(
        f"{sf_dir}/documents.parquet", "docstream", n_files, write_slices
    )
    return (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )


def stream_events_shuffled(
    spark: SparkSession, sf_dir: str, n_files: int = 5
) -> DataFrame:
    """events as a deterministically OUT-OF-ORDER ingest stream: rows are
    staged into ``n_files`` slices by md5(event_id) order (event_id is
    nearly monotone in ts, so hash order scatters event time across
    batches — the shape a multi-source ingest actually delivers), with
    strictly increasing modification times so the file source replays
    the slices in a fixed arrival order. Slice cuts are floor-division
    (``i*n//n_files``) so an oracle can re-derive the exact batch
    membership of every row."""
    import hashlib

    import pandas as pd

    def write_slices(src: str, out: str) -> None:
        pdf = pd.read_parquet(src)
        order = pdf["event_id"].map(
            lambda e: hashlib.md5(str(e).encode()).hexdigest()
        )
        pdf = (
            pdf.assign(_o=order)
            .sort_values(["_o", "event_id"])
            .drop(columns="_o")
        )
        n = len(pdf)
        for i in range(n_files):
            pdf.iloc[i * n // n_files : (i + 1) * n // n_files].to_parquet(
                f"{out}/slice-{i:03d}.parquet", index=False
            )

    stage = _stage_slices(
        f"{sf_dir}/events.parquet", "evshuf", n_files, write_slices
    )
    from ..catalog import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Schema from the STAGED slices, not the source file: the pandas rewrite
    # may re-encode the fixture's timestamp physical type.
    staged_schema = spark.read.parquet(stage).schema
    return normalize_event_ts(
        spark.readStream.schema(staged_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
