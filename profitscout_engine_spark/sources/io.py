"""Sources & sinks (SURVEY §2.1 S1-S17): every read/write pattern the
reference uses against BigQuery/GCS/Firestore/CSV, re-expressed on
Parquet tables + the Spark catalog.

Provenance map (behavior, not code — reference is /root/reference):
- S1  SQL scan over a table             → :func:`read_table` + temp view
- S4  text universe file → upper/trim/dedup set (overnight_scanner.py:299-311)
                                        → :func:`read_universe`
- S3  nested-JSON flatten (polygon_client.py:95-119) → :func:`flatten_structs`
- S5/S15 CSV scan/sink (analyze_sweep.py:3; run_sweep.py:300-301)
                                        → :func:`read_csv` / :func:`write_csv`
- S7  streaming-insert append (overnight_scanner.py:795) → :func:`append_rows`
- S8  load-append w/ schema evolution, ALLOW_FIELD_ADDITION
      (enrichment-trigger/main.py:763-777) → :func:`append_evolving`
- S9  WRITE_TRUNCATE staging (win-tracker/main.py:602-606) → :func:`truncate_load`
- S10 delete-partition + insert, idempotent daily overwrite
      (enrichment-trigger/main.py:744-746) → :func:`overwrite_day_partition`
- S11 MERGE upsert (win-tracker/main.py:608-635) → :func:`merge_upsert`
- S12 CTAS archive (reset_forward_paper_ledger_v3.sql:6-8) → :func:`ctas`
- S13 partition+cluster DDL (overnight_scanner.py:722-726) → :func:`write_partitioned`
- S14 keyed-document sink, {date}_{ticker} ids (enrichment-trigger/main.py:798-904)
                                        → :func:`write_keyed_documents`
- S16 INFORMATION_SCHEMA presence check (task1_verify_schema.py:6-22)
                                        → :func:`verify_columns`
- S17 idempotency count-guard (overnight_scanner.py:816-827) → :func:`already_ran`

Scale stance: all sinks are path-based Parquet with partition layouts a
1000-executor writer can produce concurrently; the MERGE rewrite reads
only the touched partitions when ``partition_col`` is given (partition
pruning is the difference between rewriting a day and rewriting 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .txn import _merge_frames, _partition_filter, _prunable_partitions


# --- readers ------------------------------------------------------------------
def read_table(spark: SparkSession, path: str, view: str | None = None) -> DataFrame:
    """S1: parquet table scan; optionally register a temp view for SQL."""
    df = spark.read.parquet(path)
    if view:
        df.createOrReplaceTempView(view)
    return df


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Columnar-format breadth: ORC scan (footer stats + predicate
    pushdown work exactly as with parquet — `PushedFilters` appears in
    the plan). The engine's table layer is format-agnostic: any
    path-based columnar store slots in behind the same query surface."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, partition_col: str | None = None) -> None:
    """ORC sink, optionally hive-partitioned — the S13 layout on the
    second columnar format."""
    w = df.write.mode("overwrite")
    if partition_col:
        w = w.partitionBy(partition_col)
    w.orc(path)


def read_csv(spark: SparkSession, path: str, schema: StructType | str | None = None) -> DataFrame:
    """S5: header CSV with schema inference (research result files)."""
    r = spark.read.option("header", "true")
    return r.csv(path, schema=schema) if schema else r.option("inferSchema", "true").csv(path)


def read_universe(spark: SparkSession, path: str) -> DataFrame:
    """S4: one-symbol-per-line text file → upper/trim/dedup single-column
    frame (broadcast-sized membership dim for P6 semi-filters)."""
    return (
        spark.read.text(path)
        .select(F.upper(F.trim("value")).alias("ticker"))
        .where(F.col("ticker") != "")
        .distinct()
    )


def read_json_flat(spark: SparkSession, path: str, prefix_sep: str = "_") -> DataFrame:
    """S2/S3: JSON-lines ingest + full struct flatten (the API-snapshot →
    flat-row step; pagination/throttling live in the fetcher, not here)."""
    return flatten_structs(spark.read.json(path), prefix_sep)


def flatten_structs(df: DataFrame, prefix_sep: str = "_") -> DataFrame:
    """S3: recursively flatten struct columns to leaf columns
    (details.strike_price → details_strike_price)."""
    while True:
        struct_cols = [f.name for f in df.schema.fields if f.dataType.typeName() == "struct"]
        if not struct_cols:
            return df
        cols = []
        for f in df.schema.fields:
            if f.name in struct_cols:
                inner = df.schema[f.name].dataType
                cols.extend(
                    F.col(f"`{f.name}`.`{sub.name}`").alias(f"{f.name}{prefix_sep}{sub.name}")
                    for sub in inner.fields
                )
            else:
                cols.append(F.col(f"`{f.name}`"))
        df = df.select(*cols)


# --- sinks --------------------------------------------------------------------
def append_rows(df: DataFrame, path: str) -> None:
    """S7: plain append (streaming-insert equivalent)."""
    df.write.mode("append").parquet(path)


def append_evolving(df: DataFrame, path: str) -> None:
    """S8: append allowing field addition; readers get the superset via
    mergeSchema (the BigQuery autodetect+ALLOW_FIELD_ADDITION pattern)."""
    df.write.mode("append").option("mergeSchema", "true").parquet(path)


def read_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Reader side of S8: union of every writer's schema."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def truncate_load(df: DataFrame, path: str) -> None:
    """S9: WRITE_TRUNCATE staging table."""
    df.write.mode("overwrite").parquet(path)


def write_partitioned(df: DataFrame, path: str, partition_col: str, cluster_cols: list[str]) -> None:
    """S13: day-partitioned + clustered layout: partitionBy(scan_date),
    sortWithinPartitions(score, ticker) for scan locality."""
    (
        df.repartition(F.col(partition_col))
        .sortWithinPartitions(*cluster_cols)
        .write.mode("append")
        .partitionBy(partition_col)
        .parquet(path)
    )


def overwrite_day_partition(df: DataFrame, path: str, partition_col: str) -> None:
    """S10: idempotent daily overwrite — replaces ONLY the partitions
    present in ``df`` (dynamic partitionOverwriteMode), other days
    untouched. The delete-partition-then-insert pattern, atomic per
    partition and safe to re-run."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    keys: list[str],
    partition_col: str | None = None,
) -> None:
    """S11: MERGE ... WHEN MATCHED UPDATE on vanilla Parquet, rewritten as
    read → left-anti/coalesce join → overwrite.

    Matched target rows take the source's non-key column values
    (COALESCE(source, target) per the reference's update list); unmatched
    target rows pass through; source rows with no target match are
    inserted (WHEN NOT MATCHED). When ``partition_col`` is given, only
    partitions containing source keys are read+rewritten (partition
    pruning — at 100 TB you rewrite the touched days, not the table);
    the rewrite then goes through the dynamic-overwrite path (S10). The
    row rules, the NULL-aware partition filter and the cross-partition key
    probe are the ones :func:`.txn.merge_upsert_txn` commits with: a
    touched NULL partition is read back too, because the overwrite
    replaces it, and a source key that moves partitions makes the merge
    rewrite the whole table (every partition, static overwrite).
    """
    target = spark.read.parquet(target_path)
    touched = (
        _prunable_partitions(target, source, keys, partition_col) if partition_col else None
    )
    if touched is not None:
        merged = _merge_frames(
            target.where(_partition_filter(partition_col, touched)), source, keys
        )
        overwrite_day_partition(merged, target_path, partition_col)
        return
    # cut lineage off the path being replaced
    staged = _merge_frames(target, source, keys).localCheckpoint()
    w = staged.write.mode("overwrite")
    if partition_col:
        # static: a partition the moved keys emptied must go too
        w = w.option("partitionOverwriteMode", "static").partitionBy(partition_col)
    w.parquet(target_path)


def ctas(spark: SparkSession, sql: str, path: str) -> DataFrame:
    """S12: CREATE-TABLE-AS-SELECT archive — materialize a SQL result."""
    df = spark.sql(sql)
    df.write.mode("overwrite").parquet(path)
    return df


def write_csv(df: DataFrame, path: str) -> None:
    """S15: single-file CSV research ledger."""
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)


def write_keyed_documents(df: DataFrame, path: str, key_cols: list[str], sep: str = "_") -> None:
    """S14: keyed-document sink — composite doc id ({date}_{ticker}),
    last-write-wins per key (the Firestore merge=True mirror as a second
    keyed table; partition-level batching replaces the 400-doc batches)."""
    keyed = df.withColumn("doc_id", F.concat_ws(sep, *[F.col(c).cast("string") for c in key_cols]))
    dedup = keyed.dropDuplicates(["doc_id"])
    dedup.write.mode("overwrite").parquet(path)


# --- catalog / guards ---------------------------------------------------------
def verify_columns(df: DataFrame, required: dict[str, str]) -> dict[str, bool]:
    """S16: schema presence check — {column: type} → {column: present&typed}."""
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return {c: actual.get(c) == t for c, t in required.items()}


def already_ran(spark: SparkSession, path: str, partition_col: str, value) -> bool:
    """S17: idempotency guard — does output already exist for this day?
    limit(1) probe with partition pruning: O(1) regardless of table size."""
    try:
        df = spark.read.parquet(path)
    except Exception:
        return False
    return len(df.where(F.col(partition_col) == F.lit(value)).limit(1).collect()) > 0


def write_bucketed(
    df: DataFrame, table: str, key: str, buckets: int, sort: bool = True
) -> None:
    """S13+ (scale layout): hash-bucketed, bucket-sorted managed table.

    Both sides of a recurring equi-join written with the SAME bucket
    count on the join key join WITHOUT a shuffle (and without the sort,
    when bucket-sorted) — the co-located-join layout that amortizes one
    write-time shuffle across every subsequent join at 100 TB. The
    clustered-table idea of the reference's BigQuery DDL
    (overnight_scanner.py:722-726), taken to its Spark conclusion.
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
    bits: int = 8,
) -> None:
    """Z-order (Morton-curve) file layout for multi-dimensional data skipping.

    A range/linear sort concentrates ONE column's values per file, so
    parquet min/max footer stats prune scans filtered on that column but
    no other. Interleaving the bits of every clustering column's bucket
    rank gives each file a tight bounding box in ALL of them — a filter
    on any subset of ``cols`` skips most files. This is the layout trick
    lakehouse OPTIMIZE ZORDER applies; here it is pure DataFrame algebra:

    1. one agg computes each column's (min, max) — a footer-served probe;
    2. each value maps to a ``bits``-bit equal-width bucket rank
       (``width_bucket`` over the min-max span, codegen'd);
    3. ranks interleave into the Morton key (bit shifts — no UDF);
    4. ``repartitionByRange`` on the key (sampled range boundaries →
       balanced files even for skewed keys) + in-partition sort, so each
       output file covers one compact curve segment.

    Equal-width buckets are deliberate: rank-based (quantile) bucketing
    would need a global sort or sketch pass; min/max come from footers.
    Skewed dimensions degrade toward fewer effective bits — acceptable
    for the file-skipping use, and the range partitioner keeps file
    SIZES balanced regardless.
    """
    (
        zorder_layout(df, cols, n_files, bits)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_layout(
    df: DataFrame, cols: list[str], n_files: int, bits: int = 8
) -> DataFrame:
    """The Morton-curve clustering of :func:`write_zorder` as a reusable
    layout transform (returns the repartitioned+sorted frame, writes
    nothing) — shared with the txn table's compaction maintenance op."""
    stats = df.agg(
        *[F.min(c).alias(f"_mn_{c}") for c in cols],
        *[F.max(c).alias(f"_mx_{c}") for c in cols],
    ).collect()[0]
    n_buckets = 1 << bits
    ncols = len(cols)
    ranks = []
    for c in cols:
        mn, mx = float(stats[f"_mn_{c}"]), float(stats[f"_mx_{c}"])
        if mx <= mn:  # constant column — contributes nothing to the curve
            ranks.append(F.lit(0))
            continue
        ranks.append(
            F.least(
                F.lit(n_buckets - 1),
                F.expr(
                    f"width_bucket(CAST(`{c}` AS DOUBLE), {mn!r}, {mx!r}, {n_buckets})"
                )
                - F.lit(1),
            ).cast("long")
        )
    zkey = F.lit(0).cast("long")
    for ci, rank in enumerate(ranks):
        for b in range(bits):
            zkey = zkey + F.shiftleft(
                F.shiftright(rank, b).bitwiseAND(F.lit(1)), b * ncols + ci
            ).cast("long")
    return (
        df.withColumn("_zkey", zkey)
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    order_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet table root into files of
    ~``target_file_mb`` each, returning the new file count.

    Streaming/micro-batch sinks (S7/S14) accrete thousands of tiny files;
    at 100 TB that means metadata-bound planning and per-file open cost
    dominating scans. The file count derives from the table's actual
    on-disk bytes (driver-side directory listing — metadata, not data),
    then one round-robin (or range, when ``order_cols`` given) shuffle
    rewrites to a staging dir which is atomically swapped in — readers
    see the old files or the new, never a mix.

    The swap uses posix rename, i.e. assumes a local/posix-rename store;
    on an object store the same protocol runs through the Hadoop
    FileSystem API (or a lakehouse format's REPLACE), with the listing
    served by `fs.listFiles`.
    """
    import os
    import shutil
    import uuid

    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    n_files = max(1, round(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    shaped = (
        df.repartitionByRange(n_files, *order_cols)
        if order_cols
        else df.repartition(n_files)
    )
    staging = f"{path}__compact_{uuid.uuid4().hex[:8]}"
    shaped.write.mode("overwrite").parquet(staging)
    backup = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)
    return n_files
