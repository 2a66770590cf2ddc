"""Transactional version-pointer tables (sources/txn.py): atomic publish,
snapshot isolation, time travel, optimistic concurrency, crash safety,
and MERGE parity with the non-transactional S11 rewrite."""

from __future__ import annotations

import os

import pytest

from profitscout_engine_spark.sources import io, txn


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "vtable")


def _frame(spark, rows):
    return spark.createDataFrame(rows, "k int, val string, qty int")


def test_commit_and_read_round_trip(spark, root):
    v1 = txn.commit_snapshot(_frame(spark, [(1, "a", 10), (2, "b", 20)]), root)
    assert v1 == 1
    got = {r["k"]: r["val"] for r in txn.read_versioned(spark, root).collect()}
    assert got == {1: "a", 2: "b"}


def test_time_travel_and_latest(spark, root):
    txn.commit_snapshot(_frame(spark, [(1, "a", 10)]), root)
    txn.commit_snapshot(_frame(spark, [(1, "a2", 11)]), root)
    assert txn.current_version(root) == 2
    assert txn.read_versioned(spark, root).collect()[0]["val"] == "a2"
    assert txn.read_versioned(spark, root, version=1).collect()[0]["val"] == "a"


def test_crash_before_pointer_flip_is_invisible(spark, root):
    txn.commit_snapshot(_frame(spark, [(1, "a", 10)]), root)
    # Simulate a writer that staged a full snapshot dir but died before
    # the pointer flip: readers must still see v1.
    ghost = txn.snapshot_path(root, 2)
    _frame(spark, [(9, "ghost", 0)]).write.parquet(ghost + "__staging_dead")
    assert txn.current_version(root) == 1
    got = [r["val"] for r in txn.read_versioned(spark, root).collect()]
    assert got == ["a"]


def test_optimistic_concurrency_conflict(spark, root):
    txn.commit_snapshot(_frame(spark, [(1, "a", 10)]), root)
    # Writer B commits first; writer A (based on v1) must fail, not clobber.
    txn.commit_snapshot(_frame(spark, [(1, "b", 20)]), root, expected_version=1)
    with pytest.raises(txn.ConcurrentCommitError):
        txn.commit_snapshot(_frame(spark, [(1, "lost", 0)]), root, expected_version=1)
    assert txn.read_versioned(spark, root).collect()[0]["val"] == "b"
    # Failed commit left no staging debris.
    assert not [d for d in os.listdir(root) if "__staging" in d]


def test_merge_txn_matches_plain_merge(spark, root, tmp_path):
    base = [(1, "a", 10), (2, "b", 20), (3, "c", 30)]
    source = _frame(spark, [(2, "B!", None), (4, "d", 40)])  # update k=2, insert k=4

    # Plain S11 rewrite on a throwaway copy.
    plain = str(tmp_path / "plain")
    _frame(spark, base).write.parquet(plain)
    io.merge_upsert(spark, plain, source, keys=["k"])
    want = {(r["k"], r["val"], r["qty"]) for r in spark.read.parquet(plain).collect()}

    # Transactional merge.
    txn.commit_snapshot(_frame(spark, base), root)
    v = txn.merge_upsert_txn(spark, root, source, keys=["k"])
    got = {(r["k"], r["val"], r["qty"]) for r in txn.read_versioned(spark, root).collect()}
    assert v == 2
    assert got == want
    # Matched row took source val but kept target qty (COALESCE semantics).
    assert (2, "B!", 20) in got and (4, "d", 40) in got
    # Pre-merge snapshot still intact (time travel).
    assert len(txn.read_versioned(spark, root, version=1).collect()) == 3


def test_partitioned_merge_links_untouched_partitions(spark, root):
    """Partition-pruned txn MERGE: touched day rewritten, untouched days
    hard-linked (same inode — zero data copied), rows exact."""
    base = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c"), (4, "d3", "d")],
        "k int, day string, val string",
    )
    assert txn.commit_snapshot(base, root, partition_col="day") == 1
    source = spark.createDataFrame([(3, "d2", "C!"), (9, "d2", "new")],
                                   "k int, day string, val string")
    v2 = txn.merge_upsert_txn(spark, root, source, keys=["k"], partition_col="day")
    assert v2 == 2
    got = {(r["k"], r["day"], r["val"]) for r in txn.read_versioned(spark, root).collect()}
    assert got == {
        (1, "d1", "a"), (2, "d1", "b"), (3, "d2", "C!"), (4, "d3", "d"), (9, "d2", "new"),
    }
    # Untouched partitions share inodes with the base snapshot (hard links).
    for day in ("d1", "d3"):
        b_dir = os.path.join(txn.snapshot_path(root, 1), f"day={day}")
        n_dir = os.path.join(txn.snapshot_path(root, 2), f"day={day}")
        b_files = sorted(f for f in os.listdir(b_dir) if f.endswith(".parquet"))
        n_files = sorted(f for f in os.listdir(n_dir) if f.endswith(".parquet"))
        assert b_files == n_files and b_files
        for f in b_files:
            assert os.stat(os.path.join(b_dir, f)).st_ino == os.stat(
                os.path.join(n_dir, f)
            ).st_ino
    # Touched partition was rewritten (no inode sharing is required there;
    # its content is the merged rows, already checked above).


def test_vacuum_keeps_live_and_recent(spark, root):
    for i in range(4):
        txn.commit_snapshot(_frame(spark, [(1, f"v{i+1}", i)]), root)
    removed = txn.vacuum(root, keep=2)
    assert removed == [1, 2]
    assert txn.read_versioned(spark, root).collect()[0]["val"] == "v4"
    assert txn.read_versioned(spark, root, version=3).collect()[0]["val"] == "v3"
    with pytest.raises(Exception):
        txn.read_versioned(spark, root, version=1).collect()


def test_delete_where_txn_partitioned(spark, root):
    """GDPR-style transactional delete: matching rows vanish atomically,
    untouched partitions hard-link, history retains pre-delete state
    until vacuum."""
    base = spark.createDataFrame(
        [(1, "d1", "keep"), (2, "d2", "purge"), (3, "d2", "keep"), (4, "d3", "keep")],
        "k int, day string, val string",
    )
    txn.commit_snapshot(base, root, partition_col="day")
    v2 = txn.delete_where_txn(spark, root, "val = 'purge'", partition_col="day")
    assert v2 == 2
    got = {(r["k"], r["val"]) for r in txn.read_versioned(spark, root).collect()}
    assert got == {(1, "keep"), (3, "keep"), (4, "keep")}
    # d1/d3 untouched -> hard-linked (same inode)
    for day in ("d1", "d3"):
        b_dir = os.path.join(txn.snapshot_path(root, 1), f"day={day}")
        n_dir = os.path.join(txn.snapshot_path(root, 2), f"day={day}")
        for f in os.listdir(b_dir):
            if f.endswith(".parquet"):
                assert os.stat(os.path.join(b_dir, f)).st_ino == os.stat(
                    os.path.join(n_dir, f)
                ).st_ino
    # history retains the purged row until vacuum (the erasure step)
    old = {r["k"] for r in txn.read_versioned(spark, root, version=1).collect()}
    assert 2 in old
    txn.vacuum(root, keep=1)
    import pytest as _pytest
    with _pytest.raises(Exception):
        txn.read_versioned(spark, root, version=1).collect()


def test_delete_where_txn_unpartitioned(spark, root):
    txn.commit_snapshot(_frame(spark, [(1, "a", 1), (2, "b", 2), (3, "c", 3)]), root)
    txn.delete_where_txn(spark, root, "k >= 2")
    got = {r["k"] for r in txn.read_versioned(spark, root).collect()}
    assert got == {1}


def test_delete_with_special_char_partition_values(spark, root):
    """Hive-escaped partition dirs (':' -> '%3A', ' ' -> '%20'): commit
    bookkeeping must recognize the touched dir by its WRITER name, or the
    base files get hard-linked in alongside the rewrite — duplicating
    kept rows and resurrecting purged ones."""
    base = spark.createDataFrame(
        [(1, "a:1", "purge"), (2, "a:1", "keep"), (3, "b 2", "keep")],
        "k int, day string, val string",
    )
    txn.commit_snapshot(base, root, partition_col="day")
    txn.delete_where_txn(spark, root, "val = 'purge'", partition_col="day")
    got = sorted((r["k"], r["day"]) for r in txn.read_versioned(spark, root).collect())
    assert got == [(2, "a:1"), (3, "b 2")]


def test_delete_emptying_a_partition_does_not_resurrect(spark, root):
    """A touched partition whose rows are ALL deleted produces no staging
    dir; the linker must still not link the base dir back in."""
    base = spark.createDataFrame(
        [(1, "d1", "purge"), (2, "d1", "purge"), (3, "d2", "keep")],
        "k int, day string, val string",
    )
    txn.commit_snapshot(base, root, partition_col="day")
    txn.delete_where_txn(spark, root, "val = 'purge'", partition_col="day")
    assert {r["k"] for r in txn.read_versioned(spark, root).collect()} == {3}


def test_delete_null_predicate_keeps_rows_everywhere(spark, root):
    """SQL DELETE removes only predicate-TRUE rows; NULL keeps the row —
    identically in rewritten and hard-linked partitions."""
    base = spark.createDataFrame(
        [(1, "d1", "X"), (2, "d1", None), (3, "d2", None), (4, "d2", "Y")],
        "k int, day string, val string",
    )
    txn.commit_snapshot(base, root, partition_col="day")
    txn.delete_where_txn(spark, root, "val = 'X'", partition_col="day")
    assert {r["k"] for r in txn.read_versioned(spark, root).collect()} == {2, 3, 4}
    root2 = root + "_flat"
    txn.commit_snapshot(base, root2)
    txn.delete_where_txn(spark, root2, "val = 'X'")
    assert {r["k"] for r in txn.read_versioned(spark, root2).collect()} == {2, 3, 4}


def test_delete_null_partition_value(spark, root):
    """NULL partition values land in __HIVE_DEFAULT_PARTITION__; a delete
    touching them must rewrite that dir, not link it through."""
    base = spark.createDataFrame(
        [(1, None, "purge"), (2, None, "keep"), (3, "d2", "keep")],
        "k int, day string, val string",
    )
    txn.commit_snapshot(base, root, partition_col="day")
    txn.delete_where_txn(spark, root, "val = 'purge'", partition_col="day")
    got = sorted(
        (r["k"], r["day"]) for r in txn.read_versioned(spark, root).collect()
    )
    assert got == [(2, None), (3, "d2")]


def _merge_txn(spark, root, base, source):
    txn.commit_snapshot(base, root, partition_col="day")
    txn.merge_upsert_txn(spark, root, source, keys=["k"], partition_col="day")
    return txn.read_versioned(spark, root).collect()


def _merge_plain(spark, root, base, source):
    base.write.partitionBy("day").parquet(root)
    io.merge_upsert(spark, root, source, keys=["k"], partition_col="day")
    return spark.read.parquet(root).collect()


@pytest.mark.parametrize(
    "merge", [_merge_txn, _merge_plain], ids=["merge_upsert_txn", "merge_upsert"]
)
def test_merge_cross_partition_key_move_no_duplicates(spark, root, merge):
    """A source key that exists in the target under a DIFFERENT partition
    value: pruning alone would keep the old row and insert the new one
    (duplicate keys). The cross-partition probe must detect it and fall
    back to the full merge — which also drops the partition the move
    emptied (d2)."""
    base = spark.createDataFrame(
        [(1, "d1", "a"), (3, "d2", "c")], "k int, day string, val string"
    )
    source = spark.createDataFrame([(3, "d3", "moved")], "k int, day string, val string")
    rows = merge(spark, root, base, source)
    assert sorted(r["k"] for r in rows) == [1, 3]
    assert {(r["k"], r["day"], r["val"]) for r in rows} == {
        (1, "d1", "a"),
        (3, "d3", "moved"),
    }


def test_merge_pruned_when_partition_in_keys(spark, root):
    """With partition_col in keys a key cannot cross partitions; the merge
    stays pruned (untouched dirs hard-linked, no probe scan needed)."""
    base = spark.createDataFrame(
        [(1, "d1", "a"), (3, "d2", "c")], "k int, day string, val string"
    )
    txn.commit_snapshot(base, root, partition_col="day")
    source = spark.createDataFrame([(3, "d2", "C!")], "k int, day string, val string")
    txn.merge_upsert_txn(spark, root, source, keys=["k", "day"], partition_col="day")
    got = {(r["k"], r["day"], r["val"]) for r in txn.read_versioned(spark, root).collect()}
    assert got == {(1, "d1", "a"), (3, "d2", "C!")}
    b_dir = os.path.join(txn.snapshot_path(root, 1), "day=d1")
    n_dir = os.path.join(txn.snapshot_path(root, 2), "day=d1")
    for f in os.listdir(b_dir):
        if f.endswith(".parquet"):
            assert os.stat(os.path.join(b_dir, f)).st_ino == os.stat(
                os.path.join(n_dir, f)
            ).st_ino


def test_orphaned_snapshot_dir_recovery(spark, root):
    """Crash between os.rename(staging, final) and the pointer flip leaves
    an orphaned (pointer-invisible) v2 dir; the next commit must reclaim
    it instead of failing ENOTEMPTY."""
    txn.commit_snapshot(_frame(spark, [(1, "a", 1)]), root)
    _frame(spark, [(9, "ghost", 0)]).write.parquet(txn.snapshot_path(root, 2))
    assert txn.current_version(root) == 1
    assert txn.commit_snapshot(_frame(spark, [(1, "b", 2)]), root) == 2
    assert txn.read_versioned(spark, root).collect()[0]["val"] == "b"


def test_reader_pinned_snapshot_across_vacuum(spark, root):
    """A reader on the LIVE snapshot keeps working after vacuum (its files
    are hard links — the inodes survive the old dir's removal); a reader
    pinned on the vacuumed version fails loudly, never partially."""
    base = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d2", "purge")], "k int, day string, val string"
    )
    txn.commit_snapshot(base, root, partition_col="day")
    txn.delete_where_txn(spark, root, "val = 'purge'", partition_col="day")
    live = txn.read_versioned(spark, root)  # v2; day=d1 hard-linked from v1
    stale = txn.read_versioned(spark, root, version=1)  # plan resolved pre-vacuum
    txn.vacuum(root, keep=1)
    assert {r["k"] for r in live.collect()} == {1}
    with pytest.raises(Exception):
        stale.collect()
    with pytest.raises(Exception):
        txn.read_versioned(spark, root, version=1)


def _checksum(df):
    """Order-independent row-identity digest: xor-fold of per-row md5."""
    from pyspark.sql import functions as F

    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns]
    digest = F.conv(F.substring(F.md5(F.concat_ws("\x1f", *cols)), 1, 15), 16, 10)
    return df.agg(F.bit_xor(digest.cast("long"))).collect()[0][0]


def test_compact_snapshot_preserves_rows_and_reduces_files(spark, root):
    """OPTIMIZE bin-packing: many micro-append-sized files in, few files
    out, EXACT same row multiset (checksum oracle), old version still
    time-travelable, pointer advanced atomically."""
    base = spark.range(2000).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id % 97 AS STRING) AS val", "CAST(id % 13 AS INT) AS qty"
    ).repartition(64)  # 64 small files — the micro-append aftermath
    txn.commit_snapshot(base, root)
    before = _checksum(txn.read_versioned(spark, root))
    n_before = sum(
        f.endswith(".parquet")
        for _, _, fs in os.walk(txn.snapshot_path(root, 1))
        for f in fs
    )
    assert n_before == 64
    new_v, files_before, files_after = txn.compact_snapshot(
        spark, root, target_file_bytes=1 << 30
    )
    assert (new_v, files_before) == (2, 64)
    assert files_after < 8  # one fat target bucket (+ AQE coalescing slack)
    assert txn.current_version(root) == 2
    assert _checksum(txn.read_versioned(spark, root)) == before
    # time travel to the pre-compaction layout still works
    assert txn.read_versioned(spark, root, version=1).count() == 2000


def test_compact_snapshot_zorder_and_concurrency(spark, root):
    """The Z-ordered rewrite preserves row identity too, and a compaction
    planned against a stale version fails cleanly (no pointer motion)."""
    base = spark.range(1000).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id * 7 % 101 AS STRING) AS val",
        "CAST(id % 29 AS INT) AS qty"
    ).repartition(16)
    txn.commit_snapshot(base, root)
    before = _checksum(txn.read_versioned(spark, root))
    new_v, _, _ = txn.compact_snapshot(
        spark, root, target_file_bytes=1 << 30, zorder_cols=["k", "qty"]
    )
    assert new_v == 2
    assert _checksum(txn.read_versioned(spark, root)) == before
    with pytest.raises(txn.ConcurrentCommitError):
        txn.compact_snapshot(spark, root, expected_version=1)
    assert txn.current_version(root) == 2
