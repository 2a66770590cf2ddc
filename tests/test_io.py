"""Sources/sinks (SURVEY §2.1): round-trip and semantics tests for every
read/write pattern — partition overwrite keeps sibling days, MERGE updates
matched + inserts unmatched, schema evolution unions fields, keyed docs
are last-write-wins, guards detect prior runs."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from profitscout_engine_spark.sources import io

D1 = datetime.date(2024, 1, 2)
D2 = datetime.date(2024, 1, 3)


@pytest.fixture()
def ledger(spark):
    return spark.createDataFrame(
        [
            ("AAPL", D1, 6, None),
            ("MSFT", D1, 7, None),
            ("AAPL", D2, 8, None),
        ],
        "ticker string, scan_date date, score int, ret double",
    )


def test_partition_overwrite_keeps_other_days(spark, tmp_path, ledger):
    path = str(tmp_path / "t")
    io.write_partitioned(ledger, path, "scan_date", ["score", "ticker"])
    # Re-run day D1 with different rows — D2 must survive untouched.
    day1 = spark.createDataFrame(
        [("NVDA", D1, 9, None)], "ticker string, scan_date date, score int, ret double"
    )
    io.overwrite_day_partition(day1, path, "scan_date")
    out = spark.read.parquet(path)
    assert out.where(F.col("scan_date") == D1).count() == 1
    assert out.where(F.col("scan_date") == D1).first().ticker == "NVDA"
    assert out.where(F.col("scan_date") == D2).count() == 1  # untouched


def test_merge_upsert_updates_and_inserts(spark, tmp_path, ledger):
    path = str(tmp_path / "t")
    ledger.write.parquet(path)
    updates = spark.createDataFrame(
        [
            ("AAPL", D1, None, 4.2),   # matched: sets ret, keeps score (null source col)
            ("TSLA", D2, 5, -1.0),     # unmatched: inserted
        ],
        "ticker string, scan_date date, score int, ret double",
    )
    io.merge_upsert(spark, path, updates, keys=["ticker", "scan_date"])
    out = {(r.ticker, r.scan_date): r for r in spark.read.parquet(path).collect()}
    assert len(out) == 4
    assert out[("AAPL", D1)].ret == 4.2 and out[("AAPL", D1)].score == 6
    assert out[("MSFT", D1)].ret is None
    assert out[("TSLA", D2)].score == 5


def test_merge_upsert_partition_pruned(spark, tmp_path, ledger):
    path = str(tmp_path / "t")
    io.write_partitioned(ledger, path, "scan_date", ["ticker"])
    updates = spark.createDataFrame(
        [("AAPL", D2, 99, 1.5)], "ticker string, scan_date date, score int, ret double"
    )
    io.merge_upsert(spark, path, updates, keys=["ticker", "scan_date"], partition_col="scan_date")
    out = spark.read.parquet(path)
    assert out.where((F.col("ticker") == "AAPL") & (F.col("scan_date") == D2)).first().score == 99
    assert out.where(F.col("scan_date") == D1).count() == 2  # day not rewritten


def test_merge_upsert_keeps_null_partition_rows(spark, tmp_path):
    """A touched NULL partition is read back before the dynamic overwrite
    replaces it, so its unmatched rows survive — the same rows the
    transactional MERGE commits on the same input."""
    from profitscout_engine_spark.sources import txn

    schema = "k string, day date, v int"
    base = spark.createDataFrame([("A", None, 1), ("B", None, 2), ("C", D1, 3)], schema)
    source = spark.createDataFrame([("A", None, 10)], schema)
    path = str(tmp_path / "t")
    base.write.partitionBy("day").parquet(path)
    io.merge_upsert(spark, path, source, keys=["k"], partition_col="day")
    got = {(r.k, r.day, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {("A", None, 10), ("B", None, 2), ("C", D1, 3)}

    root = str(tmp_path / "vtable")
    txn.commit_snapshot(base, root, partition_col="day")
    txn.merge_upsert_txn(spark, root, source, keys=["k"], partition_col="day")
    assert got == {(r.k, r.day, r.v) for r in txn.read_versioned(spark, root).collect()}


def test_append_evolving_schema_union(spark, tmp_path):
    path = str(tmp_path / "t")
    io.append_rows(spark.createDataFrame([(1, "x")], "id long, a string"), path)
    io.append_evolving(spark.createDataFrame([(2, 3.5)], "id long, b double"), path)
    out = io.read_evolved(spark, path)
    assert set(out.columns) == {"id", "a", "b"}
    rows = {r.id: r for r in out.collect()}
    assert rows[1].a == "x" and rows[1].b is None and rows[2].b == 3.5


def test_truncate_load_and_ctas(spark, tmp_path, ledger):
    path = str(tmp_path / "stage")
    io.truncate_load(ledger, path)
    io.truncate_load(ledger.limit(1), path)  # WRITE_TRUNCATE replaces
    assert spark.read.parquet(path).count() == 1

    io.read_table(spark, path, view="stage_v")
    arch = io.ctas(spark, "SELECT ticker, score FROM stage_v", str(tmp_path / "arch"))
    assert arch.columns == ["ticker", "score"]
    assert spark.read.parquet(str(tmp_path / "arch")).count() == 1


def test_universe_reader(spark, tmp_path):
    p = tmp_path / "universe.txt"
    p.write_text(" aapl \nMSFT\naapl\n\nnvda\n")
    out = io.read_universe(spark, str(p))
    assert sorted(r.ticker for r in out.collect()) == ["AAPL", "MSFT", "NVDA"]


def test_json_flatten(spark, tmp_path):
    p = tmp_path / "chain.json"
    p.write_text(
        '{"ticker":"AAPL","details":{"strike_price":190.0,"type":"call"},'
        '"greeks":{"delta":0.55,"inner":{"gamma":0.1}}}\n'
    )
    out = io.read_json_flat(spark, str(p))
    row = out.first()
    assert row["details_strike_price"] == 190.0
    assert row["greeks_inner_gamma"] == 0.1
    assert row["ticker"] == "AAPL"


def test_csv_round_trip(spark, tmp_path, ledger):
    path = str(tmp_path / "csv")
    io.write_csv(ledger.select("ticker", "score"), path)
    back = io.read_csv(spark, path)
    assert back.count() == 3 and set(back.columns) == {"ticker", "score"}


def test_keyed_document_sink(spark, tmp_path):
    df = spark.createDataFrame(
        [("2024-01-02", "AAPL", 1), ("2024-01-02", "AAPL", 2), ("2024-01-03", "MSFT", 3)],
        "d string, ticker string, v int",
    )
    path = str(tmp_path / "docs")
    io.write_keyed_documents(df, path, key_cols=["d", "ticker"])
    out = spark.read.parquet(path)
    assert out.count() == 2  # one doc per composite key
    assert set(r.doc_id for r in out.collect()) == {"2024-01-02_AAPL", "2024-01-03_MSFT"}


def test_verify_columns_and_guard(spark, tmp_path, ledger):
    ok = io.verify_columns(ledger, {"ticker": "string", "score": "int"})
    assert all(ok.values())
    bad = io.verify_columns(ledger, {"missing": "string", "score": "double"})
    assert not any(bad.values())

    path = str(tmp_path / "t")
    assert io.already_ran(spark, path, "scan_date", D1) is False  # no table yet
    io.write_partitioned(ledger, path, "scan_date", ["ticker"])
    assert io.already_ran(spark, path, "scan_date", D1) is True
    assert io.already_ran(spark, path, "scan_date", datetime.date(2030, 1, 1)) is False


def test_partition_pruning_end_to_end(spark, tmp_path, ledger):
    """The written day-partitioned layout must actually prune: a one-day
    filter shows a PartitionFilters entry and touches a single partition
    directory — the property that makes the daily pipeline O(day), not
    O(history), at 100 TB."""
    from profitscout_engine_spark.plans import explain_str

    path = str(tmp_path / "t")
    io.write_partitioned(ledger, path, "scan_date", ["score", "ticker"])
    q = spark.read.parquet(path).where(F.col("scan_date") == D1)
    plan = explain_str(q)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "scan_date" in pf
    assert q.count() == 2


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    join with ZERO exchanges (the write-time shuffle is amortized across
    every later join) — and bucket-sorted buckets also skip the sort."""
    from profitscout_engine_spark.catalog import table as fixture
    from profitscout_engine_spark.plans import explain_str

    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdemo LOCATION '{tmp_path}/wh'")
    li = fixture(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = fixture(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    try:
        io.write_bucketed(li, "bucketdemo.li_b", "l_orderkey", 8)
        io.write_bucketed(
            o.withColumnRenamed("o_orderkey", "l_orderkey"), "bucketdemo.o_b", "l_orderkey", 8
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("bucketdemo.li_b").join(spark.table("bucketdemo.o_b"), "l_orderkey")
            plan = explain_str(j)
            assert "Exchange" not in plan, "bucketed join still shuffles"
            assert j.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP DATABASE IF EXISTS bucketdemo CASCADE")


def test_paged_json_datasource_follows_cursor_chain(spark, tmp_path):
    """S2: the paged_json format walks a results/next_url cursor chain
    (the reference's REST pagination protocol) and plans one partition
    per chain so independent chains scan in parallel."""
    import json

    from profitscout_engine_spark.sources.paginated import read_paged_json

    def write_chain(prefix, rows, page_size):
        pages = [rows[i : i + page_size] for i in range(0, len(rows), page_size)] or [[]]
        uris = [str(tmp_path / f"{prefix}_{i}.json") for i in range(len(pages))]
        for i, (uri, page) in enumerate(zip(uris, pages)):
            doc = {"results": page}
            if i + 1 < len(uris):
                doc["next_url"] = uris[i + 1]
            with open(uri, "w") as fh:
                json.dump(doc, fh)
        return uris[0]

    rows_a = [{"sym": f"A{i}", "px": float(i), "vol": i * 10} for i in range(7)]
    rows_b = [{"sym": f"B{i}", "px": 100.0 + i, "vol": i} for i in range(5)]
    start_a = write_chain("a", rows_a, page_size=3)  # 3 pages
    start_b = write_chain("b", rows_b, page_size=2)  # 3 pages

    df = read_paged_json(spark, [start_a, start_b])
    assert df.rdd.getNumPartitions() == 2  # one partition per chain
    got = sorted((r.sym, r.px, r.vol) for r in df.collect())
    exp = sorted((r["sym"], r["px"], r["vol"]) for r in rows_a + rows_b)
    assert got == exp
    assert [f.name for f in df.schema.fields] == ["sym", "px", "vol"]


def test_paged_json_runaway_cursor_guard(spark, tmp_path):
    """A cursor chain longer than max_pages must fail loudly, not loop."""
    import json

    import pytest

    from profitscout_engine_spark.sources.paginated import read_paged_json

    # self-referential page: infinite chain
    uri = str(tmp_path / "loop.json")
    with open(uri, "w") as fh:
        json.dump({"results": [{"x": 1}], "next_url": uri}, fh)
    with pytest.raises(Exception, match="max_pages"):
        read_paged_json(spark, [uri], max_pages=5).collect()


def test_compact_parquet_reduces_file_count(spark, sf_dir, tmp_path):
    """Compaction rewrites a many-tiny-file table into the byte-derived
    target count without changing its contents."""
    import os

    from profitscout_engine_spark.sources.io import compact_parquet

    path = str(tmp_path / "fragmented")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    li.repartition(40).write.parquet(path)  # simulate micro-batch accretion
    before_files = sum(f.endswith(".parquet") for f in os.listdir(path))
    before = li.toPandas().sort_values(["l_orderkey", "l_partkey", "l_quantity"]).reset_index(drop=True)

    n = compact_parquet(spark, path, target_file_mb=128, order_cols=["l_orderkey"])
    after_files = sum(f.endswith(".parquet") for f in os.listdir(path))
    assert after_files == n < before_files
    after = (
        spark.read.parquet(path).toPandas()
        .sort_values(["l_orderkey", "l_partkey", "l_quantity"]).reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(before, after)


def test_zorder_layout_skips_files_on_secondary_column(spark, tmp_path):
    """Z-order vs linear layout: for a filter on the SECOND clustering
    column, per-file parquet min/max stats must prune most z-ordered
    files while a linear sort on the first column prunes none."""
    import os

    import pyarrow.parquet as pq

    from profitscout_engine_spark.sources.io import write_zorder

    n_files = 16
    df = spark.range(20_000).select(
        (F.col("id") % 1000).cast("double").alias("x"),
        ((F.col("id") * 7919) % 1000).cast("double").alias("y"),
    )
    zpath, lpath = str(tmp_path / "z"), str(tmp_path / "linear")
    write_zorder(df, zpath, ["x", "y"], n_files=n_files)
    df.repartitionByRange(n_files, "x").sortWithinPartitions("x").write.parquet(lpath)

    def files_touched(path: str, lo: float, hi: float) -> tuple[int, int]:
        touched, total = 0, 0
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            total += 1
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            col_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["y"]
            mins = min(md.row_group(g).column(col_idx).statistics.min for g in range(md.num_row_groups))
            maxs = max(md.row_group(g).column(col_idx).statistics.max for g in range(md.num_row_groups))
            if maxs >= lo and mins <= hi:
                touched += 1
        return touched, total

    z_touched, z_total = files_touched(zpath, 100.0, 150.0)
    l_touched, l_total = files_touched(lpath, 100.0, 150.0)
    assert z_total == n_files and l_total == n_files
    assert l_touched == n_files  # linear layout: y spans every file
    assert z_touched <= n_files // 2  # curve layout bounds y per file

    # content round-trip: layout changes bytes on disk, never the rows
    a = df.toPandas().sort_values(["x", "y"]).reset_index(drop=True)
    b = spark.read.parquet(zpath).select("x", "y").toPandas().sort_values(["x", "y"]).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(a, b)


def test_orc_round_trip_with_pushdown(spark, sf_dir, tmp_path):
    """ORC round trip: values identical to the parquet source, and the
    ORC scan carries the same predicate pushdown parquet gets."""
    from profitscout_engine_spark.plans import explain_str

    src = spark.read.parquet(f"{sf_dir}/orders.parquet")
    path = str(tmp_path / "orders_orc")
    io.write_orc(src, path)
    back = io.read_orc(spark, path)
    assert back.count() == src.count()
    a = sorted(map(tuple, src.select("o_orderkey", "o_totalprice").collect()))
    b = sorted(map(tuple, back.select("o_orderkey", "o_totalprice").collect()))
    assert a == b

    plan = explain_str(back.where("o_totalprice > 100000").select("o_orderkey"))
    assert "PushedFilters:" in plan and "o_totalprice" in plan.split("PushedFilters:")[1].split("\n")[0]


def test_paged_json_stream_tail_follow(spark, tmp_path):
    """S2 streaming twin: the paged_json source tail-follows the cursor
    chain — a first run drains the existing pages, the tail page then
    grows a next cursor, and a checkpoint-resumed run emits ONLY the new
    page's rows (offsets are {last, pending} dicts; pages immutable)."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from profitscout_engine_spark.sources.paginated import (
        FORMAT_NAME,
        register_paged_json,
    )

    def page(name, rows, nxt=None):
        p = tmp_path / name
        p.write_text(json.dumps({"results": rows, "next_url": str(tmp_path / nxt) if nxt else None}))
        return str(p)

    page("b.json", [{"id": 3, "sym": "C"}])
    start = page("a.json", [{"id": 1, "sym": "A"}, {"id": 2, "sym": "B"}], nxt="b.json")
    schema = StructType(
        [StructField("id", LongType()), StructField("sym", StringType())]
    )
    register_paged_json(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format(FORMAT_NAME)
            .schema(schema)
            .option("path", start)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not finish within 120 s"

    drain()
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "A"), (2, "B"), (3, "C")}

    # the chain grows: the tail page gains a cursor to a new page
    page("c.json", [{"id": 4, "sym": "D"}])
    page("b.json", [{"id": 3, "sym": "C"}], nxt="c.json")
    drain()
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert got == {(1, "A"), (2, "B"), (3, "C"), (4, "D")}
