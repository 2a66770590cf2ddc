"""Classic decision-support queries (TPC-H shapes Q1/Q3/Q5/Q18) over the
fixture star schema — the standard OLAP parity pack. The reference's
research SQL is BigQuery ad-hoc of exactly these shapes (group-filter-
join-topk rollups, e.g. backtesting_and_research/run_sweep.py's cohort
aggregations); here they run as DataFrame plans whose oracle is the
same ANSI SQL.

Determinism: every float aggregate is stable-rounded at the comparison
point; every top-k orders by the ROUNDED measure with a unique key
tie-break so both engines cut the same rows.

Scale notes (100 TB): these are the canonical Catalyst showcases —
filters push to the parquet scan, dimension joins broadcast
(region/nation/customer-segment sides are small), fact-fact joins
shuffle on the join key with AQE sizing, aggregations run
partial→final. The plan-hygiene suite gates all of that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import r2, r4
from . import query
from ._util import t


# --- Q1 shape: pricing summary ------------------------------------------------
@query(
    "q1_pricing_summary",
    oracle="""
    WITH li AS (
        SELECT l_returnflag, l_linestatus, l_quantity,
               CAST(l_extendedprice AS DECIMAL(12, 2)) AS price,
               CAST(l_discount AS DECIMAL(4, 2)) AS disc,
               CAST(l_tax AS DECIMAL(4, 2)) AS tax
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(price) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(price * (1 - disc)), 2) AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(price * (1 - disc) * (1 + tax)), 2) AS DOUBLE)
               AS sum_charge,
           ROUND(SUM(l_quantity) / COUNT(*), 4) AS avg_qty,
           ROUND(CAST(SUM(price) AS DOUBLE) / COUNT(*), 4) AS avg_price,
           ROUND(CAST(SUM(disc) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM li
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("tpch-q1", "A1", "P1"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: full-fact-scan pricing summary with derived-measure
    sums. The date filter pushes to the scan; one partial→final hash
    aggregation over a 6-group key; averages are SUM/COUNT so both
    engines evaluate the identical division. The canonical 'does the
    engine do scan-heavy rollups right' query.

    Money is exact: price, discount and tax are 2dp values, so every
    money sum accumulates in DECIMAL (no summation-order dependence in
    the last bit of a DOUBLE sum) and is rounded half-up there before
    the cast back to DOUBLE."""
    li = t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2001-06-01 00:00:00").cast("timestamp")
    )
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    disc_price = price * (1 - disc)
    charge = disc_price * (1 + F.col("l_tax").cast("decimal(4,2)"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
        F.sum(price).cast("double").alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
        F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
        r4(F.sum("l_quantity") / F.count("*")).alias("avg_qty"),
        r4(F.sum(price).cast("double") / F.count("*")).alias("avg_price"),
        r4(F.sum(disc).cast("double") / F.count("*")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


# --- Q3 shape: shipping-priority top-k ----------------------------------------
@query(
    "q3_shipping_priority",
    oracle="""
    WITH rev AS (
        SELECT l.l_orderkey,
               ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    )
    SELECT l_orderkey, revenue, o_orderdate, o_orderpriority
    FROM rev
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("tpch-q3", "J1", "T1"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer dim broadcast onto
    orders, fact-fact join to lineitem on the order key, revenue rollup,
    distributed top-10. Ordering uses the ROUNDED revenue with the order
    key as tie-break so both engines cut identical rows. The filtered
    customer side carries no hint: AQE broadcasts it at fixture scale
    and switches to a shuffled join once the segment outgrows the
    threshold at warehouse scale; orders⋈lineitem shuffles on
    o_orderkey (co-partitionable/bucketable at scale)."""
    c = t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            r2(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            ).alias("revenue")
        )
    )
    return rev.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10).select(
        "l_orderkey", "revenue", "o_orderdate", "o_orderpriority"
    )


# --- Q5 shape: local-supplier revenue by nation -------------------------------
@query(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           -- integral 1e-4 units before the group sum (the q9 rule; float
           -- accumulation order flipped the 2dp round at 2x group sizes)
           ROUND(CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1.0 - l.l_discount)
                     * 1e4 + 0.5) AS BIGINT)) AS BIGINT) / 1e4, 2) AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'AMERICA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    tags=("tpch-q5", "J3", "A1"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table snowflake join — region→nation→customer
    dimension chain joined onto orders, fact-fact to lineitem, then
    the 'local supplier' same-nation constraint closes the loop. The
    only big shuffles are orders⋈lineitem on the order key and the final
    nation rollup. Nation/region carry explicit broadcast hints (they
    are bounded dims); the customer-derived chain does NOT — AQE
    broadcasts it at fixture scale and shuffles it once customers
    outgrow the threshold. The join-reorder / broadcast-selection
    showcase."""
    r = t(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    dims = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey", "c_nationkey", "n_name")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(dims, o["o_custkey"] == dims["c_custkey"])
        .join(
            F.broadcast(s),
            (s["s_suppkey"] == li["l_suppkey"])
            & (s["s_nationkey"] == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            r2(
                F.sum(
                    F.floor(
                        F.col("l_extendedprice")
                        * (F.lit(1.0) - F.col("l_discount"))
                        * F.lit(1e4)
                        + F.lit(0.5)
                    ).cast("long")
                )
                / F.lit(1e4)
            ).alias("revenue")
        )
    )


# --- Q18 shape: large-volume customers ----------------------------------------
Q18_QTY = 150.0


@query(
    "q18_large_volume_customer",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(l_quantity) > {Q18_QTY}
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           ROUND(SUM(l.l_quantity), 2) AS total_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
    tags=("tpch-q18", "A7", "J1", "T1"),
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered semi-join — orders whose total
    quantity exceeds the threshold, re-joined to customers and rolled
    up, top-100 by price. The 'big orders' set is computed once (one
    aggregation over the fact) and semi-joins back; at scale that set
    is small → broadcast semi-join, and the final sort is a bounded
    top-k, never a full order-by."""
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > Q18_QTY)
        .select("l_orderkey")
    )
    o = t(spark, sf_dir, "orders").join(
        F.broadcast(big), F.col("o_orderkey") == big["l_orderkey"], "left_semi"
    )
    c = t(spark, sf_dir, "customer")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(r2(F.sum("l_quantity")).alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


# --- Q6 shape: forecast revenue change ----------------------------------------
@query(
    "q6_revenue_delta",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24.0
    """,
    tags=("tpch-q6", "P2", "A3"),
)
def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the pure predicate-pushdown scan-aggregate — every
    filter (date range, discount band, quantity cap) reaches the parquet
    scan as PushedFilters, surviving rows fold into ONE partial→final
    sum with no shuffle of data rows at all. At 100 TB this is the query
    whose cost is I/O alone; any plan that moves rows before the partial
    agg is wrong. The what-if revenue kernel of the reference's sweep
    research (backtesting_and_research/run_sweep.py slippage deltas)."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24.0)
    )
    return li.agg(
        r2(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias("revenue")
    )


# --- Q7 shape: volume shipping between two nations ----------------------------
Q7_A, Q7_B = "NATION_3", "NATION_14"


@query(
    "q7_volume_shipping",
    oracle=f"""
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
           ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
    JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
    WHERE ((ns.n_name = '{Q7_A}' AND nc.n_name = '{Q7_B}')
        OR (ns.n_name = '{Q7_B}' AND nc.n_name = '{Q7_A}'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("tpch-q7", "J3", "A1"),
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade-flow rollup — revenue between an
    ordered pair of nations, by direction and ship year. The nation dim
    joins twice under two aliases (supplier side, customer side); the
    OR-of-two-directions predicate cannot push below either single join,
    so it applies right after both nation names are in scope — BEFORE
    the group-by shuffle. Fact-fact joins shuffle on the order key;
    every dimension side broadcasts. Year extraction is cast to BIGINT
    on both engines (Spark year() is int32, DuckDB EXTRACT is int64)."""
    s = t(spark, sf_dir, "supplier")
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    ns = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    nc = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    both = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), s["s_suppkey"] == li["l_suppkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nkey"))
        .where(
            ((F.col("supp_nation") == Q7_A) & (F.col("cust_nation") == Q7_B))
            | ((F.col("supp_nation") == Q7_B) & (F.col("cust_nation") == Q7_A))
        )
    )
    return both.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ).agg(
        r2(
            F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        ).alias("revenue")
    )


# --- Q8 shape: national market share ------------------------------------------
Q8_REGION, Q8_NATION = "ASIA", "NATION_5"


@query(
    "q8_market_share",
    oracle=f"""
    SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
           ROUND(SUM(CASE WHEN ns.n_name = '{Q8_NATION}'
                          THEN l.l_extendedprice * (1.0 - l.l_discount)
                          ELSE 0.0 END)
                 / SUM(l.l_extendedprice * (1.0 - l.l_discount)), 4) AS mkt_share
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation nc  ON nc.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = nc.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns  ON ns.n_nationkey = s.s_nationkey
    WHERE r.r_name = '{Q8_REGION}'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_year
    """,
    tags=("tpch-q8", "J3", "A3"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: market share = conditional-sum ÷ total-sum per
    year, over region-scoped demand. The share numerator is a CASE sum
    inside the SAME aggregation as the denominator — one shuffle
    produces both, never two scans. The customer→nation→region chain
    restricts demand (broadcast, prunes before the fact shuffle); the
    supplier→nation chain only labels the numerator. Ratio-of-sums is
    evaluated after both sums complete, then stable-rounded on both
    engines."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").where(F.col("r_name") == Q8_REGION)
    s = t(spark, sf_dir, "supplier")
    demand_nations = (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select(F.col("n_nationkey").alias("c_nkey"))
    )
    cust = c.join(
        F.broadcast(demand_nations), c["c_nationkey"] == F.col("c_nkey"), "left_semi"
    ).select("c_custkey")
    supp = s.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("s_nkey"),
                             F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("s_nkey"),
    ).select("s_suppkey", "supp_nation")
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(cust, o["o_custkey"] == cust["c_custkey"], "left_semi")
        .join(F.broadcast(supp), supp["s_suppkey"] == li["l_suppkey"])
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            r4(
                F.sum(F.when(F.col("supp_nation") == Q8_NATION, vol).otherwise(F.lit(0.0)))
                / F.sum(vol)
            ).alias("mkt_share")
        )
    )


# --- Q13 shape: customer order-count distribution -----------------------------
@query(
    "q13_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
    tags=("tpch-q13", "J3", "A10"),
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: two-level aggregation over an OUTER join —
    per-customer order count (zero-order customers kept by the left
    join; COUNT of the right key counts non-null matches only), then
    the distribution of those counts. The priority predicate belongs to
    the JOIN CONDITION, not a post-filter — filtering the right side
    before the join is the pushed-down equivalent. First agg shuffles
    on c_custkey (same key as the join → AQE coalesces into one
    exchange); second agg is over the tiny histogram."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy(c["c_custkey"])
        .agg(F.count(o["o_orderkey"]).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# --- Q15 shape: top supplier (argmax against a scalar subquery) ---------------
@query(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN rev r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
    tags=("tpch-q15", "J8", "A5"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: equality against a scalar aggregate — suppliers
    whose quarterly revenue equals the global maximum (ALL of them, so
    ties surface rather than being cut by a LIMIT). The revenue CTE is
    computed ONCE and reused for both the max and the final join (Spark:
    one DataFrame object → AQE reuses the exchange; a naive engine scans
    lineitem twice). Revenue is stable-rounded BEFORE the max/equality
    so both engines compare identical doubles. The 1-row max side joins
    as a broadcast equi-join on the rounded value."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        r2(
            F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        ).alias("total_revenue")
    )
    top = rev.agg(F.max("total_revenue").alias("total_revenue"))
    s = t(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(top), "total_revenue", "left_semi")
        .join(F.broadcast(s), F.col("supplier_no") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
    )


# --- Q16 shape: supplier variety per part attribute ---------------------------
Q16_SIZES = (1, 9, 14, 19, 23, 36, 45, 49)


@query(
    "q16_supplier_variety",
    oracle=f"""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#21'
      AND p.p_type NOT LIKE 'MEDIUM%'
      AND p.p_size IN {Q16_SIZES}
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    tags=("tpch-q16", "A19", "J-anti"),
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT supplier) per part attribute with
    a NOT-IN supplier blocklist. The blocklist is a left_anti broadcast
    (keys are non-null, so NOT IN ≡ anti join — the NULL-poisoned NOT IN
    trap documented on anti_join_dormant_customers applies otherwise).
    Part predicates prune before the fact join; distinct-count runs as
    Spark's two-phase partial-distinct expand, one shuffle on the group
    key. At 100 TB the blocklist stays a broadcast; the distinct shuffle
    is the only wide stage."""
    p = t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#21")
        & (~F.col("p_type").startswith("MEDIUM"))
        & F.col("p_size").isin(*Q16_SIZES)
    )
    bad = t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0.0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    li = t(spark, sf_dir, "lineitem").join(F.broadcast(bad), "l_suppkey", "left_anti")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# --- Q22 shape: dormant high-balance accounts ---------------------------------
@query(
    "q22_dormant_balance",
    oracle="""
    WITH thresh AS (
        SELECT FLOOR(AVG(c_acctbal) * 1e2 + 0.5) / 1e2 AS avg_bal
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT n.n_name AS nation, COUNT(*) AS numcust,
           ROUND(SUM(c.c_acctbal), 2) AS totacctbal
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey, thresh
    WHERE c.c_acctbal > thresh.avg_bal
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      )
    GROUP BY nation
    """,
    tags=("tpch-q22", "J8", "J-anti", "A1"),
)
def q22_dormant_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: positive-balance global average (scalar
    subquery, stable-rounded to 2dp on BOTH engines before the
    comparison — partial-sum order differs between engines, so the raw
    double average is not bit-identical) gates customers, an anti join
    removes anyone with a recent order, and the survivors roll up per
    nation. Extends anti_join_dormant_customers (J-anti) with the
    decorrelated-scalar-threshold shape. The 1-row threshold joins as a
    broadcast nested loop (non-equi scalar compare) — constant cost;
    the anti join's right side is pre-filtered to recent orderers."""
    c = t(spark, sf_dir, "customer")
    thresh = c.where(F.col("c_acctbal") > 0.0).agg(
        r2(F.avg("c_acctbal")).alias("avg_bal")
    )
    recent = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    n = t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(thresh))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(F.broadcast(recent), "c_custkey", "left_anti")
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("numcust"), r2(F.sum("c_acctbal")).alias("totacctbal"))
    )


# --- Q17 shape: small-quantity revenue (correlated scalar aggregate) ----------
Q17_BRAND = "Brand#11"


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH pa AS (
        SELECT l_partkey, 0.5E0 * AVG(l_quantity) AS half_avg
        FROM lineitem GROUP BY l_partkey
    )
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0E0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa    ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = '{Q17_BRAND}'
      AND l.l_quantity < pa.half_avg
    """,
    tags=("tpch-q17", "J8", "A12"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: a CORRELATED scalar aggregate — each lineitem
    compares against the average quantity OF ITS OWN PART — decorrelated
    the way every modern optimizer rewrites it: pre-aggregate per-part
    averages once, join back on the part key, filter. The brand filter
    prunes the part side (AQE broadcasts it while it fits; part is
    fact-proportional at warehouse scale, so no hard hint); the
    per-part average is the one shuffle. The comparison is exact cross-engine because l_quantity is
    integral: the partial sums are integer-valued doubles (< 2^53), so
    AVG is bit-identical regardless of accumulation order. At 100 TB the
    decorrelated form is mandatory — a row-per-row subquery re-scan is
    quadratic."""
    li = t(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg")
    )
    p = t(spark, sf_dir, "part").where(F.col("p_brand") == Q17_BRAND)
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(pa, "l_partkey")
        .where(F.col("l_quantity") < F.col("half_avg"))
        .agg(r2(F.sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


# --- Q2 shape: minimum-cost supplier (correlated MIN, adapted) ----------------
# The fixture has no partsupp table, so "supply cost" derives from observed
# trade: the minimum unit price (l_extendedprice / l_quantity, order-free MIN
# of deterministic double divisions — exact cross-engine) each supplier ever
# charged for the part. The Q2 *shape* survives intact: region-scoped supplier
# dim, selective part filter, correlated per-part MIN, equality join back.
@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eu AS (
        SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
        FROM supplier s
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
    ),
    scoped AS (
        SELECT c.l_partkey, c.l_suppkey, c.unit_cost,
               eu.s_name, eu.s_acctbal, eu.n_name
        FROM cost c JOIN eu ON eu.s_suppkey = c.l_suppkey
        JOIN part p ON p.p_partkey = c.l_partkey
        WHERE p.p_type = 'LARGE' AND p.p_size <= 10
    )
    SELECT s_acctbal, s_name, n_name, l_partkey AS p_partkey,
           ROUND(unit_cost, 4) AS unit_cost
    FROM scoped
    WHERE unit_cost = (
        SELECT MIN(unit_cost) FROM scoped s2 WHERE s2.l_partkey = scoped.l_partkey
    )
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    tags=("tpch-q2", "J8", "A4"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each selectively-filtered part, the
    region-scoped supplier offering the MINIMUM unit cost — the classic
    correlated-MIN decorrelated as a window min over the scoped cost
    table (one shuffle on the part key; ties surface in both engines
    because MIN of doubles is order-free and the equality is on exact
    bits). The supplier→nation→region chain broadcasts; the per-pair
    cost table is the only fact-sized aggregation. Rounding applies
    only at OUTPUT, after the exact comparison."""
    li = t(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = t(spark, sf_dir, "part").where(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 10)
    )
    scoped = (
        cost.join(F.broadcast(eu), cost["l_suppkey"] == eu["s_suppkey"])
        .join(p, cost["l_partkey"] == p["p_partkey"], "left_semi")
    )
    w = Window.partitionBy("l_partkey")
    return (
        scoped.withColumn("min_cost", F.min("unit_cost").over(w))
        .where(F.col("unit_cost") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            r4(F.col("unit_cost")).alias("unit_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# --- Q4 shape: order-priority checking (EXISTS semi-join, adapted) ------------
# No l_commitdate/l_receiptdate in the fixture; "late" is shipped more than
# 90 days after the order date. The Q4 shape — quarter-scoped orders that
# EXISTS-match a correlated lineitem predicate, counted per priority — holds.
@query(
    "q4_priority_checking",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY o.o_orderpriority
    """,
    tags=("tpch-q4", "J-semi", "A1"),
)
def q4_priority_checking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS → left-semi join on the order
    key with the lateness predicate folded into the join condition
    (never a post-filter: the semi join stops at the first matching
    line, and at 100 TB the quarter-pruned orders side is the small
    probe against the fact). One count-per-priority agg over the
    survivors — a 5-row result."""
    o = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (li["l_orderkey"] == o["o_orderkey"])
        & (li["l_shipdate"] > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


# --- Q9 shape: product-type profit by nation and year (adapted) ---------------
# No ps_supplycost; unit cost proxies as half the part's retail price, so
# profit = revenue − 0.5 · p_retailprice · quantity. The Q9 shape — LIKE-
# filtered part, supplier-nation × order-year profit rollup — is intact.
@query(
    "q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
           ROUND(CAST(SUM(CAST(FLOOR((l.l_extendedprice * (1.0 - l.l_discount)
                     - 0.5E0 * p.p_retailprice * l.l_quantity) * 1e4 + 0.5)
                     AS BIGINT)) AS BIGINT) / 1e4, 2) AS sum_profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY nation, o_year
    """,
    tags=("tpch-q9", "J3", "A1"),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier-nation per order-year over a
    name-pattern part slice. The LIKE filter prunes part before the
    fact join (contains-pattern can't push to parquet stats but does
    evaluate in the scan stage); supplier/nation broadcast; the one big
    shuffle is lineitem⋈orders on the order key, then a 25×7-group
    rollup. Profit folds both terms in a single projected expression so
    the aggregation reads one column. The per-row profit (identical
    double bits on both engines) is fixed to integral 1e-4 units BEFORE
    the sum: float-sum accumulation ORDER differs across engines and a
    group sum of raw doubles can land on opposite sides of the 2dp
    rounding boundary — integer cells make the sum exact (NOTES.md
    trap log)."""
    p = t(spark, sf_dir, "part").where(F.col("p_name").contains("widget"))
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    profit = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    )
    profit_1e4 = F.floor(profit * F.lit(1e4) + F.lit(0.5)).cast("long")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(r2(F.sum(profit_1e4) / F.lit(1e4)).alias("sum_profit"))
    )


# --- Q10 shape: returned-item reporting ---------------------------------------
@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue,
           ROUND(c.c_acctbal, 2) AS c_acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    tags=("tpch-q10", "J3", "T1"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: lost-revenue ranking of customers who returned
    goods in a quarter. Return-flag and date filters prune both fact
    sides before their join; nation broadcasts; the rollup groups on
    the customer grain and the top-20 orders by ROUNDED revenue with
    the customer key breaking ties identically in both engines."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            r2(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            ).alias("revenue")
        )
        .select(
            "c_custkey", "c_name", "revenue",
            r2(F.col("c_acctbal")).alias("c_acctbal"), "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --- Q11 shape: important stock (HAVING vs global scalar, adapted) ------------
# No partsupp availqty; "stock" proxies as shipped quantity (integral, so the
# per-part sums and the global total are exact BIGINTs — the HAVING boundary
# cannot flip between engines on float accumulation order). The classic query
# scales its fraction by 1/SF; a fixed fraction empties at larger scales, so
# the threshold here is MEAN-RELATIVE (parts above 2× the average per-part
# scoped quantity) — self-normalizing, ~9% selectivity at every fixture SF.
Q11_NATION = "NATION_2"
Q11_MULT = 2.0


@query(
    "q11_important_stock",
    oracle=f"""
    WITH scoped AS (
        SELECT l.l_partkey, CAST(l.l_quantity AS BIGINT) AS qty
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name = '{Q11_NATION}'
    ),
    pp AS (
        SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS total_qty
        FROM scoped GROUP BY l_partkey
    )
    SELECT l_partkey AS p_partkey, total_qty
    FROM pp
    WHERE total_qty > {Q11_MULT}E0 * (SELECT SUM(total_qty) * 1.0E0 / COUNT(*) FROM pp)
    ORDER BY total_qty DESC, p_partkey
    """,
    tags=("tpch-q11", "J8", "A7"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part stock value gated against a GLOBAL
    scalar — the HAVING-against-scalar-subquery pattern. The per-part
    rollup is computed once and reused for both the rows and the 1-row
    mean (one exchange, AQE reuse); the mean joins back as a broadcast
    cross of a single row. Quantities stay integral into the scalar, so
    2·mean (one double multiply/divide of exact integers) is
    bit-identical cross-engine and the boundary cannot flip."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").where(F.col("n_name") == Q11_NATION)
    scoped = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("l_partkey", F.col("l_quantity").cast("long").alias("qty"))
    )
    per_part = scoped.groupBy("l_partkey").agg(F.sum("qty").alias("total_qty"))
    stats = per_part.agg(
        (F.sum("total_qty") * F.lit(1.0) / F.count("*")).alias("mean_qty")
    )
    return (
        per_part.join(F.broadcast(stats))
        .where(F.col("total_qty") > F.lit(Q11_MULT) * F.col("mean_qty"))
        .select(F.col("l_partkey").alias("p_partkey"), "total_qty")
        .orderBy(F.desc("total_qty"), "p_partkey")
    )


# --- Q12 shape: shipping-delay vs priority (adapted) --------------------------
# No l_shipmode; lines bucket by shipping delay instead, and the Q12 shape —
# per-bucket counts of critical vs non-critical order priorities via
# conditional aggregation — is unchanged. COUNT (not SUM-of-CASE) keeps both
# engines in BIGINT without the HUGEINT cast dance.
@query(
    "q12_delay_priority",
    oracle="""
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 365
                THEN 'LATE'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 90
                THEN 'SLOW' ELSE 'FAST' END AS ship_bucket,
           COUNT(*) FILTER (o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
               AS high_line_count,
           COUNT(*) FILTER (o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
               AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY ship_bucket
    """,
    tags=("tpch-q12", "A3", "J1"),
)
def q12_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional dual-count per shipping bucket —
    did slow shipping correlate with critical priorities. The year
    filter pushes to the lineitem scan; one fact-fact join on the order
    key; the CASE bucket evaluates pre-shuffle so the aggregation key
    is a 3-value string. datediff on midnight-aligned timestamps is
    exact in both engines."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(delay > 365, "LATE").when(delay > 90, "SLOW").otherwise("FAST")
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(bucket.alias("ship_bucket"))
        .agg(
            F.count(F.when(crit, F.lit(1))).alias("high_line_count"),
            F.count(F.when(~crit, F.lit(1))).alias("low_line_count"),
        )
    )


# --- Q14 shape: promotion-revenue share ---------------------------------------
@query(
    "q14_promo_share",
    oracle="""
    SELECT ROUND(100.0E0 * SUM(CASE WHEN p.p_type = 'PROMO'
                                    THEN l.l_extendedprice * (1.0 - l.l_discount)
                                    ELSE 0.0 END)
                 / SUM(l.l_extendedprice * (1.0 - l.l_discount)), 4)
               AS promo_revenue_pct
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
    tags=("tpch-q14", "A3", "J1"),
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue as a percentage of one month's
    total — numerator (CASE sum) and denominator in the SAME single
    aggregation, one part join (AQE broadcasts at fixture scale; part
    is fact-proportional at warehouse scale so no hard hint), one
    1-row result. The month filter prunes the fact scan first."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    p = t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .agg(
            r4(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0)))
                / F.sum(disc)
            ).alias("promo_revenue_pct")
        )
    )


# --- Q19 shape: disjunctive multi-attribute revenue ---------------------------
@query(
    "q19_disjunct_revenue",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#21' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("tpch-q19", "P3", "J1"),
)
def q19_disjunct_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR of three conjunctive bands mixing part
    attributes with lineitem attributes. The optimizer-relevant move:
    the disjunction's part-only and lineitem-only envelopes (brand IN
    (...), quantity ≤ 30) are IMPLIED filters that push below the join
    even though the full OR can only evaluate above it — Catalyst
    derives them via constraint propagation; stating the envelope
    explicitly costs nothing and guarantees the prune on engines that
    don't. One join, one 1-row sum."""
    li = t(spark, sf_dir, "lineitem").where(F.col("l_quantity").between(1, 30))
    p = t(spark, sf_dir, "part").where(
        F.col("p_brand").isin("Brand#12", "Brand#21", "Brand#3")
        & (F.col("p_size") >= 1)
    )
    d1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    d2 = (
        (F.col("p_brand") == "Brand#21")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    )
    d3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .where(d1 | d2 | d3)
        .agg(
            r2(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
            ).alias("revenue")
        )
    )


# --- Q20 shape: dominant-supplier promotion (nested agg semi-join, adapted) ---
# No ps_availqty; a supplier "dominates" a part when it shipped more than 20%
# of that part's 1997 volume. Quantities are integral → both the pair sums and
# the part totals are exact, so the dominance threshold can't flip engines.
Q20_NATION = "NATION_7"


@query(
    "q20_dominant_supplier",
    oracle=f"""
    WITH pairs AS (
        SELECT l.l_suppkey, l.l_partkey,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS pair_qty
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE 'small%'
          AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l.l_suppkey, l.l_partkey
    ),
    totals AS (
        SELECT l_partkey, CAST(SUM(pair_qty) AS BIGINT) AS part_qty
        FROM pairs GROUP BY l_partkey
    )
    SELECT s.s_suppkey, s.s_name, COUNT(*) AS n_dominant
    FROM pairs pr
    JOIN totals tt ON tt.l_partkey = pr.l_partkey
    JOIN supplier s ON s.s_suppkey = pr.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE pr.pair_qty > 0.2 * tt.part_qty
      AND n.n_name = '{Q20_NATION}'
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY s.s_suppkey
    """,
    tags=("tpch-q20", "J-semi", "A7"),
)
def q20_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: two-level aggregation with a correlated-threshold
    join-back — per (supplier, part) volume against 20% of the per-part
    total, survivors rolled up per nation-scoped supplier. The pair
    rollup and the part total share one exchange lineage (totals
    re-aggregate the pair frame — never a second fact scan); the
    threshold compare joins on the part key. At 100 TB both aggs are
    the same shuffle key family, so AQE chains them without a second
    wide exchange."""
    li = t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    p = t(spark, sf_dir, "part").where(F.col("p_name").startswith("small"))
    pairs = (
        li.join(p, li["l_partkey"] == p["p_partkey"], "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("pair_qty"))
    )
    totals = pairs.groupBy("l_partkey").agg(F.sum("pair_qty").alias("part_qty"))
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").where(F.col("n_name") == Q20_NATION)
    return (
        pairs.join(totals, "l_partkey")
        .where(F.col("pair_qty") > F.lit(0.2) * F.col("part_qty"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"], "left_semi")
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("n_dominant"))
        .orderBy("s_suppkey")
    )


# --- Q21 shape: suppliers who kept orders waiting (adapted) -------------------
# No receipt/commit dates; a supplier is "late" on an order when it shipped
# more than 180 days after the order date. The Q21 double-correlation — the
# supplier was late, ANOTHER supplier was on the order, and NO other supplier
# was late — decorrelates into one per-(order, supplier) flag rollup plus one
# per-order census, replacing the EXISTS / NOT EXISTS pair with exact integer
# counts (the form every shuffle engine should run; a correlated re-scan of
# the fact per row is quadratic at 100 TB).
Q21_NATION = "NATION_9"


@query(
    "q21_waiting_supplier",
    oracle=f"""
    WITH per_supp AS (
        SELECT l.l_orderkey, l.l_suppkey,
               MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 180 DAY
                        THEN 1 ELSE 0 END) AS was_late
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY l.l_orderkey, l.l_suppkey
    ),
    census AS (
        SELECT l_orderkey, COUNT(*) AS n_supp,
               CAST(SUM(was_late) AS BIGINT) AS n_late
        FROM per_supp GROUP BY l_orderkey
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM per_supp ps
    JOIN census c ON c.l_orderkey = ps.l_orderkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE ps.was_late = 1 AND c.n_supp > 1 AND c.n_late = 1
      AND n.n_name = '{Q21_NATION}'
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
    tags=("tpch-q21", "J-anti", "A7"),
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole-blame census — suppliers who were the
    ONLY late supplier on a multi-supplier finalized order. The classic
    EXISTS(other supplier) AND NOT EXISTS(other late supplier) pair
    decorrelates into two chained aggregations on the SAME order-key
    partitioning (per-(order,supplier) late flag, then per-order
    supplier/late census) — one wide exchange feeds both, the blame
    predicate is pure integer arithmetic, and the nation filter
    broadcasts. Top-100 orders by the count with the name tie-break."""
    o = t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = t(spark, sf_dir, "lineitem")
    per_supp = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 180 DAYS"),
                    1,
                ).otherwise(0)
            ).alias("was_late")
        )
    )
    census = per_supp.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"), F.sum("was_late").alias("n_late")
    )
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").where(F.col("n_name") == Q21_NATION)
    return (
        per_supp.where(F.col("was_late") == 1)
        .join(census, "l_orderkey")
        .where((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"], "left_semi")
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
