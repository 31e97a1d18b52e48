"""TPC-H-derived headline queries, adapted to the synthetic schema.

The reference's own canonical correctness artifacts are TPC-H Q1 and Q12
plan tests (reference: ballista/scheduler/src/planner.rs:257-332 Q1,
:334-513 Q12) and the README smoke queries ``SELECT count(1) FROM
lineitem`` and full Q1 (README.md:30-50). The synthetic tables carry a
subset of TPC-H columns (see TESTDATA.md / actual parquet schemas), so
Q3/Q4/Q5/Q10/Q12/Q18 are adapted to the available columns while keeping
their plan shape (the part that matters for scale): selective scan →
shuffle agg / join chain → top-k.

Scale notes per query are inline; the common pattern: filters are plain
column predicates (parquet pushdown), dimension joins are broadcast-sized,
fact-fact joins shuffle on the join key, final top-k is
TakeOrderedAndProject (no full sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def count_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference README smoke #1: SELECT count(1) FROM lineitem = 3000
    (README.md:30-40). Metadata-only parquet count in Spark."""
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("cnt"))


def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 — the reference's flagship smoke query (README.md:42-50;
    plan test planner.rs:257-332: 2-stage partial/final agg).

    Spark plan: parquet scan with l_shipdate pushdown → partial hash agg
    (map-side combine) → 6-group shuffle → final agg → sort. At 100 TB the
    shuffle carries only num_groups × partitions rows — optimal."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: dim filter → broadcast join → fact-fact shuffle join on
    l_orderkey → group → top-10 (TakeOrderedAndProject, not a full sort)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


Q3_ORACLE = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape (EXISTS → left-semi join; datafusion.proto:245 LEFTSEMI):
    orders with any line shipped after the fixed cutoff 1997-06-01,
    counted by priority. (TPC-H's own Q4 correlates l_commitdate <
    l_receiptdate inside a quarter; this adaptation keeps the EXISTS →
    LEFTSEMI plan shape on a constant-date predicate — the semi-join
    decorrelation is what the certification exercises, not the
    late-line business rule.)"""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = li.filter(F.col("l_shipdate") > F.lit("1997-06-01 00:00:00").cast("timestamp"))
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > TIMESTAMP '1997-06-01 00:00:00')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: snowflake dim chain (region→nation broadcast) + two fact
    joins; revenue per nation. Dimension side stays broadcast at any SF."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    dim = (
        nation.join(F.broadcast(region.filter(F.col("r_name").isin("ASIA", "AMERICA"))),
                    nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(dim), supp.s_nationkey == dim.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


Q5_ORACLE = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name IN ('ASIA', 'AMERICA')
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: single-scan selective aggregate — all three predicates
    reach the parquet reader (PushedFilters), zero shuffle beyond the
    1-row final agg."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount").between(0.04, 0.08))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


Q6_ORACLE = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.04 AND 0.08
  AND l_quantity < 24
"""


def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: returned-item revenue per customer, top 20."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


Q10_ORACLE = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 adapted (the reference's second canonical plan test,
    planner.rs:334-513: lineitem⋈orders, 5 stages). The synthetic schema
    has no l_shipmode/l_commitdate, so the high/low-priority line counting
    keys off l_returnflag with the same CASE-sum plan shape."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_returnflag").isin("A", "N"))
    )
    high = F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q12_ORACLE = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag IN ('A', 'N')
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: promo revenue share — conditional agg over a broadcast
    part join."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev),
                4,
            ).alias("promo_revenue")
        )
    )


Q14_ORACLE = """
SELECT round(100 * sum(CASE WHEN p_type = 'PROMO'
                            THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: large-order customers — groupBy-HAVING on the fact table
    feeding a join back to orders/customer; top 100. The HAVING subquery
    shuffles only (orderkey, sum) pairs — scale-safe."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 120)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


Q18_ORACLE = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 120) big
JOIN orders ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q7(spark, sf_dir):
    """Q7 shape: volume shipping between nation pairs — double nation
    broadcast (aliased dim reuse), fact chain shuffles on orderkey then
    custkey, group by (supp_nation, cust_nation, year)."""
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == n1.s_nk)
        .join(F.broadcast(n2), cust.c_nationkey == n2.c_nk)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        # order-independent money sum: per-row round to integer cents,
        # exact long addition — immune to the FP-sum + round-at-2 penny
        # straddle that plain round(sum(double),2) hits across engines
        .agg(
            (
                F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long"))
                / 100.0
            ).alias("revenue")
        )
        .filter(F.col("revenue") > 100000)
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_ORACLE = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(date_part('year', l_shipdate) AS INT) AS l_year,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND n1.n_name != n2.n_name
GROUP BY 1, 2, 3
HAVING sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0 > 100000
ORDER BY supp_nation, cust_nation, l_year
"""


def q8(spark, sf_dir):
    """Q8 shape: market share — share of one supplier nation's revenue
    within a customer region per year (conditional-sum over a snowflake
    join)."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n_cust = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .select(F.col("n_nationkey").alias("cn_key"))
    )
    n_supp = nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0.0))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_cust), cust.c_nationkey == F.col("cn_key"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_supp), supp.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(target) / F.sum(rev), 6).alias("mkt_share"))
        .orderBy("o_year")
    )


Q8_ORACLE = """
SELECT CAST(date_part('year', o_orderdate) AS INT) AS o_year,
       round(sum(CASE WHEN ns.n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
JOIN region    ON nc.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
WHERE r_name = 'ASIA'
GROUP BY 1 ORDER BY o_year
"""


def _cents_sum(expr):
    """Order-independent money sum (see q7): per-row integer cents,
    exact long addition."""
    return F.sum(F.round(expr * 100).cast("long")) / 100.0


def q13(spark, sf_dir):
    """Q13 shape: customer order-count distribution — left join (keeps
    zero-order customers), two stacked aggregations."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(~F.col("o_orderpriority").startswith("1"))
    counts = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q13_ORACLE = """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND NOT starts_with(o_orderpriority, '1')
  GROUP BY c_custkey)
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
"""


def q15(spark, sf_dir):
    """Q15 shape: top supplier(s) by quarterly revenue — agg then a
    max-subquery filter (ties kept, like the original's view form)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        _cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("m"))
    return (
        rev.join(F.broadcast(mx), rev.total_rev == mx.m)
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


Q15_ORACLE = """
WITH rev AS (
  SELECT l_suppkey, sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0 AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_rev
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)
ORDER BY s_suppkey
"""


def q17(spark, sf_dir):
    """Q17 shape: small-quantity-order revenue — correlated avg subquery
    becomes a per-part aggregate joined back to the fact."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avg_qty = li.groupBy("l_partkey").agg((0.5 * F.avg("l_quantity")).alias("half_avg"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(_cents_sum(F.col("l_extendedprice")) / 7.0, 4).alias("avg_yearly"))
    )


Q17_ORACLE = """
SELECT round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / 7.0, 4) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)
"""


def q19(spark, sf_dir):
    """Q19 shape: disjunctive multi-attribute predicate (OR of ANDed
    brand/size/quantity bands) — single join + complex residual."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 21)))
        | ((F.col("p_brand") == "Brand#7") & (F.col("p_size").between(1, 25))
           & (F.col("l_quantity").between(10, 30)))
        | ((F.col("p_brand") == "Brand#13") & (F.col("p_size").between(1, 35))
           & (F.col("l_quantity").between(20, 40)))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(_cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


Q19_ORACLE = """
SELECT sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0 AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#7'  AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
"""


def q22(spark, sf_dir):
    """Q22 shape: customers with above-average balance and no urgent
    orders —
    scalar-subquery threshold + anti join, grouped by a derived code."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    rich = (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    )
    code = F.pmod(F.col("c_nationkey"), F.lit(5)).alias("cntrycode")
    return (
        rich.groupBy(code)
        .agg(F.count("*").alias("numcust"), F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
        .orderBy("cntrycode")
    )


Q22_ORACLE = """
SELECT c_nationkey % 5 AS cntrycode, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderpriority = '1-URGENT')
GROUP BY 1 ORDER BY cntrycode
"""


def q2(spark, sf_dir):
    """Q2 shape: minimum-cost supplier per part in a region — the
    canonical correlated MIN subquery. No partsupp table in the synthetic
    schema, so supply cost is derived from lineitem as the observed
    minimum unit price per (part, supplier) pair; the correlated
    per-part minimum becomes a window MIN over the part key (single
    shuffle — cheaper at scale than agg + join-back).

    Scale: part/supplier/nation/region are broadcast-sized; the one
    shuffle partitions pair aggregates by l_partkey, and the window min +
    filter run within that partitioning. Final top-k is
    TakeOrderedAndProject."""
    from pyspark.sql import Window

    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = _t(spark, sf_dir, "nation")
    eu_nations = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(eu_nations), F.col("s_nationkey") == F.col("n_nationkey")
    )
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "SMALL") & (F.col("p_size") <= 15)
    )
    li = _t(spark, sf_dir, "lineitem")
    pair_cost = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp.select("s_suppkey"), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        # min is order-independent and IEEE-exact → float-equality safe
        # across engines (unlike avg)
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supply_cost"))
    )
    w = Window.partitionBy("l_partkey")
    best = pair_cost.withColumn("mn", F.min("supply_cost").over(w)).filter(
        F.col("supply_cost") == F.col("mn")
    )
    return (
        best.join(supp, best.l_suppkey == supp.s_suppkey)
        .join(part.select("p_partkey", "p_name"), best.l_partkey == F.col("p_partkey"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            F.round("supply_cost", 6).alias("supply_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q2_ORACLE = """
WITH pc AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS supply_cost
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE' AND p_type = 'SMALL' AND p_size <= 15
  GROUP BY 1, 2)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, round(supply_cost, 6) AS supply_cost
FROM pc
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN part ON p_partkey = l_partkey
WHERE supply_cost = (SELECT min(supply_cost) FROM pc p2 WHERE p2.l_partkey = pc.l_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q9(spark, sf_dir):
    """Q9 shape: product-type profit by nation and year — 5-way snowflake
    join + two-key agg. No ps_supplycost in the synthetic schema, so cost
    is proxied as 20% of p_retailprice per unit (fixed margin); the plan
    shape (deep join chain feeding a shuffle agg) is what matters.
    p_name filter uses 'red' (the synthetic color vocabulary has no
    'green').

    Scale: part/supplier/nation broadcast; lineitem↔orders shuffles on
    orderkey; partial aggregation combines map-side before the final
    (nation, year) shuffle — tiny."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.2) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(_cents_sum(profit).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


Q9_ORACLE = """
SELECT n_name AS nation, CAST(date_part('year', o_orderdate) AS INT) AS o_year,
       sum(CAST(round((l_extendedprice * (1 - l_discount)
                       - 0.2 * p_retailprice * l_quantity) * 100) AS BIGINT)) / 100.0 AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


def q11(spark, sf_dir):
    """Q11 shape: important-part value concentration — group-agg with a
    HAVING threshold taken from a scalar subquery over the same
    aggregate. partsupp's availqty*supplycost is proxied by lineitem
    revenue attributed to suppliers of one nation.

    Scale: the per-part agg shuffles on l_partkey; the global total is a
    single-row broadcast; threshold filter is free. Cents-exact sums make
    the cross-engine > comparison deterministic.

    Threshold: the spec's FRACTION scales as 0.0001/SF (a fixed fraction
    empties as part count grows — measured: 0.001 returned 97 rows at
    sf0.01 and ZERO at sf0.1, a vacuous 0=0 sweep green at the larger
    scale). The scale-free equivalent of fraction∝1/SF is a threshold
    relative to the AVERAGE per-part value; 2× average keeps the
    concentration semantics selective and non-empty at every scale
    (94 rows at sf0.01, 535 at sf0.1)."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.join(supp.select("s_suppkey"), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(_cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("part_value"))
    )
    total = rev.agg(
        # carry the corpus total as LONG CENTS end-to-end: a double
        # round-trip (sum/100.0 then round(tot*100)) is exact only below
        # 2^53 total cents, and the DuckDB leg sums cents directly — at
        # extreme scale the two could diverge at the threshold boundary
        F.sum(F.round(F.col("part_value") * 100).cast("long")).alias("tot_cents"),
        F.count(F.lit(1)).alias("nparts"),
    )
    return (
        rev.join(F.broadcast(total))
        # integer-cents comparison: part_value*100 and tot_cents are
        # exact longs on both engines, so 2x-average is a deterministic
        # integer predicate (never a float ratio at the boundary)
        .filter(
            F.round(F.col("part_value") * 100).cast("long") * F.col("nparts")
            > F.col("tot_cents") * 2
        )
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


def q11_spec(spark, sf_dir, fraction: float | None = None):
    """Spec-faithful Q11 threshold variant (TPC-H 2.18 §B.11:
    ``HAVING sum(...) > (SELECT sum(...) * FRACTION)`` with FRACTION =
    0.0001/SF): kept for external spec-comparability alongside the
    registry's scale-free 2×-average q11 (which this repo certifies —
    see q11's docstring for why the fixed fraction was replaced).

    ``fraction`` defaults to 0.0001/SF with SF parsed from the sf_dir
    name. MEASURED on the synthetic proxy (lineitem revenue standing in
    for partsupp value): the spec fraction returns 0 rows at sf0.001 /
    0.01 / 0.1 — revenue spreads across too many parts for any to hold
    0.0001/SF of the total — so this variant is deliberately NOT a
    registry/driver query (a 0=0 hash match certifies nothing; the
    sweep-log vacuity audit exists to catch exactly that). Correctness
    is pinned by a pytest that value-matches it against DuckDB at a
    fraction chosen to be non-empty."""
    import os as _os

    if fraction is None:
        name = _os.path.basename(_os.path.normpath(sf_dir))
        try:
            sf = float(name.removeprefix("sf"))
        except ValueError:
            raise ValueError(
                f"q11_spec: cannot derive the spec fraction (0.0001/SF) "
                f"because the data directory basename {name!r} is not of "
                f"the form 'sf<float>' (e.g. a tools/scale_ladder.py rung "
                f"instance). Pass fraction= explicitly for non-standard "
                f"directories."
            ) from None
        fraction = 0.0001 / sf
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.join(supp.select("s_suppkey"), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(_cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("part_value"))
    )
    total = rev.agg(
        F.sum(F.round(F.col("part_value") * 100).cast("long")).alias("tot_cents")
    )
    # integer-cents spec predicate: vc > tot_cents * fraction compares
    # exact longs against one double product — deterministic cross-engine
    # for any fraction expressible as a double
    return (
        rev.join(F.broadcast(total))
        .filter(
            F.round(F.col("part_value") * 100).cast("long")
            > F.col("tot_cents") * F.lit(float(fraction))
        )
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


Q11_ORACLE = """
WITH rev AS (
  SELECT l_partkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0 AS part_value
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY 1)
SELECT l_partkey, part_value
FROM rev
WHERE CAST(round(part_value * 100) AS BIGINT) * (SELECT count(*) FROM rev)
      > (SELECT sum(CAST(round(part_value * 100) AS BIGINT)) FROM rev) * 2
ORDER BY part_value DESC, l_partkey
"""


def q16(spark, sf_dir):
    """Q16 shape: supplier count per part attribute triple, excluding a
    supplier blocklist — distinct-count agg + anti join. The comment-based
    complaint filter is proxied by s_acctbal < 0 (no comment columns in
    the synthetic schema); part↔supplier relationships come from lineitem
    (no partsupp).

    Scale: the blocklist is tiny → broadcast anti join; distinct pairs
    are reduced map-side before the (brand, type, size) shuffle."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size") <= 20)
    )
    bad_supp = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


Q16_ORACLE = """
SELECT p_brand, p_type, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand != 'Brand#1' AND p_type != 'PROMO' AND p_size <= 20
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q20(spark, sf_dir):
    """Q20 shape: suppliers who dominate supply of a part family — nested
    aggregate threshold + semi-join chain. partsupp availqty is proxied
    by shipped quantity: a (part, supplier) pair qualifies when the
    supplier shipped >30% of that part's 1995 volume.

    Scale: one shuffle on (partkey, suppkey) for pair sums; the per-part
    total is a window over the same partitioning (no extra shuffle);
    qualifying suppkeys are tiny → broadcast semi join into supplier."""
    from pyspark.sql import Window

    part = _t(spark, sf_dir, "part").filter(F.col("p_name").startswith("small"))
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    pair = (
        li.join(part.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        pair.withColumn("part_total", F.sum("qty").over(w))
        .filter(F.col("qty") > 0.3 * F.col("part_total"))
        .select("l_suppkey")
        .distinct()
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        supp.join(dominant, supp.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


Q20_ORACLE = """
WITH pair AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE starts_with(p_name, 'small')
    AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
  GROUP BY 1, 2)
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND s_suppkey IN (
    SELECT l_suppkey FROM pair p
    WHERE qty > 0.3 * (SELECT sum(qty) FROM pair p2 WHERE p2.l_partkey = p.l_partkey))
ORDER BY s_name
"""


def q21(spark, sf_dir):
    """Q21 shape: suppliers who kept multi-supplier orders waiting —
    EXISTS + NOT EXISTS correlated self-joins on the fact table. The
    synthetic schema has no commit/receipt dates, so "late" is
    l_shipdate > o_orderdate + 60 days.

    Scale: late lines are computed once and reused for both the outer
    rows and the NOT EXISTS side; the EXISTS becomes a left-semi and the
    NOT EXISTS a left-anti, both shuffling on l_orderkey (same key →
    Spark reuses the exchange). Supplier/nation broadcast."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    nation = _t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    late = (
        li.join(orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    l1 = late.alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = late.alias("l3")
    waiting = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.join(supp, F.col("l1.l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


Q21_ORACLE = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE o_orderstatus = 'F' AND r_name = 'AMERICA'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey != l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey != l1.l_suppkey
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


QUERIES = {
    "count_star": count_star,
    "tpch_q2": q2,
    "tpch_q9": q9,
    "tpch_q11": q11,
    "tpch_q16": q16,
    "tpch_q20": q20,
    "tpch_q21": q21,
    "tpch_q7": q7,
    "tpch_q8": q8,
    "tpch_q13": q13,
    "tpch_q15": q15,
    "tpch_q17": q17,
    "tpch_q19": q19,
    "tpch_q22": q22,
    "tpch_q1": q1,
    "tpch_q3": q3,
    "tpch_q4": q4,
    "tpch_q5": q5,
    "tpch_q6": q6,
    "tpch_q10": q10,
    "tpch_q12": q12,
    "tpch_q14": q14,
    "tpch_q18": q18,
}

ORACLES = {
    "count_star": "SELECT count(*) AS cnt FROM lineitem",
    "tpch_q2": Q2_ORACLE,
    "tpch_q9": Q9_ORACLE,
    "tpch_q11": Q11_ORACLE,
    "tpch_q16": Q16_ORACLE,
    "tpch_q20": Q20_ORACLE,
    "tpch_q21": Q21_ORACLE,
    "tpch_q7": Q7_ORACLE,
    "tpch_q8": Q8_ORACLE,
    "tpch_q13": Q13_ORACLE,
    "tpch_q15": Q15_ORACLE,
    "tpch_q17": Q17_ORACLE,
    "tpch_q19": Q19_ORACLE,
    "tpch_q22": Q22_ORACLE,
    "tpch_q1": Q1_ORACLE,
    "tpch_q3": Q3_ORACLE,
    "tpch_q4": Q4_ORACLE,
    "tpch_q5": Q5_ORACLE,
    "tpch_q6": Q6_ORACLE,
    "tpch_q10": Q10_ORACLE,
    "tpch_q12": Q12_ORACLE,
    "tpch_q14": Q14_ORACLE,
    "tpch_q18": Q18_ORACLE,
}
