"""Extended TPC-H-style coverage (SURVEY.md §2B relational rows:
equi/outer joins, semi/anti via EXISTS/NOT EXISTS, correlated and
scalar subqueries, conditional aggregation, multi-way joins).

The driver's star schema is a *reduced* TPC-H (TESTDATA.md): no
partsupp, no commit/receipt dates, no ship modes, no phone numbers.
Every spec query is covered by adapting to the available columns:
Q2/Q11/Q16/Q20 derive the part↔supplier relation (with a supply-cost
/ value stand-in) from lineitem, Q4/Q21 replace the commit/receipt
lateness predicate with shipdate vs orderdate — the adaptation is
noted per query. Semantics (join shape, subquery structure, agg
pattern) follow the official TPC-H spec queries.

Scale notes: every query here shuffles only on uniform keys
(orderkey/custkey/partkey) or tiny group-by keys; dimension sides
(nation, region, part at 1/5 the customer count) are broadcast. At
100 TB the lineitem⋈orders joins rely on AQE skew handling + the
shuffle partition count set in session.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from free_etl_spark import cache
from free_etl_spark.registry import query
from free_etl_spark.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


_TS = "timestamp_ntz"


@query(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (adapted: EXISTS predicate is l_shipdate > o_orderdate
    instead of commitdate < receiptdate, which the data lacks).
    Expressed as a left-semi join with a non-equi conjunct — Catalyst
    keeps it a single shuffle on orderkey."""
    lo = F.lit("1996-01-01 00:00:00").cast(_TS)
    hi = F.lit("1996-04-01 00:00:00").cast(_TS)
    orders = (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "tpch_q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year, ROUND(SUM(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(YEAR(l_shipdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                           AND TIMESTAMP '1996-12-31 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: nation-pair trade volume by year. supplier/nation are
    broadcast; customer (fact-sized at SF100) is left to the planner's
    size estimate / AQE; only lineitem⋈orders must shuffle."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1995-01-01 00:00:00").cast(_TS),
            F.lit("1996-12-31 00:00:00").cast(_TS),
        )
    )
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(broadcast(n1), supp.s_nationkey == n1.s_nk)
        .join(broadcast(n2), cust.c_nationkey == n2.c_nk)
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "tpch_q8_market_share",
    oracle="""
    SELECT o_year,
           ROUND(SUM(CASE WHEN nation = 'NATION_6' THEN volume ELSE 0 END)
                 / SUM(volume), 6) AS mkt_share
    FROM (
      SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
        AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                            AND TIMESTAMP '1996-12-31 00:00:00'
    )
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (adapted: p_type = 'PROMO' — the data's types are
    single words): national market share within a region. The 8-way
    join keeps every dimension broadcast; conditional aggregation
    (SUM(CASE)) computes the share in one pass."""
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1995-01-01 00:00:00").cast(_TS),
            F.lit("1996-12-31 00:00:00").cast(_TS),
        )
    )
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    n2 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation"))
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(broadcast(n1), cust.c_nationkey == F.col("c_nk"))
        .join(broadcast(region), F.col("c_rk") == region.r_regionkey)
        .join(broadcast(n2), supp.s_nationkey == F.col("s_nk"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_6", volume).otherwise(0.0))
                / F.sum(volume),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "tpch_q9_product_profit",
    oracle="""
    SELECT nation, o_year, ROUND(SUM(amount), 2) AS sum_profit
    FROM (
      SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount)
               - p_retailprice * 0.6 * l_quantity AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%widget%'
    )
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted: supply cost proxied as 60% of retail price —
    the data has no partsupp). Profit per supplier nation per year for
    parts matching a name substring."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * 0.6 * F.col("l_quantity")
    )
    joined = (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .join(broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(nation), supp.s_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).alias("sum_profit"))
    )


@query(
    "tpch_q12_priority_shipping",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate > o_orderdate
    GROUP BY l_linestatus
    """,
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (adapted: grouped by l_linestatus instead of the
    absent l_shipmode; late-arrival predicate is shipdate > orderdate).
    Conditional aggregation over a single shuffled equi-join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast(_TS))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast(_TS))
    )
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: two-level aggregation over a left outer join with a
    join-side predicate (customers with zero qualifying orders count
    as c_count=0). First agg shuffles on custkey, second on the tiny
    c_count domain."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "tpch_q14_promo_revenue",
    oracle="""
    SELECT ROUND(100.00 * SUM(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share for one month. part is broadcast;
    the month filter prunes the lineitem scan before the join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast(_TS))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast(_TS))
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(broadcast(part), li.l_partkey == part.p_partkey).agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_revenue")
    )


@query(
    "tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue —
    the scalar MAX subquery becomes a rank-1 window over the revenue
    aggregate (one extra exchange over the small supplier-level agg,
    instead of two scans of lineitem)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast(_TS))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast(_TS))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    top = (
        revenue.withColumn(
            "rnk", F.rank().over(Window.orderBy(F.col("total_revenue").desc()))
        )
        .filter(F.col("rnk") == 1)
        .drop("rnk")
    )
    supp = _t(spark, sf_dir, "supplier")
    return supp.join(
        broadcast(top), supp.s_suppkey == top.supplier_no
    ).select("s_suppkey", "s_name", "total_revenue")


@query(
    "tpch_q17_small_quantity",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#13'
      AND l_quantity < (SELECT 0.5 * AVG(l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (adapted threshold 0.5×avg — the synthetic quantity
    distribution has no deep tail at 0.2×): correlated scalar subquery
    decorrelated into a per-part average joined back on partkey."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    per_part_avg = li.groupBy(F.col("l_partkey").alias("avg_pk")).agg(
        (F.avg("l_quantity") * 0.5).alias("qty_threshold")
    )
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .join(broadcast(per_part_avg), li.l_partkey == F.col("avg_pk"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "tpch_q18_large_volume",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (threshold adapted to the synthetic distribution):
    IN-subquery with HAVING becomes an aggregate + semi join, reusing
    the orderkey partitioning from the group-by for the join."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tot_qty"))
        .filter(F.col("tot_qty") > 150)
        .select("l_orderkey")
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(big.withColumnRenamed("l_orderkey", "bk"), orders.o_orderkey == F.col("bk"), "left_semi")
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@query(
    "tpch_q19_disjunctive",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 35)
       OR (p_brand = 'Brand#7'  AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 50)
    """,
)
def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (adapted to p_size/l_quantity bands — the data has no
    containers/shipmode): disjunctive mixed-table predicate over an
    equi-join. Catalyst pushes the part-only disjunction below the
    join; the residual mixed predicate filters post-join."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(broadcast(part), li.l_partkey == part.p_partkey)
    qty, brand, size = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((brand == "Brand#13") & size.between(1, 15) & qty.between(1, 20))
        | ((brand == "Brand#20") & size.between(10, 30) & qty.between(10, 35))
        | ((brand == "Brand#7") & size.between(20, 50) & qty.between(20, 50))
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


@query(
    "tpch_q22_global_sales",
    oracle="""
    SELECT c_nationkey, COUNT(*) AS numcust, ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY c_nationkey
    """,
)
def q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (adapted: grouped by c_nationkey — the data has no
    phone country codes): uncorrelated scalar subquery (avg positive
    balance, computed once and broadcast as a literal-free cross join)
    + NOT EXISTS as a left-anti join on custkey against orders placed
    since 1999 (every synthetic customer has *some* order, so the
    "lapsed customer" cut uses recency)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast(_TS)
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.crossJoin(broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@query(
    "join_full_outer_nation_activity",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_customers
               FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers
               FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(n_customers, 0) AS n_customers,
           COALESCE(n_suppliers, 0) AS n_suppliers
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def join_full_outer_nation_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two aggregates (customer and supplier counts
    per nation), preserving nations present on only one side."""
    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return cust.join(supp, cust.c_nk == supp.s_nk, "full_outer").select(
        F.coalesce("c_nk", "s_nk").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


@query(
    "join_cross_calendar",
    oracle="""
    SELECT r_name, o_orderstatus, COUNT(o_orderkey) AS n_orders
    FROM region
    CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) st
    LEFT JOIN (
      SELECT o_orderkey, o_orderstatus AS st2, r_regionkey AS rk
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region r2 ON n_regionkey = r2.r_regionkey
    ) o ON o.rk = region.r_regionkey AND o.st2 = st.o_orderstatus
    GROUP BY r_name, o_orderstatus
    """,
)
def join_cross_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join building a dense (region × status) grid, then a left
    join of the order fact so empty cells survive with count 0 — the
    dense-dimension-grid reporting pattern."""
    region = _t(spark, sf_dir, "region")
    orders = _t(spark, sf_dir, "orders")
    statuses = orders.select(F.col("o_orderstatus")).distinct()
    grid = region.crossJoin(broadcast(statuses))
    fact = (
        orders.join(
            broadcast(_t(spark, sf_dir, "customer")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(broadcast(_t(spark, sf_dir, "nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "o_orderkey",
            F.col("o_orderstatus").alias("st2"),
            F.col("n_regionkey").alias("rk"),
        )
    )
    return (
        grid.join(
            fact,
            (grid.r_regionkey == fact.rk) & (grid.o_orderstatus == fact.st2),
            "left",
        )
        .groupBy("r_name", "o_orderstatus")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "tpch_q16_supplier_part_cnt",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO' AND p_size IN (1, 4, 9, 16, 25)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_part_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted: the part↔supplier relation comes from
    lineitem — the data has no partsupp): distinct-supplier counts per
    part attribute triple, with NOT-predicates on the broadcast side."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25)
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


@query(
    "tpch_q20_promotion_suppliers",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_name LIKE '%widget%'
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_suppkey, l_partkey
      HAVING SUM(l_quantity) > (
        SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l_partkey
      )
    )
    ORDER BY s_suppkey
    """,
)
def q20_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (adapted: availability threshold derived from the
    per-part average shipped quantity instead of partsupp stock):
    suppliers who shipped more than half a part's average quantity of
    any widget part in 1996. The correlated HAVING decorrelates into a
    per-part average joined onto the (supplier, part) aggregate; the
    outer IN becomes a semi join."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    li = _t(spark, sf_dir, "lineitem")
    li96 = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast(_TS))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast(_TS))
    )
    per_part_avg = li.groupBy(F.col("l_partkey").alias("avg_pk")).agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg")
    )
    qualifying = (
        li96.join(broadcast(part), li96.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("shipped"))
        .join(broadcast(per_part_avg), F.col("l_partkey") == F.col("avg_pk"))
        .filter(F.col("shipped") > F.col("half_avg"))
        .select("l_suppkey")
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.join(qualifying, supp.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                       MIN(l_extendedprice / l_quantity) AS ps_supplycost
                FROM lineitem GROUP BY 1, 2),
    eur AS (SELECT s_suppkey, s_acctbal, s_name, n_name
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
    pe AS (SELECT * FROM ps JOIN eur ON ps_suppkey = s_suppkey),
    mn AS (SELECT ps_partkey, MIN(ps_supplycost) AS min_cost FROM pe GROUP BY 1)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
           ROUND(ps_supplycost, 6) AS supplycost
    FROM pe JOIN part ON ps_partkey = p_partkey
    JOIN mn ON pe.ps_partkey = mn.ps_partkey AND ps_supplycost = min_cost
    WHERE p_size = 15 AND p_type = 'STANDARD'
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (adapted: partsupp is derived from lineitem with
    supply cost = MIN unit price per (part, supplier) — the data has
    no partsupp). The spec's correlated scalar subquery (min cost per
    part within the region) becomes a per-part MIN + equality join —
    the decorrelation Catalyst would apply anyway. Dimension chain
    region→nation→supplier is broadcast; the only large shuffle is
    the lineitem group-by on (partkey, suppkey), a uniform key. The
    exact-equality cost filter is FP-safe: both engines compare the
    identical IEEE division results. Cites reference parity scope:
    streamlit_app.py has no query layer (SURVEY §2A)."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost"))
    eur = (
        _t(spark, sf_dir, "supplier")
        .join(
            broadcast(
                _t(spark, sf_dir, "nation").join(
                    broadcast(
                        _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    pe = ps.join(eur, F.col("ps_suppkey") == F.col("s_suppkey"))
    mn = pe.groupBy("ps_partkey").agg(F.min("ps_supplycost").alias("min_cost"))
    part_f = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    return (
        pe.join(broadcast(part_f), F.col("ps_partkey") == F.col("p_partkey"))
        .join(mn, "ps_partkey")
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("ps_supplycost", 6).alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "tpch_q11_important_parts",
    oracle="""
    WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                       SUM(l_extendedprice) AS ps_value
                FROM lineitem GROUP BY 1, 2),
    g AS (SELECT ps_partkey, ps_value
          FROM ps JOIN supplier ON ps_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_7')
    SELECT ps_partkey, ROUND(SUM(ps_value), 2) AS value
    FROM g GROUP BY ps_partkey
    HAVING SUM(ps_value) >
           (SELECT SUM(ps_value) * 1.5 / COUNT(DISTINCT ps_partkey) FROM g)
    ORDER BY value DESC, ps_partkey
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (adapted: part-supplier value = SUM of extended price
    from lineitem instead of ps_supplycost*ps_availqty). The spec's
    scalar subquery — the nation-wide value total scaled by the
    fraction — is a one-row aggregate cross-joined (broadcast) onto
    the per-part groups; supplier→nation is broadcast, so the only
    corpus-sized shuffles are the (partkey, suppkey) group-by and the
    per-part re-aggregation, both uniform keys."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(F.sum("l_extendedprice").alias("ps_value"))
    nat = (
        _t(spark, sf_dir, "supplier")
        .join(
            broadcast(_t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    g = ps.join(nat, F.col("ps_suppkey") == F.col("s_suppkey")).select(
        "ps_partkey", "ps_value"
    )
    per_part = g.groupBy("ps_partkey").agg(F.sum("ps_value").alias("raw_value"))
    # scale-free threshold (1.5x the mean per-part value): the spec's
    # fixed fraction is SF-scaled by TPC-H itself; a constant here
    # degenerates to zero rows as the part count grows
    thresh = g.agg(
        (F.sum("ps_value") * 1.5 / F.countDistinct("ps_partkey")).alias("thresh")
    )
    return (
        per_part.join(broadcast(thresh))
        .filter(F.col("raw_value") > F.col("thresh"))
        .select("ps_partkey", F.round("raw_value", 2).alias("value"))
        .orderBy(F.desc("value"), "ps_partkey")
    )


@query(
    "tpch_q21_waiting_suppliers",
    oracle="""
    WITH lo AS (SELECT l_orderkey, l_suppkey,
                       l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE o_orderstatus = 'F')
    SELECT s_name, COUNT(*) AS numwait
    FROM lo l1 JOIN supplier ON l1.l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3' AND l1.late
      AND EXISTS (SELECT 1 FROM lo l2 WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lo l3 WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
    GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (adapted: a lineitem is late when it ships > 60 days
    after the order date — the data has no commit/receipt dates).
    Preserves the spec's EXISTS / NOT EXISTS structure as a left-semi
    then left-anti self-join of the order-annotated lineitem relation,
    both keyed on orderkey with the suppkey<>suppkey non-equi
    conjunct — three shuffles on the same uniform key (Catalyst
    reuses the exchange), supplier→nation broadcast."""
    orders_f = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    lo = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ).alias("late"),
        )
    )
    sup = (
        _t(spark, sf_dir, "supplier")
        .join(
            broadcast(_t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    l1 = lo.filter("late").join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
    l2 = lo.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = lo.filter("late").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    waited = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        ).join(
            l3,
            (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    return (
        waited.groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


_BASKET_CAP = 100   # max distinct parts per customer that still join
_ALSO_TOPK = 3
_ALSO_MIN_CO = 2  # noise floor: a single co-purchase is not signal


def bought_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (customer, part) purchase relation — the distilled
    bipartite graph orders_also_bought AND graph_adamic_adar both
    consume. Persisted via the shared session relation cache (the
    user_copresence_edges pattern): the orders⋈lineitem join +
    distinct runs once per (session, corpus), and every consumer —
    including the three references inside a single also_bought plan
    (cap computation + both self-join sides) — reads the persisted
    relation."""

    def build() -> DataFrame:
        orders = load_table(spark, sf_dir, "orders")
        lineitem = load_table(spark, sf_dir, "lineitem")
        return (
            orders.join(
                lineitem, orders.o_orderkey == lineitem.l_orderkey
            )
            .select(
                F.col("o_custkey").alias("cust"),
                F.col("l_partkey").alias("part"),
            )
            .distinct()
        )

    return cache.relation(
        spark,
        sf_dir,
        "bought_baskets",
        build,
        # both join sides key the cache: a regenerated orders.parquet
        # with an untouched lineitem.parquet must rebuild (ADVICE r9)
        src_table=["orders.parquet", "lineitem.parquet"],
    )


@query(
    "orders_also_bought",
    oracle=f"""
    WITH bought AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    keep AS (
      SELECT cust FROM bought GROUP BY cust
      HAVING COUNT(*) <= {_BASKET_CAP}
    ),
    b AS (SELECT bought.* FROM bought JOIN keep USING (cust)),
    pairs AS (
      SELECT a.part AS part_a, c.part AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_co
      FROM b a JOIN b c ON a.cust = c.cust AND a.part < c.part
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_ALSO_MIN_CO}
    ),
    sym AS (
      SELECT part_a AS part, part_b AS also, n_co FROM pairs
      UNION ALL
      SELECT part_b, part_a, n_co FROM pairs
    )
    SELECT part, also, n_co, CAST(rn AS INT) AS rn FROM (
      SELECT part, also, n_co,
             ROW_NUMBER() OVER (PARTITION BY part
                                ORDER BY n_co DESC, also) AS rn
      FROM sym
    ) WHERE rn <= {_ALSO_TOPK}
    """,
)
def orders_also_bought(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence recommendations ('customers who bought
    X also bought Y'): distinct customer baskets, same-basket part
    pairs counted, top-{_ALSO_TOPK} co-items per part. The recommender
    staple, with the quadratic risk handled the dedup way: pair cost
    is Σ C(basket, 2), so baskets over {_BASKET_CAP} distinct parts
    (bots / resellers at corpus scale) are excluded BEFORE the
    self-join — the standard co-occurrence cap; every remaining stage
    shuffles on a uniform high-card key (cust, then part), and the
    per-part ranking window is bounded by co-item fan-out, not the
    corpus. The distilled basket relation (distinct (cust, part) —
    orders of magnitude smaller than lineitem) is persisted via the
    shared relation cache and consumed three times (cap computation +
    both self-join sides); without it each consumer replayed the
    orders⋈lineitem join + distinct (r8 plan showed 16 parquet
    scans). Negative result (r9): an eager localCheckpoint here
    measured FASTER isolated (4.4 s) but 2x SLOWER inside the full
    bench suite (12.3 s vs the 5.9 s baseline, BENCH_QUERIES_r09
    first stamp) — the per-invocation checkpoint write fights the
    suite for disk; the session-scoped persist amortizes across
    repeated invocations the way a staging table would on a
    cluster."""
    bought = bought_baskets(spark, sf_dir)
    keep = (
        bought.groupBy("cust")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= _BASKET_CAP)
        .select("cust")
    )
    # pair generation stays a basket SELF-JOIN on cust: the tempting
    # map-side alternative (collect_set per customer + nested
    # transform/flatten/explode of in-array pairs) was measured ~2x
    # SLOWER at sf0.1 (11.4s vs 5.7s warm) — higher-order array
    # functions evaluate interpreted per element while the hash join
    # and partial aggregate run inside whole-stage codegen. Negative
    # result recorded so it isn't retried.
    b = bought.join(keep, "cust")
    a2, c2 = b.alias("a"), b.alias("c")
    pairs = (
        a2.join(
            c2,
            (F.col("a.cust") == F.col("c.cust"))
            & (F.col("a.part") < F.col("c.part")),
        )
        .groupBy(
            F.col("a.part").alias("part_a"), F.col("c.part").alias("part_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_co"))
        .filter(F.col("n_co") >= _ALSO_MIN_CO)
    )
    sym = pairs.select(
        F.col("part_a").alias("part"), F.col("part_b").alias("also"), "n_co"
    ).unionAll(
        pairs.select(
            F.col("part_b").alias("part"), F.col("part_a").alias("also"), "n_co"
        )
    )
    w = Window.partitionBy("part").orderBy(F.col("n_co").desc(), F.col("also"))
    return (
        sym.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= _ALSO_TOPK)
        .select("part", "also", "n_co", "rn")
    )


@query(
    "orders_decimal_exact_totals",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE)
             AS total_exact,
           CAST(SUM(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def orders_decimal_exact_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact money arithmetic: the 2-decimal price column summed as
    DECIMAL(18,2) (and as integer cents — two independent exact
    paths that must agree) instead of accumulating FP error in a
    DOUBLE sum. At 100 TB a double sum of billions of prices drifts
    by whole cents depending on partial-aggregation order — the
    classic finance-pipeline defect; decimal partial sums are exact
    and order-insensitive, so the merged total is THE total on any
    cluster layout. Spark's decimal aggregate carries widened
    precision through partial/final merge; the final cast to DOUBLE
    is one deterministic conversion of an exact value."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_exact"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).cast("long").alias("total_cents"),
    )


_MBL_MIN_CO = 2   # association-rule noise floor (same as also-bought)
_MBL_TOPK = 100


@query(
    "orders_market_basket_lift",
    oracle=f"""
    WITH b AS (
      SELECT DISTINCT l_orderkey AS ord, l_partkey AS part FROM lineitem
    ),
    nb AS (SELECT CAST(COUNT(DISTINCT ord) AS DOUBLE) AS n_orders FROM b),
    item AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS n_item
             FROM b GROUP BY part),
    pairs AS (
      SELECT a.part AS part_a, c.part AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_co
      FROM b a JOIN b c ON a.ord = c.ord AND a.part < c.part
      GROUP BY 1, 2 HAVING COUNT(*) >= {_MBL_MIN_CO}
    )
    SELECT part_a, part_b, n_co,
           FLOOR(n_co / nb.n_orders * 1e6) / 1e6 AS support,
           FLOOR(CAST(n_co AS DOUBLE) / ia.n_item * 1e6) / 1e6
             AS confidence,
           FLOOR(nb.n_orders * n_co
                 / (CAST(ia.n_item AS DOUBLE) * ib.n_item) * 1e6) / 1e6
             AS lift
    FROM pairs JOIN item ia ON ia.part = pairs.part_a
               JOIN item ib ON ib.part = pairs.part_b
               CROSS JOIN nb
    ORDER BY n_co DESC, part_a, part_b LIMIT {_MBL_TOPK}
    """,
)
def orders_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order-level baskets: support,
    confidence(a->b) and lift for every part pair co-purchased in
    >= {_MBL_MIN_CO} orders — the classic market-basket trio on top
    of the same capped self-join shape as orders_also_bought (the
    basket key here is the ORDER, whose size is bounded by order
    line-count, so no explicit cap is needed; a customer-keyed
    variant would reuse the cap). The ratios are FLOOR(x*1e6)/1e6 on
    both sides — ROUND at a power-of-ten boundary differs between
    engines (Spark half-up, DuckDB half-even) and int-ratio
    denominators here (n_item products) exceed the 5^6 safe bound.
    Ordering is by the integer co-count with part tie-breakers, so
    the LIMIT is decided on exact values only. The distinct
    order-basket relation feeds FOUR consumers (order count, item
    supports, both self-join sides) — persisted via the shared
    session cache like its customer-keyed sibling bought_baskets."""

    def build_baskets() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        return li.select(
            F.col("l_orderkey").alias("ord"), F.col("l_partkey").alias("part")
        ).distinct()

    b = cache.relation(
        spark, sf_dir, "order_baskets", build_baskets,
        src_table="lineitem.parquet",
    )
    nb = b.agg(F.countDistinct("ord").cast("double").alias("n_orders"))
    item = b.groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("n_item")
    )
    a2, c2 = b.alias("a"), b.alias("c")
    pairs = (
        a2.join(
            c2,
            (F.col("a.ord") == F.col("c.ord"))
            & (F.col("a.part") < F.col("c.part")),
        )
        .groupBy(
            F.col("a.part").alias("part_a"), F.col("c.part").alias("part_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_co"))
        .filter(F.col("n_co") >= _MBL_MIN_CO)
    )
    ia = item.select(
        F.col("part").alias("part_a"), F.col("n_item").alias("n_a")
    )
    ib = item.select(
        F.col("part").alias("part_b"), F.col("n_item").alias("n_b")
    )
    joined = pairs.join(ia, "part_a").join(ib, "part_b").join(F.broadcast(nb))

    def floor6(c):
        return F.floor(c * 1e6) / 1e6

    return (
        joined.select(
            "part_a",
            "part_b",
            "n_co",
            floor6(F.col("n_co") / F.col("n_orders")).alias("support"),
            floor6(
                F.col("n_co").cast("double") / F.col("n_a")
            ).alias("confidence"),
            floor6(
                F.col("n_orders")
                * F.col("n_co")
                / (F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("lift"),
        )
        .orderBy(F.col("n_co").desc(), "part_a", "part_b")
        .limit(_MBL_TOPK)
    )


@query(
    "orders_cohort_ltv",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             date_trunc('month', MIN(o_orderdate)) AS cohort_month
      FROM orders GROUP BY o_custkey
    ),
    rev AS (
      SELECT f.cohort_month,
             CAST((year(o.o_orderdate) - year(f.cohort_month)) * 12
                  + (month(o.o_orderdate) - month(f.cohort_month))
                  AS INT) AS months_since,
             o.o_totalprice AS p, o.o_custkey AS c
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    )
    SELECT CAST(cohort_month AS TIMESTAMP) AS cohort_month, months_since,
           CAST(COUNT(DISTINCT c) AS BIGINT) AS active_customers,
           ROUND(SUM(p), 2) AS revenue
    FROM rev GROUP BY 1, 2
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value triangle: revenue by first-order-month
    cohort x months-since-acquisition — the LTV payback table every
    subscription/commerce dashboard opens with (read a row
    left-to-right to see a cohort mature; read a column to compare
    cohorts at the same age). Both aggregates shuffle on o_custkey
    and the cohort join reuses that partitioning; months_since is
    integer year/month arithmetic (identical in both engines, no
    date-diff rounding)."""
    orders = load_table(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    rev = orders.join(firsts, "o_custkey")
    months_since = (
        (F.year("o_orderdate") - F.year("cohort_month")) * 12
        + (F.month("o_orderdate") - F.month("cohort_month"))
    ).cast("int")
    return rev.groupBy(
        F.col("cohort_month").cast("timestamp_ntz").alias("cohort_month"),
        months_since.alias("months_since"),
    ).agg(
        F.countDistinct("o_custkey").cast("long").alias("active_customers"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@query(
    "orders_eb_shrunk_return_rates",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r
      FROM lineitem GROUP BY l_partkey
    ),
    prior AS (
      SELECT CAST(SUM(r) AS DOUBLE) / SUM(n) AS p0 FROM per_part
    )
    SELECT l_partkey, n, r,
           ROUND((r + 50.0 * p.p0) / (n + 50.0), 6) AS shrunk_rate,
           ROUND(CAST(r AS DOUBLE) / n, 6) AS raw_rate
    FROM per_part CROSS JOIN prior p
    ORDER BY shrunk_rate DESC, l_partkey
    LIMIT 20
    """,
)
def orders_eb_shrunk_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage — the small-sample ranking fix every
    marketplace/quality dashboard needs: a part with 2/2 returns must
    not outrank one with 40/50, so per-part return rates shrink toward
    the corpus rate p0 with prior strength m=50 (Beta(m·p0, m·(1−p0))
    posterior mean). Top-20 by shrunk rate with the raw rate alongside
    for contrast. One groupBy pass + a broadcast scalar prior; the
    shrink is arithmetic on identical integers, so both engines rank
    identically (ties broken by partkey)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("r"),
    )
    prior = per_part.agg(
        (F.sum("r").cast("double") / F.sum("n")).alias("p0")
    )
    return (
        per_part.crossJoin(F.broadcast(prior))
        .select(
            "l_partkey",
            "n",
            "r",
            F.round(
                (F.col("r") + 50.0 * F.col("p0")) / (F.col("n") + 50.0), 6
            ).alias("shrunk_rate"),
            F.round(F.col("r").cast("double") / F.col("n"), 6).alias(
                "raw_rate"
            ),
        )
        .orderBy(F.desc("shrunk_rate"), "l_partkey")
        .limit(20)
    )
