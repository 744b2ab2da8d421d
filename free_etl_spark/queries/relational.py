"""Relational core: scans, filters, joins (equi/broadcast/outer/semi/
anti/range), aggregations (basic, distinct, approx, rollup, cube,
grouping sets), sorts and limits.

Everything here is pure DataFrame API — Catalyst handles pushdown,
pruning, join selection and AQE handles skew/coalescing at scale. Small
dimension sides are broadcast explicitly. (SURVEY.md §2B.)
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


# ── TPC-H-style analytical queries ──────────────────────────────────


@query(
    "tpch_q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                   AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                              AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*)                  AS avg_qty,
           ROUND(SUM(l_extendedprice), 2) / COUNT(*)                   AS avg_price,
           ROUND(SUM(l_discount), 2) / COUNT(*)                        AS avg_disc,
           COUNT(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary. One scan + one partial-then-final
    hash aggregate on two low-cardinality keys — no skew risk, the
    only shuffle carries <10 groups."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            # sum-over-count, not ROUND(AVG): the decimal-grid source
            # columns can put a group mean exactly on a rounding
            # boundary, where Spark (half-up) and DuckDB (half-even)
            # disagree; sums round safely (their grid sits far from
            # the boundary) and one IEEE division is deterministic
            (F.sum("l_quantity").cast("double") / F.count(F.lit(1))).alias(
                "avg_qty"
            ),
            (F.round(F.sum("l_extendedprice"), 2) / F.count(F.lit(1))).alias(
                "avg_price"
            ),
            (F.round(F.sum("l_discount"), 2) / F.count(F.lit(1))).alias(
                "avg_disc"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: filtered 3-way join + agg + top-10. customer carries
    NO broadcast hint: it is fact-sized in TPC-H (1.5 M rows/SF →
    ~15 GB at SF100), so a forced broadcast OOMs executors at scale.
    The planner's size estimate (and AQE at runtime) picks broadcast
    while the filtered side is genuinely small; the orders⋈lineitem
    join shuffles on orderkey (uniform key, no salt needed)."""
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "tpch_q5_local_supplier",
    oracle="""
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way join. region/nation/supplier get explicit
    broadcasts (genuine dimensions at every SF); customer does NOT —
    it is fact-sized at SF100, so its join strategy is left to the
    planner's size estimate / AQE. Only orders⋈lineitem must shuffle."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    nr = nation.join(broadcast(region), nation.n_regionkey == region.r_regionkey)
    snr = supplier.join(broadcast(nr), supplier.s_nationkey == nr.n_nationkey)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(broadcast(snr), li.l_suppkey == snr.s_suppkey)
        .join(
            customer,
            (orders.o_custkey == customer.c_custkey)
            & (customer.c_nationkey == snr.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan+filter+global agg. All four predicates push
    down to the parquet scan (verify via PushedFilters in .explain)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           ROUND(c_acctbal, 2) AS acctbal,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue per customer, top 20. nation
    is broadcast; customer (fact-sized at SF100) is left to the
    planner's size estimate / AQE."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# ── join variants ───────────────────────────────────────────────────


@query(
    "join_broadcast_dim",
    oracle="""
    SELECT n_name, c_mktsegment,
           COUNT(*) AS order_cnt,
           ROUND(SUM(o_totalprice), 2) AS total_spend
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name, c_mktsegment
    """,
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim⋈dim: nation (25 rows at every SF) gets an explicit
    broadcast; customer's strategy is size-gated by the planner/AQE —
    at small SF it broadcasts (zero shuffle on the fact side until the
    final aggregate), at SF100 it is fact-sized and must not."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
    )


@query(
    "join_left_outer_agg",
    oracle="""
    SELECT c_custkey, c_name,
           COUNT(o_orderkey) AS order_cnt,
           ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS total_spend
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey AND o_totalprice > 200000
    GROUP BY c_custkey, c_name
    """,
)
def join_left_outer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no qualifying orders
    (COUNT skips NULLs → 0 for them)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("order_cnt"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0)), 2).alias(
                "total_spend"
            ),
        )
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one big order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no big order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "join_range_bands",
    oracle="""
    SELECT b.band_name,
           COUNT(*) AS item_cnt,
           ROUND(SUM(l_extendedprice), 2) AS band_price
    FROM lineitem l
    JOIN (VALUES ('small', 0.0, 10.0), ('medium', 10.0, 25.0),
                 ('large', 25.0, 40.0), ('xl', 40.0, 51.0))
         AS b(band_name, lo, hi)
      ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
    GROUP BY b.band_name
    """,
)
def join_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join of a fact table against a tiny band table.
    The band side is broadcast → a BroadcastNestedLoopJoin that scans
    lineitem exactly once; at 100 TB the band side stays 4 rows so this
    remains a map-side-only plan."""
    li = _t(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(
        [("small", 0.0, 10.0), ("medium", 10.0, 25.0), ("large", 25.0, 40.0), ("xl", 40.0, 51.0)],
        "band_name string, lo double, hi double",
    )
    return (
        li.join(
            broadcast(bands),
            (li.l_quantity >= bands.lo) & (li.l_quantity < bands.hi),
        )
        .groupBy("band_name")
        .agg(
            F.count(F.lit(1)).alias("item_cnt"),
            F.round(F.sum("l_extendedprice"), 2).alias("band_price"),
        )
    )


# ── aggregation variants ────────────────────────────────────────────


@query(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS order_cnt,
           COUNT(DISTINCT o_custkey) AS uniq_customers
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (Catalyst expands to a two-phase
    partial-distinct plan automatically)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            F.countDistinct("o_custkey").alias("uniq_customers"),
        )
    )


@query(
    "agg_approx_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS event_cnt,
           TRUE AS within_tolerance
    FROM events
    GROUP BY event_type
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the 100 TB-scale substitute
    for COUNT(DISTINCT): one pass, constant memory per group, no
    distinct-expand shuffle. The HLL estimate itself is engine-specific,
    so the oracled surface is `within_tolerance`: the estimate must land
    within 3x the requested 1% relative standard deviation of the exact
    count (computed in the same query), which the oracle asserts as a
    constant TRUE alongside the exact values — a hard value gate on the
    sketch without comparing engine-specific estimates."""
    approx = F.approx_count_distinct("user_id", 0.01)
    exact = F.countDistinct("user_id")
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            exact.alias("exact_users"),
            F.count(F.lit(1)).alias("event_cnt"),
            (
                F.abs(approx - exact) <= F.greatest(F.lit(1.0), 0.03 * exact)
            ).alias("within_tolerance"),
        )
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT r_name, n_name,
           COUNT(*) AS cust_cnt,
           ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (region → nation → grand total)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("cust_cnt"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS line_cnt,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over the two lineitem flags (all 2^2 grouping combinations)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("line_cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS order_cnt,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (expressed in Spark SQL over a temp view)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("fes_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS order_cnt,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM fes_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ── sort / limit ────────────────────────────────────────────────────


@query(
    "sort_limit_top100",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def sort_limit_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition
    heaps + driver merge, no full sort shuffle (stays O(k) memory at
    any scale)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
        .orderBy(
            F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
        )
        .limit(100)
    )


@query(
    "join_right_outer_orders",
    oracle="""
    SELECT n_name, COUNT(o_orderkey) AS n_orders
    FROM (SELECT o_orderkey, o_custkey FROM orders
          WHERE o_totalprice > 400000) big
    RIGHT JOIN customer ON big.o_custkey = c_custkey
    RIGHT JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_right_outer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer joins preserving every customer and every nation,
    counting only high-value orders (nations with zero such orders
    survive with n_orders=0)."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "right")
        .join(nation, F.col("c_nationkey") == nation.n_nationkey, "right")
        .groupBy("n_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "agg_regression_lineitem",
    oracle="""
    SELECT l_returnflag,
           COUNT(*)                                              AS n,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4)     AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6)        AS r2,
           ROUND(median(l_quantity), 6)                          AS median_qty,
           ROUND(median(l_extendedprice), 4)                     AS median_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_regression_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (extendedprice regressed on
    quantity per return flag) plus exact medians — the OLS family
    (regr_slope/regr_intercept/regr_r2) is a one-pass mergeable
    aggregate (sums of x, y, xx, xy, yy), so it map-side combines and
    scales like any sum; exact median is the only non-mergeable member
    (Spark sorts within each group — at 100 TB prefer the
    approx_percentile sketch of agg_approx_percentiles; this query is
    the exact-answer reference). No reference parity (the reference
    computes no aggregates — SURVEY.md §2A "notably absent")."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias(
            "intercept"
        ),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        F.round(F.median("l_quantity"), 6).alias("median_qty"),
        F.round(F.median("l_extendedprice"), 4).alias("median_price"),
    )


@query(
    "agg_hll_sketch_union",
    oracle="""
    WITH per_type AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS d
      FROM events GROUP BY event_type
    )
    SELECT CAST((SELECT COUNT(*) FROM per_type) AS BIGINT) AS n_types,
           CAST((SELECT COUNT(DISTINCT user_id) FROM events) AS BIGINT)
             AS exact_global,
           CAST((SELECT SUM(d) FROM per_type) AS BIGINT) AS sum_per_type,
           TRUE AS within_tolerance
    """,
)
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-event-type HLL sketches of
    user_id, unioned into one global sketch whose estimate must land
    within 5% of the exact global distinct. This is the re-aggregation
    property that makes distinct counts tierable at 100 TB — daily
    partition sketches union into monthly/global counts WITHOUT
    rescanning raw data, which a plain COUNT(DISTINCT) can never do
    (sum_per_type > exact_global in the output shows why: users span
    types, so distincts don't add). The sketch bytes are
    engine-specific, so the oracled surface is `within_tolerance`
    (the agg_approx_distinct convention) plus the exact values."""
    ev = _t(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk"),
        F.countDistinct("user_id").alias("d"),
    )
    est = F.expr("hll_sketch_estimate(hll_union_agg(sk))")
    exact = ev.agg(F.countDistinct("user_id").alias("exact_global"))
    merged = per_type.agg(
        F.count(F.lit(1)).alias("n_types"),
        est.alias("est"),
        F.sum("d").alias("sum_per_type"),
    )
    return (
        merged.join(F.broadcast(exact))
        .select(
            "n_types",
            "exact_global",
            "sum_per_type",
            (
                F.abs(F.col("est") - F.col("exact_global"))
                <= F.greatest(F.lit(1.0), 0.05 * F.col("exact_global"))
            ).alias("within_tolerance"),
        )
    )


@query(
    "orders_rfm_segmentation",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             datediff('day', MAX(CAST(o_orderdate AS TIMESTAMP)),
                      (SELECT MAX(CAST(o_orderdate AS TIMESTAMP)) FROM orders))
               AS recency_days,
             COUNT(*) AS frequency,
             SUM(o_totalprice) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey,
             NTILE(5) OVER (ORDER BY recency_days ASC,  o_custkey) AS r,
             NTILE(5) OVER (ORDER BY frequency  DESC, o_custkey) AS f,
             NTILE(5) OVER (ORDER BY monetary   DESC, o_custkey) AS m,
             monetary
      FROM cust
    )
    SELECT r, f, m,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(SUM(monetary), 2)  AS total_monetary
    FROM scored GROUP BY r, f, m
    """,
)
def orders_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) customer segmentation — the
    classic marketing-analytics quintile grid: per-customer order
    recency, count, and spend, each NTILE(5)-scored (1 = best; ties
    broken by custkey so the quintile boundaries are deterministic),
    aggregated to segment cells. Scale note (VERDICT r14 task 3): the
    per-customer rollup is an ordinary partial-agg shuffle, persisted
    once (all four consumers below must see identical double sums for
    the monetary tie-breaks to be stable); each metric's four exact
    quintile BOUNDARY rows are extracted with one independent
    prefix.ntile_boundary_rows pass over that relation (range
    partition + pid-local row number — no single-partition window,
    no global sort), and the scores are then a MAP-SIDE comparison of
    each row's (value, custkey) against the <=4 broadcast boundary
    literals — bucket = 1 + #boundaries ordered strictly before the
    row, exactly NTILE's positional rule. The former form chained
    three global_ntile passes on ONE lineage, so each pass's plan
    embedded all previous passes (plan audit: 128 scans / 149
    Exchanges); the boundary form keeps the returned plan one cached
    scan + one aggregate exchange, and at billions of customers the
    scoring pass is shuffle-free (guide §2.3: decide with a
    lightweight proxy — the boundary tuples — and never re-shuffle
    the payload)."""
    o = _t(spark, sf_dir, "orders")
    maxd = o.agg(F.max("o_orderdate").alias("gmax"))
    cust = (
        o.join(F.broadcast(maxd))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.max("gmax"), F.max("o_orderdate")).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("o_totalprice").alias("monetary"),
        )
    )
    from free_etl_spark.operators.prefix import global_ntile_boundaries

    cust = cache.by_plan(cust, "rfm_cust")
    scored = cust
    for alias, vcol, desc in (
        ("r", "recency_days", False),
        ("f", "frequency", True),
        ("m", "monetary", True),
    ):
        scored = global_ntile_boundaries(
            scored,
            [(vcol, desc), ("o_custkey", False)],
            5,
            alias,
            cache_tag=f"rfm_{alias}",
            boundary_src=cust.select(vcol, "o_custkey"),
        )
    scored = scored.select("o_custkey", "monetary", "r", "f", "m")
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(F.sum("monetary"), 2).alias("total_monetary"),
    )


@query(
    "agg_string_concat",
    oracle="""
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           string_agg(cust_tag, ',' ORDER BY cust_tag) AS top_custs
    FROM (
      SELECT n_name, 'c' || CAST(c_custkey AS VARCHAR) AS cust_tag,
             ROW_NUMBER() OVER (PARTITION BY n_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer JOIN nation ON c_nationkey = n_nationkey
    )
    WHERE rn <= 5
    GROUP BY n_name
    """,
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered grouped string aggregation (STRING_AGG / LISTAGG — the
    reporting-SQL staple): each nation's top-5 customers by balance
    concatenated in deterministic order. Spark expresses the ordered
    aggregate as array_sort(collect_list(...)) + array_join — the
    per-group arrays are bounded (top-5 via the window filter) so the
    collect never materializes unbounded state."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rn = F.row_number().over(
        Window.partitionBy("n_nationkey").orderBy(
            F.col("c_acctbal").desc(), F.col("c_custkey")
        )
    )
    top = (
        cust.join(broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            "n_nationkey",
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias(
                "cust_tag"
            ),
            rn.alias("rn"),
        )
        .filter(F.col("rn") <= 5)
    )
    return top.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.array_join(F.array_sort(F.collect_list("cust_tag")), ",").alias(
            "top_custs"
        ),
    )


@query(
    "scalar_hash_funcs",
    oracle="""
    SELECT o_orderkey,
           md5(CAST(o_orderkey AS VARCHAR))    AS key_md5,
           sha256(CAST(o_orderkey AS VARCHAR)) AS key_sha256,
           CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::UBIGINT
                % 1024 AS INT)                 AS shard
    FROM orders WHERE o_orderkey % 500 = 0
    """,
)
def scalar_hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic-hash scalar coverage (md5 / sha256) plus the
    hash-derived shard assignment every content-addressed layout is
    built on — all map-side codegen; the shard derivation (first 8
    hex chars → int → mod) is the same portable construction the
    deterministic samplers use."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 500 == 0)
    key = F.col("o_orderkey").cast("string")
    shard = (
        F.conv(F.substring(F.md5(key.cast("binary")), 1, 8), 16, 10)
        .cast("long")
        % 1024
    ).cast("int")
    return o.select(
        "o_orderkey",
        F.md5(key.cast("binary")).alias("key_md5"),
        F.sha2(key.cast("binary"), 256).alias("key_sha256"),
        shard.alias("shard"),
    )


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 ``|>`` operators): the Q1-style
    pricing rollup written as a linear FROM → WHERE → EXTEND →
    AGGREGATE pipeline. Pipe syntax lowers to the identical logical
    plan as the nested form — Catalyst sees the same filter pushdown
    and partial aggregation — so this proves the parser surface, not
    a new engine path; the oracle is the classic formulation."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "pipe_lineitem_in"
    )
    return spark.sql(
        """
        FROM pipe_lineitem_in
        |> WHERE l_shipdate <= DATE '1998-09-02'
        |> EXTEND l_extendedprice * (1 - l_discount) AS disc_price
        |> AGGREGATE CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
                     ROUND(SUM(disc_price), 2) AS revenue,
                     COUNT(*) AS n
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, sum_qty, revenue, n
        """
    )


@query(
    "sql_parameterized",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    WHERE o_totalprice BETWEEN 50000 AND 200000
      AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (named parameter markers, Spark 3.4+/4): the
    values bind as literals AFTER parsing, so user input can never
    splice into the query text (the injection-safe templating path a
    service layer needs) and Catalyst still constant-folds and pushes
    the bound predicates to the scan. The oracle inlines the same
    constants."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "param_orders_in"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total
        FROM param_orders_in
        WHERE o_totalprice BETWEEN :lo AND :hi
          AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"lo": 50000, "hi": 200000, "status": "F"},
    )


_CMS_D = 4  # sketch depth (independent hash rows)
_CMS_W = 256  # sketch width (buckets per row)


@query(
    "agg_heavy_hitters_cms",
    oracle=f"""
    WITH tok AS (SELECT t.tok FROM documents,
                 UNNEST(string_split(text, ' ')) AS t(tok)),
    tokc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok
             GROUP BY tok),
    total AS (SELECT SUM(cnt) AS n FROM tokc),
    buck AS (
      SELECT tok, cnt, g.d,
             CAST(('0x' || substr(md5(CAST(g.d AS VARCHAR) || '|' || tok),
                   1, 8))::UBIGINT % {_CMS_W} AS BIGINT) AS bucket
      FROM tokc CROSS JOIN generate_series(0, {_CMS_D - 1}) AS g(d)
    ),
    sketch AS (SELECT d, bucket, SUM(cnt) AS c FROM buck
               GROUP BY d, bucket),
    est AS (
      SELECT b.tok, MAX(b.cnt) AS exact_cnt,
             CAST(MIN(s.c) AS BIGINT) AS cms_est
      FROM buck b JOIN sketch s ON s.d = b.d AND s.bucket = b.bucket
      GROUP BY b.tok
    )
    SELECT tok, exact_cnt, cms_est,
           CAST(cms_est - exact_cnt AS BIGINT) AS over_est
    FROM est CROSS JOIN total
    WHERE cms_est * 200 >= total.n
    """,
)
def agg_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over the corpus token stream:
    a 4x256 counter matrix (depth x width, md5-derived bucket per
    row) estimates every token's frequency as the min of its 4
    bucket counters; tokens whose ESTIMATE clears 0.5% of total
    token volume are reported with their exact count and the CMS
    overestimate. The sketch is the point: it is MERGEABLE (counter
    matrices add elementwise — the groupBy (d, bucket) partial
    aggregation IS the shard merge), so per-partition/per-day
    sketches roll up without rescanning raw data, the frequency
    analogue of agg_hll_sketch_union. Plan shape: token counts
    (two-phase agg), a 1024-row sketch (broadcast), a broadcast
    probe join, and an integer threshold (est*200 >= N — no FP
    anywhere). md5 bucketing makes the sketch bit-deterministic, so
    the oracle replays the full matrix; CMS guarantees est >= exact
    always, and the over_est column shows collision inflation.
    Candidate enumeration probes the vocabulary-sized count relation
    — at 100 TB the probe set would be the top-K of a cheap pre-agg,
    same plan shape."""
    docs = load_table(spark, sf_dir, "documents")
    tokc = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bucket_structs = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(F.lit(f"{d}|"), F.col("tok")).cast(
                                    "binary"
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % _CMS_W
                ).alias("bucket"),
            )
            for d in range(_CMS_D)
        ]
    )
    buck = tokc.select(
        "tok", "cnt", F.explode(bucket_structs).alias("b")
    ).select("tok", "cnt", F.col("b.d").alias("d"), F.col("b.bucket").alias("bucket"))
    sketch = buck.groupBy("d", "bucket").agg(F.sum("cnt").alias("c"))
    total = tokc.agg(F.sum("cnt").alias("n"))
    est = (
        buck.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("tok")
        .agg(
            F.max("cnt").cast("long").alias("exact_cnt"),
            F.min("c").cast("long").alias("cms_est"),
        )
    )
    return (
        est.join(F.broadcast(total))
        .filter(F.col("cms_est") * 200 >= F.col("n"))
        .select(
            "tok",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("over_est"),
        )
    )


@query(
    "orders_abc_pareto",
    oracle="""
    WITH c AS (
      SELECT o_custkey,
             CAST(ROUND(ROUND(SUM(o_totalprice), 2) * 100, 0) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS t FROM c),
    ranked AS (
      SELECT o_custkey, rev_cents,
             CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC, o_custkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_cents
      FROM c
    )
    SELECT o_custkey,
           ROUND(rev_cents / 100.0, 2) AS revenue,
           FLOOR(CAST(cum_cents AS DOUBLE) / tot.t * 1e6) / 1e6
             AS cum_share,
           CASE WHEN cum_cents * 100 <= tot.t * 80 THEN 'A'
                WHEN cum_cents * 100 <= tot.t * 95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked CROSS JOIN tot
    """,
)
def orders_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of customers by revenue: rank by
    total order value, accumulate revenue share, bucket into A (first
    80% of revenue), B (to 95%), C (tail) — the inventory/CRM
    segmentation staple. All accumulation is EXACT integer cents
    (the 2-decimal money grid times 100): a floating running sum and
    a floating grand total sum in different orders on the two
    engines, so their ratio can straddle a class boundary or the
    floor grid by one ulp — integers cannot. The class gates compare
    cum_cents*100 against t*80/t*95 (pure integer), and the reported
    share divides two exactly-representable integers (identical
    doubles, then floor). Per-customer totals are a partial-agg
    shuffle; the cumulative sum over the AGGREGATED customer relation
    — |customers|-sized at 100 TB, far too big for a single-partition
    running sum — is the two-pass range-partitioned prefix sum
    (operators/prefix.py): range-partition by (revenue DESC, custkey),
    pid-local running sums, constant-size per-partition totals
    prefixed by a triangular join and broadcast back; the grand total
    rides the same totals relation, saving the second scan the old
    `c.agg(sum)` branch paid. Thresholds and output are unchanged;
    (revenue DESC, custkey) totally orders ties so the prefix is
    boundary-placement-invariant."""
    from free_etl_spark.operators.prefix import ordered_prefix

    o = _t(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.round(F.round(F.sum("o_totalprice"), 2) * 100, 0)
        .cast("long")
        .alias("rev_cents")
    )
    ranked = ordered_prefix(
        c,
        [F.desc("rev_cents"), F.col("o_custkey")],
        cache_tag="abc_pareto",
        sums={"__cum": "rev_cents"},
        grand={"__t": "rev_cents"},
    ).select(
        "o_custkey",
        "rev_cents",
        F.col("__cum").cast("long").alias("cum_cents"),
        F.col("__t").cast("long").alias("t"),
    )
    return ranked.select(
        "o_custkey",
        F.round(F.col("rev_cents") / 100.0, 2).alias("revenue"),
        (
            F.floor(F.col("cum_cents").cast("double") / F.col("t") * 1e6) / 1e6
        ).alias("cum_share"),
        F.when(F.col("cum_cents") * 100 <= F.col("t") * 80, "A")
        .when(F.col("cum_cents") * 100 <= F.col("t") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@query(
    "snapshot_diff_orders",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS k, ROUND(o_totalprice, 2) AS price
      FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
    ),
    b AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 8 = 1
                  THEN ROUND(ROUND(o_totalprice, 2) * 1.1, 2)
                  ELSE ROUND(o_totalprice, 2) END AS price
      FROM orders WHERE o_orderkey % 4 IN (1, 2, 3)
    ),
    d AS (
      SELECT COALESCE(a.k, b.k) AS k,
             CASE WHEN a.k IS NULL THEN 'added'
                  WHEN b.k IS NULL THEN 'removed'
                  WHEN a.price <> b.price THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM a FULL OUTER JOIN b ON a.k = b.k
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(k) AS BIGINT) AS key_checksum
    FROM d GROUP BY status
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the data-versioning audit between two table
    versions (the check a pipeline runs after a backfill or CDC apply
    to quantify what moved): full outer join on the key classifying
    each row added / removed / changed / unchanged, rolled up with a
    key checksum per class. The two versions are deterministic slices
    of orders (old = keys %4∈{0,1,2}; new = %4∈{1,2,3} with a 10%
    price bump on %8=1), so both engines diff identical inputs. At
    100 TB the join shuffles both snapshots once on the key — or zero
    times if both versions are bucket-partitioned by key, the layout
    operators/partitioning.py demonstrates; the rollup output is
    4 rows. Money compares on the rounded 2dp grid (exact in both
    engines), never raw FP."""
    o = _t(spark, sf_dir, "orders")
    price = F.round("o_totalprice", 2)
    a = o.filter((F.col("o_orderkey") % 4).isin(0, 1, 2)).select(
        F.col("o_orderkey").alias("k"), price.alias("price_a")
    )
    b = o.filter((F.col("o_orderkey") % 4).isin(1, 2, 3)).select(
        F.col("o_orderkey").alias("k"),
        F.when(
            F.col("o_orderkey") % 8 == 1, F.round(price * 1.1, 2)
        )
        .otherwise(price)
        .alias("price_b"),
    )
    d = a.join(b, "k", "full_outer").select(
        "k",
        F.when(F.col("price_a").isNull(), "added")
        .when(F.col("price_b").isNull(), "removed")
        .when(F.col("price_a") != F.col("price_b"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return d.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("k").cast("long").alias("key_checksum"),
    )


@query(
    "sql_lateral_topk",
    oracle="""
    SELECT n.n_name, c.c_name, c.c_acctbal
    FROM nation n,
    LATERAL (SELECT c_name, c_acctbal FROM customer
             WHERE c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_name LIMIT 2) c
    """,
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — per-nation
    top-2 customers by balance, written the way an analyst writes it.
    Catalyst DECORRELATES the lateral into a ranked window over one
    customer shuffle (no per-nation re-execution, which is what a
    naive nested-loop interpretation would do at 100 TB); DuckDB runs
    the identical SQL. The unique (acctbal DESC, name) order makes
    the LIMIT deterministic in both engines."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "lat_nation_in"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "lat_customer_in"
    )
    return spark.sql(
        """
        SELECT n.n_name, c.c_name, c.c_acctbal
        FROM lat_nation_in n,
        LATERAL (SELECT c_name, c_acctbal FROM lat_customer_in
                 WHERE c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 2) c
        """
    )


@query(
    "agg_hll_set_algebra",
    oracle="""
    WITH v AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'view'),
    p AS (SELECT DISTINCT user_id FROM events
          WHERE event_type = 'purchase'),
    x AS (SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
                 CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase,
                 CAST((SELECT COUNT(*) FROM v JOIN p USING (user_id))
                      AS BIGINT) AS exact_overlap)
    SELECT n_view, n_purchase, exact_overlap,
           TRUE AS union_within_tol, TRUE AS inter_within_tol
    FROM x
    """,
)
def agg_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch SET ALGEBRA — the audience-overlap question ('how many
    users both viewed AND purchased?') answered from two per-segment
    HLL sketches with NO join of the raw sets: |A∩B| ≈ |A| + |B| -
    |A∪B| by inclusion-exclusion, where |A∪B| is the union-sketch
    estimate. At 100 TB the segment sketches are KB-sized stored
    aggregates (per day / per campaign); overlap queries between any
    pair cost sketch-merge time, not a rescan or a set join. The
    intersection estimate compounds the errors of three ±~0.8%
    (lgK=14) estimates, so its tolerance is wider (15% of the true
    overlap, floor 50) — the documented weakness of sketch
    intersection on small overlaps; exact values ride along so the
    oracle pins them and the booleans pin the estimates."""
    ev = _t(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view")
    p = ev.filter(F.col("event_type") == "purchase")
    sk = (
        v.agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sk_v"))
        .join(p.agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sk_p")))
    )
    est = sk.select(
        F.expr("hll_sketch_estimate(sk_v)").alias("e_v"),
        F.expr("hll_sketch_estimate(sk_p)").alias("e_p"),
        F.expr(
            "hll_sketch_estimate(hll_union(sk_v, sk_p))"
        ).alias("e_u"),
    )
    exact = (
        v.select("user_id")
        .distinct()
        .join(p.select("user_id").distinct(), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_overlap"))
    )
    nv = v.agg(F.countDistinct("user_id").cast("long").alias("n_view"))
    np_ = p.agg(
        F.countDistinct("user_id").cast("long").alias("n_purchase")
    )
    out = est.join(F.broadcast(exact)).join(F.broadcast(nv)).join(
        F.broadcast(np_)
    )
    e_inter = F.col("e_v") + F.col("e_p") - F.col("e_u")
    return out.select(
        "n_view",
        "n_purchase",
        "exact_overlap",
        (
            F.abs(F.col("e_u") - (F.col("n_view") + F.col("n_purchase")
                                  - F.col("exact_overlap")))
            <= F.greatest(
                F.lit(1.0),
                0.05 * (F.col("n_view") + F.col("n_purchase")
                        - F.col("exact_overlap")),
            )
        ).alias("union_within_tol"),
        (
            F.abs(e_inter - F.col("exact_overlap"))
            <= F.greatest(F.lit(50.0), 0.15 * F.col("exact_overlap"))
        ).alias("inter_within_tol"),
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH t AS (
      SELECT l_extendedprice AS v, l_quantity AS w,
             l_orderkey AS k1, l_linenumber AS k2
      FROM lineitem
    ),
    pre AS (
      SELECT v, w,
             SUM(w) OVER (ORDER BY v, k1, k2
                          ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER () AS tw
      FROM t
    )
    SELECT CAST(tw AS DOUBLE) AS total_weight, MIN(v) AS weighted_median
    FROM pre WHERE cw >= tw / 2.0 GROUP BY tw
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median of the line-item price, weighted by quantity:
    the smallest value whose running weight reaches half the total —
    the robust center a revenue-weighted SLA or pricing analysis
    needs (plain median ignores that a 50-unit line matters 50x a
    1-unit line). The running weight is a GLOBAL ordered prefix sum:
    SQL's window form funnels the fact table through one task, so
    this runs on operators/prefix.ordered_prefix (range partition +
    pid-local sums + constant-size offset join) and then takes the
    min qualifying value — every stage parallel at any scale.
    (l_orderkey, l_linenumber) is the unique tie-breaker both
    engines order by."""
    from free_etl_spark.operators.prefix import ordered_prefix

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").alias("w"),
        F.col("l_orderkey").alias("k1"),
        F.col("l_linenumber").alias("k2"),
    )
    pre = ordered_prefix(
        li,
        [F.col("v"), F.col("k1"), F.col("k2")],
        cache_tag="wmedian_price",
        sums={"cw": "w"},
        grand={"tw": "w"},
    )
    return (
        pre.filter(F.col("cw") >= F.col("tw") / 2.0)
        .groupBy("tw")
        .agg(F.min("v").alias("weighted_median"))
        .select(
            F.col("tw").cast("double").alias("total_weight"),
            "weighted_median",
        )
    )


@query(
    "orders_skyline",
    oracle="""
    WITH t AS (
      SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS TIMESTAMP)
               AS o_orderdate,
             MAX(epoch(o_orderdate)) OVER (
               ORDER BY o_totalprice, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS emax
      FROM orders
    )
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM t
    WHERE emax IS NULL OR epoch(o_orderdate) > emax
    """,
)
def orders_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of orders on (cheap, recent): an
    order survives iff no order earlier in the (price, key) total
    order has a same-or-later date — the maximal-vector operator
    behind "best tradeoff" queries (cheapest-for-its-recency). The
    classic one-pass formulation is a sort + running max; the SQL
    window form is a single-task global window, so this runs the
    EXCLUSIVE prefix max through operators/prefix.ordered_prefix's
    new ``emaxes`` (range partition + pid-local exclusive max +
    constant-size per-partition offset maxima) — the frontier of a
    100 TB fact table without one row of global sorting on a single
    executor."""
    from free_etl_spark.operators.prefix import ordered_prefix

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderdate").cast("timestamp_ntz").alias("o_orderdate"),
        F.unix_timestamp(F.col("o_orderdate")).alias("ep"),
    )
    pre = ordered_prefix(
        orders,
        [F.col("o_totalprice"), F.col("o_orderkey")],
        cache_tag="skyline_orders",
        emaxes={"emax": "ep"},
    )
    return pre.filter(
        F.col("emax").isNull() | (F.col("ep") > F.col("emax"))
    ).select("o_orderkey", "o_totalprice", "o_orderdate")


@query(
    "orders_price_elasticity",
    oracle="""
    WITH xy AS (
      SELECT p.p_brand,
             ln(l.l_extendedprice / l.l_quantity) AS x,
             ln(l.l_quantity) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
    ),
    s AS (
      SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx
      FROM xy GROUP BY p_brand
    )
    SELECT p_brand, n,
           FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e4) / 1e4
             AS elasticity
    FROM s
    """,
)
def orders_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price elasticity of demand per brand: OLS slope of ln(quantity)
    on ln(unit price) across that brand's line items — the pricing
    question every retailer asks of exactly this star schema. One
    broadcast join (part is the dimension side), one grouped aggregate
    carrying five moment sums per brand (~25 groups); the slope is
    assembled from the sums AFTER aggregation, so nothing beyond the
    moments crosses the shuffle. FLOOR-4 absorbs cross-engine FP
    summation-order drift (same tolerance as agg_regression's
    ROUND-4)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    part = _t(spark, sf_dir, "part")
    x = F.log(F.col("l_extendedprice") / F.col("l_quantity"))
    y = F.log(F.col("l_quantity"))
    s = (
        li.join(broadcast(part), li.l_partkey == part.p_partkey)
        .select("p_brand", x.alias("x"), y.alias("y"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        "p_brand", "n", (F.floor(num / den * 1e4) / 1e4).alias("elasticity")
    )


@query(
    "orders_fulfillment_latency",
    oracle="""
    WITH lat AS (
      SELECT o.o_orderpriority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS days
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR(quantile_cont(days, 0.5) * 1e6) / 1e6 AS p50_days,
           FLOOR(quantile_cont(days, 0.9) * 1e6) / 1e6 AS p90_days,
           CAST(MAX(days) AS BIGINT) AS max_days
    FROM lat GROUP BY o_orderpriority
    """,
)
def orders_fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order priority — the
    SLA question logistics asks of exactly this schema (does URGENT
    actually ship faster?). Latency in whole days (DATE-truncated on
    both sides so the subtraction is exact integer), exact p50/p90
    via the distributed percentile aggregate, one fact-fact equi-join
    shuffled on the order key and one grouped aggregate over five
    priority groups. FLOOR-6 on the interpolated quantiles (both
    engines linearly interpolate the same sorted integers)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    lat = orders.join(li, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.datediff(
            F.to_date("l_shipdate"), F.to_date("o_orderdate")
        ).alias("days"),
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.floor(F.percentile("days", F.lit(0.5)) * 1e6) / 1e6).alias(
            "p50_days"
        ),
        (F.floor(F.percentile("days", F.lit(0.9)) * 1e6) / 1e6).alias(
            "p90_days"
        ),
        F.max("days").cast("long").alias("max_days"),
    )


@query(
    "agg_boolean_funcs",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(count_if(value > 100) AS BIGINT) AS n_over_100,
           bool_and(value >= 0) AS all_nonneg,
           bool_or(value > 499) AS any_over_499,
           CAST(count_if(value > 100) AS DOUBLE) / COUNT(*)
             AS frac_over_100
    FROM events GROUP BY event_type
    """,
)
def agg_boolean_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family (SURVEY §2B scalar/aggregate
    function coverage): count_if, bool_and (every), bool_or (some) —
    the predicates-as-aggregates surface data-quality assertions
    compile to. All are mergeable partial aggregates (a boolean AND/
    OR and a conditional count combine associatively), so the
    shuffle carries one boolean + one long per group; the fraction
    is a single exact division of identical integers."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_if(F.col("value") > 100).cast("long").alias("n_over_100"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 499).alias("any_over_499"),
        (
            F.count_if(F.col("value") > 100).cast("double")
            / F.count(F.lit(1))
        ).alias("frac_over_100"),
    )


@query(
    "orders_duplicate_invoice_detector",
    oracle="""
    WITH cand AS (
      SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b,
             a.o_custkey AS custkey,
             abs(a.o_totalprice - b.o_totalprice) AS price_gap,
             abs(date_diff('day', CAST(a.o_orderdate AS DATE),
                           CAST(b.o_orderdate AS DATE))) AS day_gap
      FROM orders a
      JOIN orders b
        ON a.o_custkey = b.o_custkey
       AND a.o_orderkey < b.o_orderkey
      WHERE abs(a.o_totalprice - b.o_totalprice) <= 5000
        AND abs(date_diff('day', CAST(a.o_orderdate AS DATE),
                          CAST(b.o_orderdate AS DATE))) <= 30
    )
    SELECT key_a, key_b, custkey,
           ROUND(price_gap, 2) AS price_gap,
           CAST(day_gap AS BIGINT) AS day_gap
    FROM cand ORDER BY key_a, key_b
    """,
)
def orders_duplicate_invoice_detector(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-invoice screen (the classic audit/fraud query): two
    orders by the SAME customer for nearly the same amount (within
    $5000) within 30 days are double-billing candidates. The Spark
    side blocks on (custkey, $10k price bucket) with one side
    exploding its bucket plus both neighbors — a banded block join,
    so every qualifying pair lands in at least one shared bucket
    (threshold = half the band width) while candidate generation
    stays bounded by per-(customer, bucket) group sizes, never
    customers x orders. Residual filters (exact price and date
    proximity) verify the tiny candidate set — the same
    block-then-verify shape as the record-linkage dedup family,
    instantiated on the money path; the oracle states the
    quadratic-free definition directly. All outputs exact."""
    o = _t(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_orderkey").alias("key_a"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("pa"),
        F.to_date("o_orderdate").alias("da"),
    ).withColumn(
        "bkt",
        F.explode(
            F.array(
                F.floor(F.col("pa") / 10000) - 1,
                F.floor(F.col("pa") / 10000),
                F.floor(F.col("pa") / 10000) + 1,
            )
        ),
    )
    b = o.select(
        F.col("o_orderkey").alias("key_b"),
        F.col("o_custkey").alias("cb"),
        F.col("o_totalprice").alias("pb"),
        F.to_date("o_orderdate").alias("db"),
        F.floor(F.col("o_totalprice") / 10000).alias("bkt_b"),
    )
    return (
        a.join(
            b,
            (F.col("custkey") == F.col("cb"))
            & (F.col("bkt") == F.col("bkt_b"))
            & (F.col("key_a") < F.col("key_b")),
        )
        .filter(F.abs(F.col("pa") - F.col("pb")) <= 5000)
        .withColumn("day_gap", F.abs(F.datediff("da", "db")))
        .filter(F.col("day_gap") <= 30)
        .select(
            "key_a",
            "key_b",
            "custkey",
            F.round(F.abs(F.col("pa") - F.col("pb")), 2).alias("price_gap"),
            F.col("day_gap").cast("long").alias("day_gap"),
        )
        .distinct()
        .orderBy("key_a", "key_b")
    )


@query(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_bitmap,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
           TRUE AS bitmap_matches_exact
    FROM events GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via Spark 3.5's bitmap aggregate
    family: bitmap_bit_position buckets each key, bitmap_construct_agg
    builds a fixed 4KB bitmap per (group, bucket), and bitmap_count
    sums the set bits — the mergeable-bitmap pattern warehouses use
    when approx_count_distinct's error is unacceptable but
    COUNT(DISTINCT)'s shuffle of raw keys is too wide. State per
    (group, bucket) is a CONSTANT 4KB binary that merges
    associatively, and buckets shard the key space so no aggregate
    state grows with cardinality. The query computes the same count
    both ways and pins equality — the oracle states the invariant
    (DuckDB has no bitmap aggregate; the equality makes the check
    value-level anyway)."""
    ev = load_table(spark, sf_dir, "events")
    per_bucket = (
        ev.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "bkt")
        .agg(F.expr("bitmap_count(bitmap_construct_agg(pos))").alias("c"))
    )
    via_bitmap = per_bucket.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_users_bitmap")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_users_exact")
    )
    return via_bitmap.join(exact, "event_type").select(
        "event_type",
        "n_users_bitmap",
        "n_users_exact",
        (F.col("n_users_bitmap") == F.col("n_users_exact")).alias(
            "bitmap_matches_exact"
        ),
    )


@query(
    "orders_total_reconciliation",
    oracle="""
    WITH lt AS (
      SELECT l_orderkey,
             ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
               AS line_total
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderkey, o.o_totalprice, lt.line_total,
             abs(o.o_totalprice - lt.line_total) AS gap
      FROM orders o JOIN lt ON lt.l_orderkey = o.o_orderkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN gap < 0.01 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_reconciled,
           FLOOR(quantile_cont(gap, 0.5) * 1e2) / 1e2 AS p50_gap,
           FLOOR(quantile_cont(gap, 0.9) * 1e2) / 1e2 AS p90_gap,
           ROUND(MAX(gap), 2) AS max_gap
    FROM j
    """,
)
def orders_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-to-detail reconciliation: does orders.o_totalprice equal
    the sum of its line items' effective prices? The close-the-books
    audit every finance pipeline runs between a header table and its
    detail table (in genuine TPC-H data the totals reconcile exactly;
    this synthetic corpus does NOT, and the report quantifies that
    drift instead of silently joining through it). One detail-side
    aggregate ROUNDed to the 2-decimal money grid (the decimal-exact
    idiom — sums of cents, engine-identical), one header join keyed
    on the order key, then a 1-row gap-distribution summary with
    exact percentiles."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    lt = li.groupBy("l_orderkey").agg(
        F.round(
            F.sum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ),
            2,
        ).alias("line_total")
    )
    j = o.join(lt, lt.l_orderkey == o.o_orderkey).select(
        F.abs(F.col("o_totalprice") - F.col("line_total")).alias("gap")
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.when(F.col("gap") < 0.01, 1).otherwise(0))
        .cast("long")
        .alias("n_reconciled"),
        (F.floor(F.percentile("gap", F.lit(0.5)) * 1e2) / 1e2).alias(
            "p50_gap"
        ),
        (F.floor(F.percentile("gap", F.lit(0.9)) * 1e2) / 1e2).alias(
            "p90_gap"
        ),
        F.round(F.max("gap"), 2).alias("max_gap"),
    )


@query(
    "orders_kpi_decomposition",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-01-01'
                  THEN 0 ELSE 1 END AS period,
             CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(SUM(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1
    ),
    p AS (
      SELECT MAX(CASE WHEN period = 0 THEN n END) AS n0,
             MAX(CASE WHEN period = 1 THEN n END) AS n1,
             MAX(CASE WHEN period = 0 THEN rev END) AS r0,
             MAX(CASE WHEN period = 1 THEN rev END) AS r1
      FROM s
    )
    SELECT n0, n1, r0, r1,
           FLOOR((r1 - r0) * 1e2) / 1e2 AS delta_rev,
           FLOOR((n1 - n0) * (r0 / n0) * 1e2) / 1e2 AS volume_effect,
           FLOOR(n0 * (r1 / n1 - r0 / n0) * 1e2) / 1e2 AS price_effect,
           FLOOR((n1 - n0) * (r1 / n1 - r0 / n0) * 1e2) / 1e2
             AS mix_effect
    FROM p
    """,
)
def orders_kpi_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPI-tree (driver) decomposition of revenue change between the
    1995-97 and 1998-2001 periods (the corpus's actual date span): revenue = order_count x avg_order_
    value, so delta_rev splits into volume (more orders at old
    prices), price (old volume at new prices), and the mix cross
    term — the FP&A bridge chart computed where the data lives.
    Periods reduce to TWO (n, rev) rows in one scan (rev ROUNDed
    onto the money grid first, so both engines carry identical
    doubles); the decomposition arithmetic runs on the 1-row pivot.
    volume+price+mix reconstructs delta_rev exactly by construction
    (before the display FLOOR)."""
    o = _t(spark, sf_dir, "orders")
    s = o.groupBy(
        F.when(
            F.to_date("o_orderdate") < F.lit("1998-01-01").cast("date"), 0
        )
        .otherwise(1)
        .alias("period")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("rev"),
    )
    p = s.agg(
        F.max(F.when(F.col("period") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("period") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("period") == 0, F.col("rev"))).alias("r0"),
        F.max(F.when(F.col("period") == 1, F.col("rev"))).alias("r1"),
    )
    p0 = F.col("r0") / F.col("n0")
    p1 = F.col("r1") / F.col("n1")
    dn = F.col("n1") - F.col("n0")
    f2 = lambda c: F.floor(c * 1e2) / 1e2  # noqa: E731
    return p.select(
        "n0",
        "n1",
        "r0",
        "r1",
        f2(F.col("r1") - F.col("r0")).alias("delta_rev"),
        f2(dn * p0).alias("volume_effect"),
        f2(F.col("n0") * (p1 - p0)).alias("price_effect"),
        f2(dn * (p1 - p0)).alias("mix_effect"),
    )


@query(
    "agg_approx_quantile_audit",
    oracle="""
    WITH ex AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             quantile_cont(value, 0.5) AS p50,
             quantile_cont(value, 0.95) AS p95,
             quantile_cont(value, 0.99) AS p99
      FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           FLOOR(p50 * 1e6) / 1e6 AS exact_p50,
           FLOOR(p95 * 1e6) / 1e6 AS exact_p95,
           FLOOR(p99 * 1e6) / 1e6 AS exact_p99,
           TRUE AS approx_p50_ok, TRUE AS approx_p95_ok,
           TRUE AS approx_p99_ok
    FROM ex
    """,
)
def agg_approx_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit for approx_percentile (the
    Greenwald-Khanna sketch Spark ships): per event type, compute
    p50/p95/p99 both exactly and approximately (accuracy 1000 =>
    rank error <= n/1000) and pin the approximation inside a
    VALUE tolerance derived from the rank guarantee (the values at
    ranks +-1% around the target). The sketch's merge order varies
    with partitioning, so its exact output is not cross-engine
    reproducible — the oracle pins the exact quantiles plus the
    within-tolerance booleans, the same contract as the HLL and
    bitmap audits. One pass computes both sides; the sketch is the
    state that survives 100 TB (mergeable, bounded), the exact
    percentile is the test harness."""
    ev = load_table(spark, sf_dir, "events")
    ex = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.percentile("value", F.lit(0.5)).alias("p50"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
        F.percentile("value", F.lit(0.99)).alias("p99"),
        F.percentile("value", F.lit(0.49)).alias("p50_lo"),
        F.percentile("value", F.lit(0.51)).alias("p50_hi"),
        F.percentile("value", F.lit(0.94)).alias("p95_lo"),
        F.percentile("value", F.lit(0.96)).alias("p95_hi"),
        F.percentile("value", F.lit(0.98)).alias("p99_lo"),
        F.percentile("value", F.lit(1.0)).alias("p99_hi"),
        F.expr("approx_percentile(value, 0.5, 1000)").alias("a50"),
        F.expr("approx_percentile(value, 0.95, 1000)").alias("a95"),
        F.expr("approx_percentile(value, 0.99, 1000)").alias("a99"),
    )

    def ok(a, lo, hi):
        return (F.col(a) >= F.col(lo)) & (F.col(a) <= F.col(hi))

    return ex.select(
        "event_type",
        "n",
        (F.floor(F.col("p50") * 1e6) / 1e6).alias("exact_p50"),
        (F.floor(F.col("p95") * 1e6) / 1e6).alias("exact_p95"),
        (F.floor(F.col("p99") * 1e6) / 1e6).alias("exact_p99"),
        ok("a50", "p50_lo", "p50_hi").alias("approx_p50_ok"),
        ok("a95", "p95_lo", "p95_hi").alias("approx_p95_ok"),
        ok("a99", "p99_lo", "p99_hi").alias("approx_p99_ok"),
    )


@query(
    "scalar_crypto_roundtrip",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority AS plain,
           CAST(length(o_orderpriority) AS BIGINT) AS plain_len,
           TRUE AS roundtrip_ok,
           TRUE AS tamper_detected
    FROM orders WHERE o_orderkey <= 100 ORDER BY o_orderkey
    """,
)
def scalar_crypto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level encryption surface (Spark's aes_encrypt /
    aes_decrypt / try_aes_decrypt): encrypt the order-priority column with
    AES-ECB (the deterministic mode — GCM's random IV would break
    both idempotence and the oracle), decrypt it back, and pin (a)
    the roundtrip recovers the exact plaintext and (b) decrypting
    with a WRONG key yields NULL through try_aes_decrypt rather
    than garbage — the tamper/key-rotation failure path. DuckDB has
    no AES, so the oracle pins the recovered plaintext values and
    the two invariant booleans (same contract as the bitmap/HLL
    audits). Map-only, JVM-side crypto."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 100)
    enc = F.expr(
        "aes_encrypt(o_orderpriority, '0123456789abcdef', 'ECB')"
    )
    crypted = o.select("o_orderkey", "o_orderpriority", enc.alias("ct"))
    dec = F.expr(
        "cast(aes_decrypt(ct, '0123456789abcdef', 'ECB') as string)"
    )
    bad = F.expr(
        "try_aes_decrypt(ct, 'fedcba9876543210', 'ECB')"
    )
    return (
        crypted.select(
            "o_orderkey",
            dec.alias("plain"),
            F.length(dec).cast("long").alias("plain_len"),
            (dec == F.col("o_orderpriority")).alias("roundtrip_ok"),
            bad.isNull().alias("tamper_detected"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "join_spatial_proximity",
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS id,
             CAST(c_custkey % 100 AS DOUBLE)
               + CAST(c_nationkey AS DOUBLE) / 50 AS x,
             CAST((c_custkey * 7) % 100 AS DOUBLE)
               + CAST(c_mktsegment = 'BUILDING' AS INT) / 3.0 AS y
      FROM customer
    ),
    a AS (
      SELECT id, x, y,
             CAST(FLOOR(x / 2) AS BIGINT) AS gx,
             CAST(FLOOR(y / 2) AS BIGINT) AS gy
      FROM pts
    ),
    pairs AS (
      SELECT p.id AS id_a, q.id AS id_b,
             (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y)
               AS d2
      FROM a p
      JOIN a q
        ON q.gx BETWEEN p.gx - 1 AND p.gx + 1
       AND q.gy BETWEEN p.gy - 1 AND p.gy + 1
       AND p.id < q.id
      WHERE (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) <= 1.0
    )
    SELECT id_a, id_b, FLOOR(sqrt(d2) * 1e6) / 1e6 AS dist
    FROM pairs ORDER BY d2, id_a, id_b LIMIT 100
    """,
)
def join_spatial_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial proximity self-join by GRID BLOCKING — the planar
    analogue of the banded dedup joins: deterministic 2D points
    derived from customer attributes, bucketed into 2x2 cells
    (cell size >= search radius), candidates only from a point's
    cell and its 8 neighbors, exact distance as the residual filter.
    This is the geohash/S2-cell pattern every geo join uses at
    scale: candidate volume is bounded by per-cell occupancy squared
    (the hot-cell cap/salt is the knob), never points squared. The
    neighbor condition is a compact BETWEEN band join on integer
    cell ids; top-100 nearest pairs is a TakeOrdered on the exact
    SQUARED distance (integer-derived doubles — no sqrt before the
    sort, so no FP-boundary in the ranking)."""
    c = _t(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        (
            (F.col("c_custkey") % 100).cast("double")
            + F.col("c_nationkey").cast("double") / 50
        ).alias("x"),
        (
            ((F.col("c_custkey") * 7) % 100).cast("double")
            + (F.col("c_mktsegment") == "BUILDING").cast("int") / 3.0
        ).alias("y"),
    )
    a = pts.select(
        "id",
        "x",
        "y",
        F.floor(F.col("x") / 2).cast("long").alias("gx"),
        F.floor(F.col("y") / 2).cast("long").alias("gy"),
    )
    # the probe side EXPLODES its 9-cell neighborhood into exact
    # (gx, gy) keys so the join is a plain EQUI-join — a BETWEEN band
    # condition has no equi key and Spark planned it as a broadcast
    # nested loop (measured 2.9 s vs 0.4 s at sf0.1); key explosion
    # is how geohash joins keep hash partitioning at scale
    p = a.select(
        "id",
        "x",
        "y",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("gx") + dx).alias("jx"),
                        (F.col("gy") + dy).alias("jy"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("cell"),
    ).select("id", "x", "y", F.col("cell.jx").alias("jx"), F.col("cell.jy").alias("jy"))
    q = a.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("gx").alias("jx"),
        F.col("gy").alias("jy"),
    )
    d2 = (F.col("x") - F.col("xb")) * (F.col("x") - F.col("xb")) + (
        F.col("y") - F.col("yb")
    ) * (F.col("y") - F.col("yb"))
    pairs = (
        p.join(q, ["jx", "jy"])
        .filter((F.col("id") < F.col("id_b")) & (d2 <= 1.0))
        .select(F.col("id").alias("id_a"), "id_b", d2.alias("d2"))
    )
    return (
        pairs.orderBy("d2", "id_a", "id_b")
        .limit(100)
        .select(
            "id_a",
            "id_b",
            (F.floor(F.sqrt("d2") * 1e6) / 1e6).alias("dist"),
        )
    )


@query(
    "agg_hill_tail_estimator",
    oracle="""
    WITH top AS (
      SELECT o_totalprice AS x,
             ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS rn
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 201
    ),
    xm AS (SELECT x AS xk1 FROM top WHERE rn = 201),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             SUM(ln(top.x / xm.xk1)) AS lnsum,
             MAX(xm.xk1) AS xmin
      FROM top CROSS JOIN xm WHERE rn <= 200
    )
    SELECT k, ROUND(xmin, 2) AS xmin,
           FLOOR(k / lnsum * 1e4) / 1e4 AS hill_alpha
    FROM s
    """,
)
def agg_hill_tail_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law tail index over the top-200
    order values: alpha = k / sum(ln(x_i / x_(k+1))) — the
    heavy-tail diagnostic behind 'do whales dominate revenue' and
    every capacity-planning P99 extrapolation (alpha <= 2 means
    infinite variance: mean-based planning is wrong). The k+1 order
    statistics come from a TakeOrdered (no global sort); the
    estimator arithmetic runs on that constant 201-row relation.
    FLOOR-4 absorbs the 200-term ln-sum's ordering ulps."""
    o = _t(spark, sf_dir, "orders")
    top = (
        o.select(F.col("o_totalprice").alias("x"), "o_orderkey")
        .orderBy(F.col("x").desc(), "o_orderkey")
        .limit(201)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("x").desc(), "o_orderkey")
            ),
        )
    )
    xm = top.filter(F.col("rn") == 201).select(F.col("x").alias("xk1"))
    s = (
        top.filter(F.col("rn") <= 200)
        .join(F.broadcast(xm))
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum(F.log(F.col("x") / F.col("xk1"))).alias("lnsum"),
            F.max("xk1").alias("xmin"),
        )
    )
    return s.select(
        "k",
        F.round("xmin", 2).alias("xmin"),
        (F.floor(F.col("k") / F.col("lnsum") * 1e4) / 1e4).alias(
            "hill_alpha"
        ),
    )


@query(
    "orders_price_index",
    oracle="""
    WITH pp AS (
      SELECT l_partkey,
             CASE WHEN CAST(l_shipdate AS DATE) < DATE '1998-01-01'
                  THEN 0 ELSE 1 END AS period,
             ROUND(SUM(l_extendedprice), 2) / SUM(l_quantity) AS p,
             SUM(l_quantity) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    matched AS (
      SELECT a.l_partkey, a.p AS p0, a.q AS q0, b.p AS p1, b.q AS q1
      FROM (SELECT * FROM pp WHERE period = 0) a
      JOIN (SELECT * FROM pp WHERE period = 1) b
        ON b.l_partkey = a.l_partkey
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
             SUM(p1 * q0) AS l_num, SUM(p0 * q0) AS l_den,
             SUM(p1 * q1) AS p_num, SUM(p0 * q1) AS p_den
      FROM matched
    )
    SELECT n_parts,
           FLOOR(l_num / l_den * 1e4) / 1e4 AS laspeyres,
           FLOOR(p_num / p_den * 1e4) / 1e4 AS paasche,
           FLOOR(sqrt((l_num / l_den) * (p_num / p_den)) * 1e4) / 1e4
             AS fisher
    FROM s
    """,
)
def orders_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indices between the
    1995-97 and 1998-2001 periods over parts traded in BOTH — the
    inflation measurement the statistics office runs, as two grouped
    aggregates: per-(part, period) unit prices and quantities (one
    shuffle), a part-keyed self-join of the two period slices, then
    four weighted sums. Unit prices divide a ROUND-2 money sum by an
    exact quantity sum (grid idiom); the index ratios FLOOR-4 over
    the part-count-sized sums."""
    li = _t(spark, sf_dir, "lineitem")
    pp = li.groupBy(
        "l_partkey",
        F.when(
            F.to_date("l_shipdate") < F.lit("1998-01-01").cast("date"), 0
        )
        .otherwise(1)
        .alias("period"),
    ).agg(
        (F.round(F.sum("l_extendedprice"), 2) / F.sum("l_quantity")).alias(
            "p"
        ),
        F.sum("l_quantity").alias("q"),
    )
    a = pp.filter(F.col("period") == 0).select(
        "l_partkey", F.col("p").alias("p0"), F.col("q").alias("q0")
    )
    b = pp.filter(F.col("period") == 1).select(
        F.col("l_partkey").alias("pk"),
        F.col("p").alias("p1"),
        F.col("q").alias("q1"),
    )
    matched = a.join(b, a.l_partkey == F.col("pk"))
    s = matched.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(F.col("p1") * F.col("q0")).alias("l_num"),
        F.sum(F.col("p0") * F.col("q0")).alias("l_den"),
        F.sum(F.col("p1") * F.col("q1")).alias("p_num"),
        F.sum(F.col("p0") * F.col("q1")).alias("p_den"),
    )
    lasp = F.col("l_num") / F.col("l_den")
    paas = F.col("p_num") / F.col("p_den")
    return s.select(
        "n_parts",
        (F.floor(lasp * 1e4) / 1e4).alias("laspeyres"),
        (F.floor(paas * 1e4) / 1e4).alias("paasche"),
        (F.floor(F.sqrt(lasp * paas) * 1e4) / 1e4).alias("fisher"),
    )


@query(
    "orders_abc_xyz_classification",
    oracle="""
    WITH weekly AS (
      SELECT l_partkey,
             CAST(FLOOR(date_diff('day', DATE '1995-01-01',
                  CAST(l_shipdate AS DATE)) / 7) AS BIGINT) AS wk,
             SUM(l_quantity) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    stats AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n_weeks,
             SUM(q) AS total_q,
             CASE WHEN AVG(q) > 0 AND COUNT(*) > 1
                  THEN stddev_samp(q) / AVG(q) ELSE 0 END AS cv
      FROM weekly GROUP BY l_partkey
    ),
    ranked AS (
      SELECT l_partkey, total_q, cv,
             SUM(total_q) OVER (ORDER BY total_q DESC, l_partkey
               ROWS UNBOUNDED PRECEDING) AS cum_q,
             SUM(total_q) OVER () AS grand_q
      FROM stats
    ),
    classed AS (
      SELECT CASE WHEN cum_q * 10 <= grand_q * 8 THEN 'A'
                  WHEN cum_q * 20 <= grand_q * 19 THEN 'B'
                  ELSE 'C' END AS abc,
             CASE WHEN cv < 0.5 THEN 'X'
                  WHEN cv < 1.0 THEN 'Y' ELSE 'Z' END AS xyz
      FROM ranked
    )
    SELECT abc, xyz, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM classed GROUP BY abc, xyz
    """,
)
def orders_abc_xyz_classification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ABC-XYZ inventory matrix: parts classed by revenue-share rank
    (A = first 80% of cumulative demand, B = next 15%, C = tail) x
    demand PREDICTABILITY (weekly-demand CV: X < 0.5 steady, Y < 1.0
    seasonal, Z erratic) — the 9-cell planning matrix behind safety-
    stock policy (AX: automate; CZ: make-to-order). Weekly demand is
    one keyed aggregate; the cumulative-share rank runs through
    operators/prefix.ordered_prefix over the part-level relation (no
    single-task window); class thresholds are integer cross-products
    on exact quantity sums, and the CV cut compares a single
    stddev/mean division — the cells, not the boundaries, carry the
    result."""
    from free_etl_spark.operators.prefix import ordered_prefix

    li = _t(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        "l_partkey",
        F.floor(
            F.datediff(
                F.to_date("l_shipdate"), F.lit("1995-01-01").cast("date")
            )
            / 7
        )
        .cast("long")
        .alias("wk"),
    ).agg(F.sum("l_quantity").alias("q"))
    stats = weekly.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_weeks"),
        F.sum("q").alias("total_q"),
        F.when(
            (F.avg("q") > 0) & (F.count(F.lit(1)) > 1),
            F.stddev_samp("q") / F.avg("q"),
        )
        .otherwise(0.0)
        .alias("cv"),
    )
    ranked = ordered_prefix(
        stats.select("l_partkey", "total_q", "cv"),
        [F.col("total_q").desc(), F.col("l_partkey")],
        cache_tag="abcxyz_parts",
        sums={"cum_q": "total_q"},
        grand={"grand_q": "total_q"},
    )
    classed = ranked.select(
        F.when(F.col("cum_q") * 10 <= F.col("grand_q") * 8, "A")
        .when(F.col("cum_q") * 20 <= F.col("grand_q") * 19, "B")
        .otherwise("C")
        .alias("abc"),
        F.when(F.col("cv") < 0.5, "X")
        .when(F.col("cv") < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return classed.groupBy("abc", "xyz").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )


@query(
    "join_interval_overlap",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS t
      FROM events
    ),
    marked AS (
      SELECT user_id, t,
             CASE WHEN t - LAG(t) OVER (PARTITION BY user_id ORDER BY t)
                       > INTERVAL 30 MINUTE
                  OR LAG(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM ev
    ),
    sess AS (
      SELECT user_id, MIN(t) AS s, MAX(t) AS e
      FROM (
        SELECT user_id, t,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
      )
      GROUP BY user_id, sid
      HAVING COUNT(*) >= 2
    ),
    hourly AS (
      SELECT event_type, date_trunc('hour', t) AS h,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ev GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type,
             CAST(SUM(n) AS BIGINT) AS n_type,
             CAST(COUNT(*) AS BIGINT) AS n_hours
      FROM hourly GROUP BY event_type
    ),
    bursts AS (
      SELECT h.event_type, h.h AS bs, h.h + INTERVAL 1 HOUR AS be
      FROM hourly h JOIN tot USING (event_type)
      WHERE h.n * tot.n_hours >= 2 * tot.n_type
    ),
    hits AS (
      SELECT b.event_type, s.user_id, s.s, b.bs,
             epoch_us(least(s.e, b.be)) - epoch_us(greatest(s.s, b.bs))
               AS ov_us
      FROM sess s JOIN bursts b
        ON s.s < b.be AND b.bs <= s.e
    )
    SELECT t.event_type,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bursts b2
            WHERE b2.event_type = t.event_type) AS n_bursts,
           CAST(COUNT(DISTINCT CASE WHEN h.user_id IS NOT NULL
                                    THEN (h.user_id, h.s) END) AS BIGINT)
             AS n_sessions_hit,
           CAST(COALESCE(SUM(h.ov_us), 0) AS BIGINT) AS overlap_us
    FROM tot t LEFT JOIN hits h ON h.event_type = t.event_type
    GROUP BY t.event_type
    ORDER BY t.event_type
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval OVERLAP join — the range-join algorithm row
    (distinct from join_range_bands' point-in-band and
    join_asof_events' nearest-predecessor): per-user activity sessions
    (30-min-gap sessionization, >=2 events) joined against per-type
    burst windows (hours where the type's count is >=2x its hourly
    mean, by exact integer cross-product n*H >= 2*N), reporting per
    type how many sessions overlap a burst and the total overlap
    microseconds (exact integer epoch-µs arithmetic — second-level
    truncation would diverge on sub-second timestamps). Overlap
    predicate: s < burst_end AND burst_start <= e
    (sessions closed, bursts half-open).

    Scale shape: the naive overlap join is a cross product with a
    theta predicate — a BroadcastNestedLoop at best. This lowering
    EXPLODES each session across the hour grid it spans
    (sequence(hour(s), hour(e)) — bounded by session length, not
    corpus size) and equi-joins on the hour bucket, exactly the
    join_spatial_proximity trick in one dimension: hash-partitionable
    at 100 TB, with the exact interval predicate as a residual
    filter. Burst windows are one hour wide so a (session, burst)
    pair matches exactly one bucket — no post-join dedup needed."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t")
    prev = F.lag("t").over(w)
    marked = ev.select(
        "user_id",
        "t",
        F.when(
            # exact epoch-µs gap (cast('long') truncates sub-second
            # and diverges from the oracle's INTERVAL comparison on
            # boundary gaps) — same rule as events.py _GAP_US
            prev.isNull()
            | (
                F.unix_micros(F.col("t")) - F.unix_micros(prev)
                > 30 * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    sess = (
        marked.select(
            "user_id",
            "t",
            F.sum("new_s")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .alias("sid"),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("t").alias("s"),
            F.max("t").alias("e"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .filter(F.col("cnt") >= 2)
        .select("user_id", "s", "e")
    )
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "t").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = hourly.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_type"),
        F.count(F.lit(1)).cast("long").alias("n_hours"),
    )
    bursts = (
        hourly.join(F.broadcast(tot), "event_type")
        .filter(F.col("n") * F.col("n_hours") >= 2 * F.col("n_type"))
        .select(
            "event_type",
            F.col("h").alias("bs"),
            (F.col("h") + F.expr("INTERVAL 1 HOUR")).alias("be"),
        )
    )
    # time-grid blocking: explode sessions over the hour buckets they
    # span; equi-join bucket = burst hour; exact predicate as residual
    gridded = sess.select(
        "user_id",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "s"),
                F.date_trunc("hour", "e"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket"),
    )
    hits = (
        gridded.join(bursts, gridded.bucket == bursts.bs)
        .filter((F.col("s") < F.col("be")) & (F.col("bs") <= F.col("e")))
        .select(
            "event_type",
            "user_id",
            "s",
            (
                F.unix_micros(F.least("e", "be"))
                - F.unix_micros(F.greatest("s", "bs"))
            ).alias("ov_us"),
        )
    )
    per_type = hits.groupBy("event_type").agg(
        F.countDistinct("user_id", "s").cast("long").alias("n_sessions_hit"),
        F.sum("ov_us").cast("long").alias("overlap_us"),
    )
    burst_counts = bursts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_bursts")
    )
    return (
        tot.select("event_type")
        .join(F.broadcast(burst_counts), "event_type", "left")
        .join(per_type, "event_type", "left")
        .select(
            "event_type",
            F.coalesce("n_bursts", F.lit(0)).cast("long").alias("n_bursts"),
            F.coalesce("n_sessions_hit", F.lit(0))
            .cast("long")
            .alias("n_sessions_hit"),
            F.coalesce("overlap_us", F.lit(0))
            .cast("long")
            .alias("overlap_us"),
        )
        .orderBy("event_type")
    )


# ── runtime bloom-filter semi-join (pre-shuffle pruning) ────────────


def bloom_positions(
    key: F.Column, k: int, m: int, hasher: str = "md5"
) -> list[F.Column]:
    """The k bloom bit positions of a key, as JVM-side expressions.

    ``hasher='md5'`` (the GATE default): ONE md5 per row, positions
    are disjoint 8-hex slices of the digest (32 hex chars cover
    k <= 4) — deterministic and engine-portable, DuckDB replays the
    positions bit-for-bit, which is what makes the bloom construction
    value-oracleable.

    ``hasher='xxhash64'`` (the production swap): two xxhash64 calls
    (h1 = xx(key), h2 = xx(key, 1)) extended to k positions by
    Kirsch–Mitzenmacher double hashing (h1 + s·h2 mod m) — measured
    5x cheaper per row than the md5 projection at sf0.1 (stamped in
    docs/SCALE.md). Position VALUES differ from md5's, so oracle
    replayability is lost — but bloom correctness never depends on
    which positions are chosen, only that build and probe choose the
    SAME ones: no-false-negatives for both hashers is pinned against
    the plain semi-join in tests/test_r12_waves.py."""
    if hasher == "md5":
        h = F.md5(key.cast("string").cast("binary"))
        return [
            F.conv(F.substring(h, 1 + 8 * s, 8), 16, 10).cast("long") % m
            for s in range(k)
        ]
    if hasher == "xxhash64":
        # reduce each hash mod m BEFORE combining: h1 + s·h2 on raw
        # 64-bit values overflows under ANSI mode; (h1%m + s·(h2%m))%m
        # is the same double-hash family and stays < k·m
        # h2 is mapped into [1, m-1] (pmod m-1, then +1) — the
        # standard KM guard: h2 == 0 would collapse all k probe
        # positions to h1 for that key, inflating the false-positive
        # rate (ADVICE r13; correctness was never at risk — build and
        # probe share the formula — only FP rate).
        h1 = F.pmod(F.xxhash64(key.cast("string")), F.lit(m))
        h2 = F.pmod(
            F.xxhash64(key.cast("string"), F.lit(1)), F.lit(m - 1)
        ) + F.lit(1)
        return [F.pmod(h1 + F.lit(s) * h2, F.lit(m)) for s in range(k)]
    raise ValueError(f"unknown bloom hasher: {hasher!r}")


def bloom_prefilter(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    m: int = 1024,
    k: int = 3,
    hasher: str = "md5",
) -> DataFrame:
    """Filter ``fact`` to rows whose ``fact_key`` MAY be in ``keys``
    (single-column DataFrame) — the runtime dynamic-filtering
    primitive: build an m-bit bloom from the small side (folded
    map-side into <= m/64 bitmap words, broadcast as one tiny map),
    probe each fact row with k O(1) element_at + AND expressions
    BEFORE any shuffle or join. No false negatives by construction;
    false-positive rate is sized by m (callers exact-verify after).
    """
    key_col = keys.columns[0]
    words = (
        keys.select(
            F.explode(
                F.array(*bloom_positions(F.col(key_col), k, m, hasher))
            ).alias("p")
        )
        .groupBy(F.expr("CAST(p DIV 64 AS INT)").alias("w"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))")
            ).alias("mask")
        )
    )
    bloom = words.agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("w", "mask")))
        ).alias("bloom")
    )
    passed = fact.crossJoin(F.broadcast(bloom))
    fact_pos = bloom_positions(F.col(fact_key), k, m, hasher)
    for s in range(k):
        passed = passed.withColumn(f"__bp{s}", fact_pos[s])
    probe = " AND ".join(
        f"(coalesce(element_at(bloom, CAST(__bp{s} DIV 64 AS INT)),"
        f" CAST(0 AS BIGINT))"
        f" & shiftleft(CAST(1 AS BIGINT), CAST(__bp{s} % 64 AS INT))) != 0"
        for s in range(k)
    )
    return passed.filter(F.expr(probe)).drop(
        "bloom", *[f"__bp{s}" for s in range(k)]
    )


@query(
    "join_bloom_prefilter",
    oracle="""
    WITH dimk AS (
      SELECT s_suppkey AS k FROM supplier WHERE s_suppkey % 4 = 1
    ),
    pos AS (
      SELECT DISTINCT
             ('0x' || substr(md5(CAST(k AS VARCHAR)),
                             1 + 8 * g.s, 8))::UBIGINT % 1024 AS p
      FROM dimk CROSS JOIN generate_series(0, 2) AS g(s)
    ),
    cand AS (
      SELECT l_returnflag, l_suppkey,
             l_extendedprice * (1 - l_discount) AS rev
      FROM lineitem f
      WHERE 3 = (SELECT COUNT(*)
                 FROM generate_series(0, 2) AS g(s)
                 WHERE ('0x' || substr(md5(CAST(f.l_suppkey AS VARCHAR)),
                                       1 + 8 * g.s, 8))::UBIGINT % 1024
                       IN (SELECT p FROM pos))
    )
    SELECT c.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_bloom_pass,
           CAST(SUM(CASE WHEN d.k IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matched,
           ROUND(SUM(CASE WHEN d.k IS NOT NULL THEN c.rev ELSE 0 END), 2)
             AS matched_rev
    FROM cand c LEFT JOIN dimk d ON c.l_suppkey = d.k
    GROUP BY c.l_returnflag
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter semi-join: the pre-shuffle pruning
    primitive behind Spark's own runtime row-group filters
    (spark.sql.optimizer.runtime.bloomFilter.*) and every engine's
    'dynamic filtering', built here explicitly so the construction is
    value-oracled. The dim key set (one logical supplier shard — a
    stand-in for any selective dim predicate, chosen scale-stable so
    the set is non-empty at sf0.001 and FP-binding at sf0.01+) is
    hashed k=3 ways into an m=1024-bit bloom (deliberately small so
    false positives EXIST at test scale and the bloom is binding —
    n_bloom_pass > n_matched; production sizes m up for the target
    FP rate), folded map-side into a 16-word bitmap (groupBy word →
    bit_or of masks — an aggregate of at most m/64 rows regardless
    of dim size), broadcast as one tiny
    map, and probed per fact row with two O(1) JVM expressions
    (element_at + bitwise AND) — no per-row Python, no array scan.
    Rows passing the bloom are then exact-verified by a broadcast
    left join, so the result is exact while n_bloom_pass pins the
    bloom construction itself (a wrong hash or lost bit changes the
    candidate count and hash-mismatches the oracle; no false
    negatives is the correctness half, pinned by n_matched equaling
    the plain semi-join in tests).

    Shape at 100 TB: the bloom build is one scan of the SMALL side
    collapsed to <=1 KB; the probe is a map-side filter that drops
    non-matching fact rows BEFORE any shuffle or join — the whole
    point: the fact table never pays join machinery for rows the dim
    side can already exclude. md5-based positions are deterministic
    and engine-portable (DuckDB replays them bit-for-bit); the
    production deployment swaps ``hasher='xxhash64'`` into
    bloom_prefilter (measured 5x cheaper per row at sf0.1, stamped
    in docs/SCALE.md) at the cost of oracle replayability, which is
    why the GATE keeps md5; both hashers' no-false-negatives is
    pinned in tests/test_r12_waves.py."""
    dim = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 4 == 1)
        .select(F.col("s_suppkey").alias("k"))
    )
    fact = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    passed = bloom_prefilter(
        fact, dim, "l_suppkey", m=1024, k=3, hasher="md5"
    )
    verified = passed.join(
        F.broadcast(dim.withColumn("m", F.lit(1))),
        passed.l_suppkey == F.col("k"),
        "left",
    )
    return verified.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_bloom_pass"),
        F.sum(F.coalesce(F.col("m"), F.lit(0))).cast("long").alias("n_matched"),
        F.round(
            F.sum(F.when(F.col("m").isNotNull(), F.col("rev")).otherwise(0.0)),
            2,
        ).alias("matched_rev"),
    )
