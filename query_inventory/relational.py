"""Relational queries over the TPC-H-shaped tables (SURVEY.md §2.F):
the TPC-H set, subquery/set-operation/grouping-set/window/pivot shapes,
PageRank over the trade network, k-anonymity and fuzzy name matching.

Each query's DuckDB twin, when it has one, is the ``@oracle`` SQL right
above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from deidentify_spark.operators.fuzzy import fuzzy_join_oracle_sql, fuzzy_self_join
from deidentify_spark.operators.graph import pagerank, pagerank_oracle_sql
from deidentify_spark.operators.privacy import (
    k_anonymity_classes,
    k_anonymity_oracle_sql,
)
from query_inventory._base import _t, oracle


@oracle("""
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   ROUND(AVG(l_quantity), 4) AS avg_qty,
                   ROUND(AVG(l_discount), 4) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@oracle("""
            SELECT l_orderkey,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@oracle("""
            SELECT r_name, n_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
            ORDER BY r_name, n_name
        """)
def q5_supplier_volume_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


@oracle("""
            SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount BETWEEN 0.02 AND 0.06
              AND l_quantity < 24
        """)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.02, 0.06))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


@oracle("""
            SELECT o_orderkey, o_custkey,
                   ROUND(o_totalprice, 2) AS total_price,
                   total_qty
            FROM (
                SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS total_qty
                FROM lineitem GROUP BY l_orderkey
                HAVING SUM(l_quantity) > 150
            ) big
            JOIN orders ON big.l_orderkey = o_orderkey
            ORDER BY o_orderkey
        """)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING-style: orders whose total quantity exceeds 150."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "total_qty",
        )
        .orderBy("o_orderkey")
    )


@oracle("""
            SELECT c_custkey, c_name, n_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """)
def q10_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returned
    items in one quarter — fact-fact equi-join on the shuffle key,
    broadcast customer/nation dims, TakeOrdered limit (no global
    sort materialization)."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@oracle("""
            SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                     THEN l_extendedprice * (1 - l_discount)
                                     ELSE 0.0 END)
                         / SUM(l_extendedprice * (1 - l_discount)), 4)
                       AS promo_share
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
        """)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one ship month — a
    conditional-aggregate ratio over a broadcast part join; single
    output row, map-side partial sums."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(0.0))
                / F.sum(disc),
                4,
            ).alias("promo_share")
        )
    )


# 0.2*AVG threshold is exact: l_quantity is integral, so the
# per-part sum (and hence avg) is bit-identical across engines
@oracle("""
            WITH li_b AS (
                SELECT l_partkey, l_quantity, l_extendedprice
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_brand = 'Brand#23'
            ), thr AS (
                SELECT l_partkey, 0.2 * AVG(l_quantity) AS t
                FROM li_b GROUP BY 1
            )
            SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM li_b JOIN thr USING (l_partkey)
            WHERE l_quantity < t
        """)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if small-quantity
    orders (below 20% of the part's average quantity) were dropped.
    The correlated scalar subquery decorrelates to a per-part aggregate
    joined back on the part key — O(n_parts) rows, AQE-broadcast; the
    threshold stays exact because l_quantity is integral (sum < 2^53),
    so the 0.2*avg comparison is bit-identical across engines."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    li_b = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    avg_q = li_b.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("_thr")
    )
    return (
        li_b.join(avg_q, "l_partkey")
        .where(F.col("l_quantity") < F.col("_thr"))
        .agg(
            F.round(F.sum("l_extendedprice") / F.lit(7.0), 2).alias(
                "avg_yearly"
            )
        )
    )


# threshold on exact integer cents (balances are 2-decimal), so
# the > comparison cannot flip with float summation order
@oracle("""
            WITH c AS (
                SELECT c_custkey, c_mktsegment, c_acctbal,
                       CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
                FROM customer
            ), thr AS (
                SELECT AVG(cents) AS avg_cents FROM c WHERE cents > 0
            )
            SELECT c_mktsegment, COUNT(*) AS n_cust,
                   ROUND(SUM(c_acctbal), 2) AS total_bal
            FROM c, thr
            WHERE cents > avg_cents
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >= TIMESTAMP '2000-01-01')
            GROUP BY 1 ORDER BY 1
        """)
def q22_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance
    and NO RECENT orders (none since 2000-01-01; every customer has
    SOME order in this generator), per market segment — a global
    scalar aggregate (broadcast single row) + left_anti join against
    the filtered orders. The average is computed on exact integer
    cents (balances are 2-decimal), so the threshold comparison is
    bit-stable across engines and partitionings."""
    cust = _t(spark, sf_dir, "customer").withColumn(
        "_cents", F.round(F.col("c_acctbal") * 100).cast("bigint")
    )
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    thr = cust.where(F.col("_cents") > 0).agg(
        F.avg("_cents").alias("_avg_cents")
    )
    return (
        cust.crossJoin(F.broadcast(thr))
        .where(F.col("_cents") > F.col("_avg_cents"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


@oracle("""
            SELECT c_custkey, c_nationkey,
                   ROUND(c_acctbal, 2) AS acctbal,
                   ROUND(nation_avg, 4) AS nation_avg
            FROM (
                SELECT c_custkey, c_nationkey, c_acctbal,
                       AVG(c_acctbal) OVER (PARTITION BY c_nationkey)
                           AS nation_avg
                FROM customer
            )
            WHERE c_acctbal > nation_avg
            ORDER BY c_custkey
        """)
def corr_customers_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery form: customers with balance above their
    nation's average (decorrelated to a window/join plan in Spark)."""
    cust = _t(spark, sf_dir, "customer")
    from pyspark.sql.window import Window as W

    nation_avg = F.avg("c_acctbal").over(W.partitionBy("c_nationkey"))
    return (
        cust.withColumn("nation_avg", nation_avg)
        .where(F.col("c_acctbal") > F.col("nation_avg"))
        .select(
            "c_custkey",
            "c_nationkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.round("nation_avg", 4).alias("nation_avg"),
        )
        .orderBy("c_custkey")
    )


@oracle("""
            SELECT c_custkey, c_name
            FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
            ORDER BY c_custkey
        """)
def semi_customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@oracle("""
            SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS acctbal
            FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
            ORDER BY c_custkey
        """)
def anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
        .orderBy("c_custkey")
    )


@oracle("""
            SELECT o_orderstatus, o_orderpriority,
                   COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 2) AS total_price
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus, o_orderpriority
        """)
def rollup_orders_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


@oracle("""
            SELECT p_brand, p_size,
                   COUNT(*) AS n_parts,
                   ROUND(AVG(p_retailprice), 4) AS avg_price
            FROM part
            GROUP BY CUBE (p_brand, p_size)
            ORDER BY p_brand, p_size
        """)
def cube_part_brand_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return (
        part.cube("p_brand", "p_size")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
        .orderBy("p_brand", "p_size")
    )


@oracle("""
            SELECT c_nationkey, rnk, c_custkey, acctbal FROM (
                SELECT c_nationkey, c_custkey, ROUND(c_acctbal, 2) AS acctbal,
                       ROW_NUMBER() OVER (
                           PARTITION BY c_nationkey
                           ORDER BY c_acctbal DESC, c_custkey ASC
                       ) AS rnk
                FROM customer
            ) WHERE rnk <= 3
            ORDER BY c_nationkey, rnk
        """)
def window_top3_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return (
        cust.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("c_nationkey", "rnk", "c_custkey", F.round("c_acctbal", 2).alias("acctbal"))
        .orderBy("c_nationkey", "rnk")
    )


@oracle("""
            SELECT o_custkey, o_orderkey,
                   ROUND(SUM(o_totalprice) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ), 2) AS running_spend
            FROM orders
            ORDER BY o_custkey, o_orderkey
        """)
def window_customer_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    ).orderBy("o_custkey", "o_orderkey")


@oracle("""
            SELECT o_orderpriority,
                   ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
                   ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """)
def percentile_order_value_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median + p90) per priority."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@oracle("""
            SELECT o_orderkey FROM orders WHERE o_totalprice > 100000
            EXCEPT ALL
            SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
            ORDER BY o_orderkey
        """)
def setop_high_value_minus_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    high = orders.where(F.col("o_totalprice") > 100000).select("o_orderkey")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    return high.exceptAll(urgent).orderBy("o_orderkey")


@oracle("""
            SELECT o_orderkey FROM orders WHERE o_totalprice > 100000
            INTERSECT
            SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
            ORDER BY o_orderkey
        """)
def setop_intersect_high_value_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    high = orders.where(F.col("o_totalprice") > 100000).select("o_orderkey")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    return high.intersect(urgent).orderBy("o_orderkey")


@oracle("""
            SELECT strftime(o_orderdate, '%Y-%m') AS month,
                   COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 2) AS total_price
            FROM orders
            GROUP BY 1
            ORDER BY month
        """)
def monthly_order_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("month")
    )


@oracle(
    k_anonymity_oracle_sql(
        "customer",
        ["c_nationkey", "c_mktsegment"],
        8,
        "floor(c_acctbal / 1000)",
        4,
    )
)
def k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification-risk audit (operators/privacy.py): equivalence
    classes of the (nation, segment) quasi-identifier pair over the
    customer table, with distinct-l diversity of the bucketed account
    balance as the sensitive attribute — the release-gate companion to
    the scrub operators (k-anonymity, Sweeney 2002; l-diversity,
    Machanavajjhala 2007). One map-side-combined groupBy; no window,
    join, or driver collect."""
    cust = _t(spark, sf_dir, "customer").withColumn(
        "bal_bucket", F.floor(F.col("c_acctbal") / 1000)
    )
    return k_anonymity_classes(
        cust,
        ["c_nationkey", "c_mktsegment"],
        k=8,
        sensitive_col="bal_bucket",
        l=4,
    ).orderBy("c_nationkey", "c_mktsegment")


# the textbook all-pairs theta join the segment scheme provably
# equals (lossless blocking)
@oracle(
    fuzzy_join_oracle_sql(
        "part", 2, "p_name", "p_partkey", block_cols=["p_brand"]
    )
)
def fuzzy_name_matches_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WITHIN-BRAND edit-distance<=2 self-join on part names via
    PassJoin segment-signature blocking (Li et al. VLDB 2011;
    operators/fuzzy.py) — entity resolution WITHOUT the all-pairs theta
    join. p_name is the operator's documented degenerate case (every
    name is 5 words from a ~92-color vocabulary, so raw segment keys
    are template-hot: measured 73s at sf0.1 unblocked), and the query
    applies the operator's own prescription: pre-block on the exact key
    p_brand (block_cols), which scopes every template collision to one
    brand. Still lossless — the result is exactly the theta join with
    the brand-equality predicate the oracle runs. One bounded array
    explode per side, hash equi-join on (brand, segment_idx, length,
    segment), banded-Levenshtein verify."""
    part = _t(spark, sf_dir, "part")
    return fuzzy_self_join(
        part, 2, col="p_name", id_col="p_partkey", block_cols=["p_brand"]
    ).orderBy("id_a", "id_b")


@oracle("""
            WITH daily AS (
                SELECT o_orderdate AS day, COUNT(*) AS n_orders
                FROM orders GROUP BY o_orderdate
            )
            SELECT day, n_orders,
                   lag(n_orders, 1) OVER (ORDER BY day) AS prev_day_orders,
                   lead(n_orders, 1) OVER (ORDER BY day) AS next_day_orders,
                   ROUND(AVG(n_orders) OVER (
                       ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
                   ), 4) AS ma7_orders
            FROM daily ORDER BY day LIMIT 400
        """)
def daily_order_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions over the daily order series: lag, lead,
    and a 7-row trailing moving average (SURVEY §2.F 'analytic').

    Scale note — the unpartitioned Window (Spark will WARN about a
    single partition) is deliberate and bounded: it runs over the
    POST-AGGREGATE daily series, whose cardinality is the number of
    distinct calendar days (~2.4k for TPC-H's 7-year span, <40k for a
    century), independent of order volume. The expensive work — the
    groupBy(day) count over all orders — is a normal parallel
    partial-agg shuffle; only the tiny day series funnels through one
    task. Partitioning by year would shave nothing measurable and break
    lag/lead/MA7 across year boundaries."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    w = Window.orderBy("day")
    wma = Window.orderBy("day").rowsBetween(-6, 0)
    return (
        daily.select(
            "day",
            "n_orders",
            F.lag("n_orders", 1).over(w).alias("prev_day_orders"),
            F.lead("n_orders", 1).over(w).alias("next_day_orders"),
            F.round(F.avg("n_orders").over(wma), 4).alias("ma7_orders"),
        )
        .orderBy("day")
        .limit(400)
    )


@oracle("""
            SELECT o_orderstatus, o_orderpriority,
                   COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 2) AS sum_price
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
            ORDER BY o_orderstatus, o_orderpriority
        """)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the SQL form; rollup/cube cover the
    shorthands): totals by status, by priority, and grand total."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS sum_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus, o_orderpriority
        """
    )


@oracle("""
            SELECT o_orderpriority,
                   COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
                   COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
                   COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
            FROM orders GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """)
def pivot_orders_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational PIVOT (§2.F): order counts per priority, one column
    per order status. The status values are PINNED (explicit pivot
    list) — at scale an unpinned pivot adds a whole distinct-values job
    before the aggregation; pinning keeps it one pass."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
        .orderBy("o_orderpriority")
    )


@oracle("""
            SELECT p_partkey, measure, value FROM (
                SELECT p_partkey, 'size' AS measure,
                       CAST(p_size AS DOUBLE) AS value
                FROM part WHERE p_partkey <= 200
                UNION ALL
                SELECT p_partkey, 'retailprice',
                       CAST(p_retailprice AS DOUBLE)
                FROM part WHERE p_partkey <= 200
            ) ORDER BY p_partkey, measure
        """)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational UNPIVOT/melt (§2.F): part's two numeric measures
    (size, retailprice) melted to (key, measure, value) rows via the
    native unpivot — map-side, zero shuffle before the presentation
    sort."""
    return (
        _t(spark, sf_dir, "part")
        .where(F.col("p_partkey") <= 200)
        .select(
            "p_partkey",
            F.col("p_size").cast("double").alias("size"),
            F.col("p_retailprice").cast("double").alias("retailprice"),
        )
        .unpivot(
            ["p_partkey"], ["size", "retailprice"], "measure", "value"
        )
        .orderBy("p_partkey", "measure")
    )


def _pagerank_trade_sql() -> str:
    edge_sql = """
        SELECT c_nationkey AS src, s_nationkey AS dst,
               SUM(l_extendedprice) AS w
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY src, dst
    """
    return f"""
        SELECT n_nationkey AS nationkey, n_name,
               ROUND(pr.rank, 6) AS pagerank
        FROM ({pagerank_oracle_sql(edge_sql)}) pr
        JOIN nation ON pr.node = n_nationkey
        ORDER BY nationkey
    """


@oracle(_pagerank_trade_sql)
def pagerank_trade_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the customer-nation -> supplier-nation
    trade graph (§2.G link analysis; operators/graph.py). Edge build is
    the scale-relevant stage — a lineitem⋈orders shuffle join with
    AQE-planned dim joins — collapsing 100 TB of fact rows to an
    O(hosts²)-bounded edge table; the power iteration itself is pure
    equi-join + groupBy rounds over DataFrames (never collected).
    Oracle: the identical iteration unrolled as a DuckDB CTE chain."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.sum("l_extendedprice").alias("w"))
    )
    pr = pagerank(edges, weight="w")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        pr.join(nat, pr["node"] == nat["n_nationkey"])
        .select(
            F.col("n_nationkey").alias("nationkey"),
            "n_name",
            F.round("rank", 6).alias("pagerank"),
        )
        .orderBy("nationkey")
    )
