"""Third-wave relational coverage: TPC-H deep cuts (Q2/Q11/Q13/Q22 shapes
over the available schema) and cohort/retention analytics.

Same contract as relational.py: DataFrame API + DuckDB oracle, decimal-
exact aggregates, explicit casts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apitap_spark.plans.relational import _t
from apitap_spark.registry import gate


@gate(
    "q2_cheapest_part_per_size",
    """
    SELECT p.p_size AS p_size, p.p_partkey AS p_partkey, p.p_name AS p_name,
           p.p_retailprice AS p_retailprice
    FROM part p
    JOIN (SELECT p_size, MIN(p_retailprice) AS min_price
          FROM part GROUP BY p_size) m
      ON p.p_size = m.p_size AND p.p_retailprice = m.min_price
    """,
)
def q2_cheapest_part_per_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: min-per-group then join back to recover the full
    achieving rows (broadcast the tiny aggregate side)."""
    p = _t(spark, sf_dir, "part")
    m = p.groupBy(F.col("p_size").alias("ms")).agg(F.min("p_retailprice").alias("min_price"))
    return (
        p.join(
            F.broadcast(m),
            (p.p_size == m.ms) & (p.p_retailprice == m.min_price),
        )
        .select("p_size", "p_partkey", "p_name", "p_retailprice")
    )


@gate(
    "q11_nation_balance_share",
    """
    SELECT n_name, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    HAVING SUM(CAST(c_acctbal AS DECIMAL(18,2)))
           > (SELECT 0.05 * SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer)
    """,
)
def q11_nation_balance_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: group totals filtered against a scalar share of the
    global total (Catalyst plans the scalar subquery as a tiny extra job)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("_q11_customer")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("_q11_nation")
    return spark.sql(
        """
        SELECT n_name, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
        FROM _q11_customer JOIN _q11_nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        HAVING SUM(CAST(c_acctbal AS DECIMAL(18,2)))
               > (SELECT 0.05 * SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM _q11_customer)
        """
    )


@gate(
    "q13_order_count_distribution",
    """
    SELECT n_orders, COUNT(*) AS n_customers
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS n_orders
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    ) t
    GROUP BY n_orders
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer-order-count histogram (double aggregation —
    the second groupBy shuffles only distinct counts)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


@gate(
    "q22_dormant_rich_customers",
    """
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY c_nationkey
    """,
)
def q22_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average balances with no recent orders
    (scalar subquery + anti join + aggregation)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("_q22_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_q22_orders")
    return spark.sql(
        """
        SELECT CAST(c_nationkey AS BIGINT) AS nationkey, COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
        FROM _q22_customer c
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM _q22_customer WHERE c_acctbal > 0)
          AND NOT EXISTS (
            SELECT 1 FROM _q22_orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '2000-01-01'
          )
        GROUP BY c_nationkey
        """
    )


@gate(
    "q_retention_cohorts",
    """
    WITH firsts AS (
      SELECT o_custkey, CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS cohort_month
      FROM orders GROUP BY o_custkey
    )
    SELECT f.cohort_month AS cohort_month,
           CAST(date_trunc('month', o.o_orderdate) AS DATE) AS active_month,
           COUNT(DISTINCT o.o_custkey) AS n_active
    FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: customers bucketed by first-order month,
    activity counted per (cohort, month). Two shuffles (first-order agg +
    matrix agg), both on o_custkey-derived keys so AQE can coalesce."""
    orders = _t(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).cast("date").alias("cohort_month")
    )
    return (
        orders.join(firsts, "o_custkey")
        .groupBy(
            "cohort_month",
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("active_month"),
        )
        .agg(F.count_distinct("o_custkey").alias("n_active"))
    )
