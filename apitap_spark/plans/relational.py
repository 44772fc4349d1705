"""Relational operator coverage (SURVEY.md §2.2 Q1–Q12) with DuckDB oracles.

Each query is a callable ``(spark, sf_dir) -> DataFrame`` written with the
DataFrame API (declarative → Catalyst optimizes: predicate pushdown, column
pruning, broadcast-join selection all come free), paired with an equivalent
ANSI-SQL string in ``ORACLES`` that DuckDB runs over the same parquet views.

Numeric stability contract: the driver compares an order-insensitive value
hash, and double-precision SUM is order-dependent. Every money/quantity
aggregate therefore casts to DECIMAL(18,2) *before* aggregating (exact,
associative) and back to DOUBLE after — both engines then produce the
bit-identical double. Averages are computed as exact-decimal-sum / count in
double arithmetic. Scale note: decimal aggregation is fully supported by
whole-stage codegen and partial (map-side) aggregation, so this costs
nothing at 100 TB.

Reference parity citations: the reference exercises SQL through
``ctx.sql()`` (reference ``src/http/fetcher.rs:750``,
``src/utils/datafusion_ext.rs:141``); the operator families below are its
advertised surface (reference ``README.md:98-101``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apitap_spark.registry import gate

DEC = "decimal(18,2)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from apitap_spark.session import read_table

    return read_table(spark, sf_dir, name)


def _dec(col: str):
    return F.col(col).cast(DEC)


def _dsum(col: str, alias: str):
    """Exact decimal sum surfaced as double (order-insensitive)."""
    return F.sum(_dec(col)).cast("double").alias(alias)


def _revenue():
    """l_extendedprice * (1 - l_discount), exact decimal."""
    return _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))


# SQL fragment mirroring _revenue() for the oracles.
SQL_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)



# ---------------------------------------------------------------------------
# Q6 aggregation — TPC-H Q1-style pricing summary (the flagship query).
# ---------------------------------------------------------------------------
@gate(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM({rev}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM({rev} * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """.format(rev=SQL_REV),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped aggregation with multiple agg fns (SURVEY §2.2 Q6).

    Plan shape at scale: partial hash-agg before the shuffle (2 grouping
    keys × ~4 groups), final agg after — shuffle volume is O(groups), not
    O(rows). Filter pushes to the parquet scan.
    """
    li = _t(spark, sf_dir, "lineitem")
    rev = _revenue()
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity", "sum_qty"),
            _dsum("l_extendedprice", "sum_base_price"),
            F.sum(rev).cast("double").alias("sum_disc_price"),
            F.sum(rev * (F.lit(1).cast(DEC) + _dec("l_tax"))).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(_dec("l_discount")).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Q5 joins + Q8 top-k — TPC-H Q3-style shipping priority.
# ---------------------------------------------------------------------------
@gate(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           CAST(SUM({SQL_REV}) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way equi-join → agg → top-k (SURVEY §2.2 Q5+Q6+Q8).

    customer is small relative to lineitem → explicit broadcast hint; the
    ordered LIMIT compiles to TakeOrderedAndProject (no full sort at scale).
    """
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q5 multi-join across the snowflake — TPC-H Q5-style regional revenue.
# ---------------------------------------------------------------------------
@gate(
    "q5_region_revenue",
    f"""
    SELECT n_name, CAST(SUM({SQL_REV}) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-table snowflake join (SURVEY §2.2 Q5). Dims broadcast; only the
    orders⋈lineitem join shuffles — at 100 TB that is the one hash
    repartition this plan needs, and AQE handles skew on l_orderkey."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q2 filter + Q6 global agg — TPC-H Q6-style revenue forecast.
# ---------------------------------------------------------------------------
@gate(
    "q6_revenue_forecast",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective conjunctive filter + scalar agg (SURVEY §2.2 Q2+Q6).
    All four predicates push to the parquet scan (visible as PushedFilters);
    only two columns are read (ReadSchema pruning)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec("l_extendedprice") * _dec("l_discount")).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Q1 projection / aliasing / scalar expressions.
# ---------------------------------------------------------------------------
@gate(
    "q_projection_alias",
    """
    SELECT o_orderkey AS order_id,
           o_custkey AS customer_id,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(3,1)) AS DOUBLE) AS inflated_price,
           UPPER(o_orderstatus) AS status_uc
    FROM orders
    WHERE o_orderkey <= 100
    """,
)
def q_projection_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + aliasing + scalar expr (SURVEY §2.2 Q1/Q3; mirrors the
    reference quick-start `SELECT id, userId as user_id`, README.md:209-214)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") <= 100).select(
        F.col("o_orderkey").alias("order_id"),
        F.col("o_custkey").alias("customer_id"),
        (_dec("o_totalprice") * F.lit(1.1).cast("decimal(3,1)"))
        .cast("double")
        .alias("inflated_price"),
        F.upper("o_orderstatus").alias("status_uc"),
    )


# ---------------------------------------------------------------------------
# Q5 join types: left / right / full / semi / anti.
# ---------------------------------------------------------------------------
@gate(
    "q_join_left_outer",
    """
    SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
           CAST(SUM(COALESCE(CAST(o_totalprice AS DECIMAL(18,2)), 0)) AS DOUBLE) AS total_spent
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving order-less customers (SURVEY §2.2 Q5)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.sum(F.coalesce(_dec("o_totalprice"), F.lit(0).cast(DEC)))
            .cast("double")
            .alias("total_spent"),
        )
    )


@gate(
    "q_join_full_outer",
    """
    SELECT COALESCE(c.k, s.k) AS nationkey,
           COALESCE(c.n_cust, 0) AS n_cust,
           COALESCE(s.n_supp, 0) AS n_supp
    FROM (SELECT CAST(c_nationkey AS BIGINT) AS k, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
    FULL JOIN (SELECT CAST(s_nationkey AS BIGINT) AS k, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
      ON c.k = s.k
    """,
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates (SURVEY §2.2 Q5)."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").cast("bigint").alias("k"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").cast("bigint").alias("k"))
        .agg(F.count("*").alias("n_supp"))
    )
    return c.join(s, c.k == s.k, "full").select(
        F.coalesce(c.k, s.k).alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@gate(
    "q_join_semi",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join ≡ IN-subquery (SURVEY §2.2 Q5/Q10)."""
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@gate(
    "q_join_anti",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join ≡ NOT EXISTS (SURVEY §2.2 Q5/Q10). The right side is
    pre-filtered (the synthetic data covers every FK, so an unfiltered anti
    join would be vacuously empty)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@gate(
    "q_join_theta_range",
    """
    SELECT p1.p_partkey AS p_partkey, p1.p_name AS p_name, COUNT(*) AS n_cheaper_parts
    FROM part p1
    JOIN part p2 ON p2.p_retailprice < p1.p_retailprice AND p2.p_size = p1.p_size
    WHERE p1.p_partkey <= 50
    GROUP BY p1.p_partkey, p1.p_name
    """,
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join (equi on size + range on price) (SURVEY §2.2 Q5).
    The equi component keeps it a hash join with a residual predicate —
    not a cartesian product — which is the shape that survives scale."""
    p1 = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 50).alias("p1")
    p2 = _t(spark, sf_dir, "part").alias("p2")
    return (
        p1.join(
            p2,
            (F.col("p2.p_size") == F.col("p1.p_size"))
            & (F.col("p2.p_retailprice") < F.col("p1.p_retailprice")),
        )
        .groupBy(F.col("p1.p_partkey").alias("p_partkey"), F.col("p1.p_name").alias("p_name"))
        .agg(F.count("*").alias("n_cheaper_parts"))
    )


# ---------------------------------------------------------------------------
# Q7 window functions.
# ---------------------------------------------------------------------------
@gate(
    "q_window_topn_per_group",
    """
    SELECT c_custkey, o_orderkey, o_totalprice, rk
    FROM (
      SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
             CAST(RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
      FROM orders
    ) t
    WHERE rk <= 3
    """,
)
def q_window_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank() top-N per group (SURVEY §2.2 Q7). At scale this is a single
    hash repartition by o_custkey; Spark 3.5+ inserts WindowGroupLimit so
    only 3 rows per key survive the sort — no full materialization."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).cast("bigint").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@gate(
    "q_window_latest_per_key",
    """
    SELECT c_custkey, o_orderkey AS latest_order, o_orderdate AS latest_date
    FROM (
      SELECT o_custkey AS c_custkey, o_orderkey, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) t
    WHERE rn = 1
    """,
)
def q_window_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number()=1 dedup-to-latest (SURVEY §2.2 Q7) — the canonical
    CDC/upsert compaction pattern the merge sink relies on."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        orders.select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            "o_orderdate",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "c_custkey",
            F.col("o_orderkey").alias("latest_order"),
            F.col("o_orderdate").alias("latest_date"),
        )
    )


@gate(
    "q_window_lag_delta",
    """
    SELECT user_id, event_id, value,
           value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events
    """,
)
def q_window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() session delta (SURVEY §2.2 Q7). Single-row double subtraction
    is IEEE-exact, no decimal dance needed."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


@gate(
    "q_window_moving_sum",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS n_in_window
    FROM orders
    """,
)
def q_window_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-over-window with a ROWS frame (SURVEY §2.2 Q7)."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("moving_sum"),
        F.count("*").over(w).alias("n_in_window"),
    )


@gate(
    "q_window_ntile_percentile",
    """
    SELECT c_custkey, c_acctbal,
           CAST(NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile,
           PERCENT_RANK() OVER (ORDER BY c_acctbal, c_custkey) AS pct_rank
    FROM customer
    """,
)
def q_window_ntile_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile + percent_rank global ranking (SURVEY §2.2 Q7). Note: a global
    (un-partitioned) window serializes to one task — fine for dimension
    tables, never for fact tables at scale."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
    )


# ---------------------------------------------------------------------------
# Q9 set operations.
# ---------------------------------------------------------------------------
@gate(
    "q_setop_union_all",
    """
    SELECT k, kind FROM (
      SELECT CAST(c_nationkey AS BIGINT) AS k, 'cust' AS kind FROM customer
      UNION ALL
      SELECT CAST(s_nationkey AS BIGINT) AS k, 'supp' AS kind FROM supplier
    ) t
    """,
)
def q_setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (SURVEY §2.2 Q9) — no shuffle, pure concatenation."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("bigint").alias("k"), F.lit("cust").alias("kind")
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("bigint").alias("k"), F.lit("supp").alias("kind")
    )
    return c.unionAll(s)


@gate(
    "q_setop_intersect",
    """
    SELECT CAST(c_nationkey AS BIGINT) AS k FROM customer
    INTERSECT
    SELECT CAST(s_nationkey AS BIGINT) AS k FROM supplier
    """,
)
def q_setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) (SURVEY §2.2 Q9)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").cast("bigint").alias("k"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").cast("bigint").alias("k"))
    return c.intersect(s)


@gate(
    "q_setop_except",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation
    EXCEPT
    SELECT CAST(s_nationkey AS BIGINT) AS k FROM supplier WHERE s_acctbal > 3000
    """,
)
def q_setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) (SURVEY §2.2 Q9): nations with no high-balance
    supplier (right side filtered so the result is non-vacuous on the
    dense synthetic data)."""
    n = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").cast("bigint").alias("k"))
    s = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 3000)
        .select(F.col("s_nationkey").cast("bigint").alias("k"))
    )
    return n.exceptAll(s).distinct()


# ---------------------------------------------------------------------------
# Q10 subqueries: scalar, correlated.
# ---------------------------------------------------------------------------
@gate(
    "q_subquery_scalar",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.5 FROM orders)
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate (SURVEY §2.2 Q10). Expressed via
    spark.sql so Catalyst plans the scalar subquery natively (one extra
    tiny agg job, broadcast as a literal)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_sq_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM _sq_orders
        WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.5 FROM _sq_orders)
        """
    )


@gate(
    "q_subquery_correlated",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > (SELECT 2 * AVG(o2.o_totalprice)
                          FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
    """,
)
def q_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (SURVEY §2.2 Q10); Catalyst decorrelates
    to an aggregate + join, same as DataFusion's decorrelation rules."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_sq_orders2")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM _sq_orders2 o
        WHERE o_totalprice > (SELECT 2 * AVG(o2.o_totalprice)
                              FROM _sq_orders2 o2 WHERE o2.o_custkey = o.o_custkey)
        """
    )


# ---------------------------------------------------------------------------
# Q11 CTEs + VALUES.
# ---------------------------------------------------------------------------
@gate(
    "q_cte_monthly_revenue",
    f"""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_orders
      FROM orders
      GROUP BY 1
    )
    SELECT month, revenue, n_orders
    FROM monthly
    WHERE n_orders > 5
    """,
)
def q_cte_monthly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE + date_trunc rollup (SURVEY §2.2 Q11/Q12)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_cte_orders")
    return spark.sql(
        """
        WITH monthly AS (
          SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                 CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                 COUNT(*) AS n_orders
          FROM _cte_orders
          GROUP BY 1
        )
        SELECT month, revenue, n_orders
        FROM monthly
        WHERE n_orders > 5
        """
    )


@gate(
    "q_values_lookup_join",
    """
    SELECT o_orderpriority, pri_rank, COUNT(*) AS n_orders
    FROM orders
    JOIN (VALUES ('1-URGENT', 1), ('2-HIGH', 2), ('3-MEDIUM', 3),
                 ('4-NOT SPECIFIED', 4), ('5-LOW', 5)) AS pri(name, pri_rank)
      ON o_orderpriority = pri.name
    GROUP BY o_orderpriority, pri_rank
    """,
)
def q_values_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES lookup table join (SURVEY §2.2 Q11) — a Catalyst
    LocalRelation (no RDD round-trip), always broadcast."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_val_orders")
    return spark.sql(
        """
        SELECT o_orderpriority, pri_rank, COUNT(*) AS n_orders
        FROM _val_orders
        JOIN (VALUES ('1-URGENT', 1), ('2-HIGH', 2), ('3-MEDIUM', 3),
                     ('4-NOT SPECIFIED', 4), ('5-LOW', 5)) AS pri(name, pri_rank)
          ON o_orderpriority = pri.name
        GROUP BY o_orderpriority, pri_rank
        """
    )


# ---------------------------------------------------------------------------
# Q6 GROUPING SETS / ROLLUP / CUBE / DISTINCT aggregation.
# ---------------------------------------------------------------------------
@gate(
    "q_rollup_revenue",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM({SQL_REV}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (SURVEY §2.2 Q6)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"), F.count("*").alias("n_rows"))
    )


@gate(
    "q_cube_counts",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE cross-dimensional totals (SURVEY §2.2 Q6)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))


@gate(
    "q_distinct_agg",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column COUNT DISTINCT (SURVEY §2.2 Q6); Catalyst plans the
    expand + two-phase agg. For 100 TB dashboards approx_count_distinct
    (HLL) is the cheap alternative — kept exact here for the oracle."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Q12 scalar function families: string, date/time, CASE/cast, arrays.
# ---------------------------------------------------------------------------
@gate(
    "q_string_functions",
    """
    SELECT p_partkey,
           UPPER(p_brand) AS brand_uc,
           SUBSTR(p_name, 1, 10) AS name_prefix,
           CAST(LENGTH(p_name) AS BIGINT) AS name_len,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           REPLACE(p_type, ' ', '_') AS type_snake,
           SPLIT_PART(p_brand, '#', 2) AS brand_num,
           REGEXP_EXTRACT(p_name, '([a-z]+)', 1) AS first_word,
           TRIM('  pad  ') AS trimmed
    FROM part
    WHERE p_partkey <= 100
    """,
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family (SURVEY §2.2 Q12) — all JVM built-ins, zero
    Python in the hot path."""
    p = _t(spark, sf_dir, "part")
    return p.filter(F.col("p_partkey") <= 100).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_uc"),
        F.substring("p_name", 1, 10).alias("name_prefix"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.split_part(F.col("p_brand"), F.lit("#"), F.lit(2)).alias("brand_num"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.trim(F.lit("  pad  ")).alias("trimmed"),
    )


@gate(
    "q_datetime_functions",
    """
    SELECT o_orderkey,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS order_month,
           CAST(EXTRACT(DAY FROM o_orderdate) AS BIGINT) AS order_day,
           CAST(date_trunc('quarter', o_orderdate) AS DATE) AS order_quarter,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date
    FROM orders
    WHERE o_orderkey <= 200
    """,
)
def q_datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function family (SURVEY §2.2 Q12)."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") <= 200).select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("order_day"),
        F.date_trunc("quarter", F.col("o_orderdate")).cast("date").alias("order_quarter"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
    )


@gate(
    "q_case_when_tiers",
    """
    SELECT tier, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
    FROM (
      SELECT CASE WHEN c_acctbal < 0 THEN 'debt'
                  WHEN c_acctbal < 5000 THEN 'mid'
                  ELSE 'high' END AS tier,
             c_acctbal
      FROM customer
    ) t
    GROUP BY tier
    """,
)
def q_case_when_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing + agg (SURVEY §2.2 Q12)."""
    c = _t(spark, sf_dir, "customer")
    tier = (
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("tier")
    )
    return (
        c.select(tier, "c_acctbal")
        .groupBy("tier")
        .agg(F.count("*").alias("n_customers"), _dsum("c_acctbal", "total_balance"))
    )


@gate(
    "q_json_access",
    """
    SELECT CAST(props->>'$.k' AS BIGINT) AS k_val, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def q_json_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction (SURVEY §2.2 Q13 — the reference handles JSON
    structurally at ingest; Spark adds get_json_object as a bonus)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("bigint").alias("k_val"), F.col("value")
        )
        .groupBy("k_val")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )


@gate(
    "q_topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ordered LIMIT (SURVEY §2.2 Q8): TakeOrderedAndProject — each
    partition keeps 25 rows, driver merges; no global sort ever happens."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


@gate(
    "q_having_filter",
    """
    SELECT l_suppkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY l_suppkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 100
    """,
)
def q_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (SURVEY §2.2 Q6)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("_tq"))
        .filter(F.col("_tq") > 100)
        .select("l_suppkey", F.col("_tq").cast("double").alias("total_qty"))
    )
