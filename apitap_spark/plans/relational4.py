"""Fourth-wave relational coverage: the remaining TPC-H query shapes
(Q4/Q8/Q9/Q12/Q15/Q16/Q17/Q19/Q20/Q21) adapted to the available schema
(no partsupp table; lineitem has no commitdate/receiptdate/shipmode —
"late" is modeled as l_shipdate > o_orderdate + INTERVAL).

Same contract as relational.py: DataFrame-API (or Spark SQL for
correlated forms), DuckDB oracle, decimal-exact money/quantity
aggregates cast to DOUBLE at the end. Reference parity: these families
are the advertised SQL surface of the reference's embedded DataFusion
session (reference ``README.md:98-101``, ``src/http/fetcher.rs:750``).

Scale notes are per-query docstrings; the common theme is: broadcast
the dimension side, keep aggregates partial (map-side), and prefer
per-key aggregate rewrites over correlated self-join EXISTS forms
(Q21) — the aggregate form shuffles lineitem once instead of three
times.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apitap_spark.plans.relational import DEC, SQL_REV, _dec, _revenue, _t
from apitap_spark.registry import gate


# ---------------------------------------------------------------------------
# TPC-H Q4: order-priority checking (EXISTS semi-join + agg).
# ---------------------------------------------------------------------------
@gate(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join on the equi key with the
    residual date predicate in the join condition; "late" adapted to
    shipdate > orderdate + 60 days (no commit/receipt dates in schema).

    Scale: the semi join shuffles on orderkey only for orders in the
    3-month window (filter pushed to the orders scan); the aggregate is
    5 groups, all map-side partial.
    """
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAY")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q8: national market share (two nation roles, conditional share).
# ---------------------------------------------------------------------------
@gate(
    "q8_market_share",
    f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           CAST(SUM(CASE WHEN n2.n_name = 'NATION_3' THEN {SQL_REV} ELSE 0 END) AS DOUBLE)
           / CAST(SUM({SQL_REV}) AS DOUBLE) AS mkt_share
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region   ON n1.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    JOIN part     ON l_partkey = p_partkey
    WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
    GROUP BY 1
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: a nation's share of regional revenue per year. The nation
    table plays two roles (customer side, supplier side) via aliases.

    Scale: every dimension (region/nation/supplier/customer/part) is
    broadcast-joined against the lineitem fact — one shuffle total, for
    the final year aggregation (≤7 groups). Numerator and denominator
    are exact decimal sums; the division happens once per group in
    double, so the hash is stable.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").alias("n1")
    n2 = _t(spark, sf_dir, "nation").alias("n2")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    rev = _revenue()
    vol_if = F.when(F.col("n2.n_name") == "NATION_3", rev).otherwise(F.lit(0).cast(DEC))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(region), F.col("n1.n_regionkey") == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2.n_nationkey"))
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (F.sum(vol_if).cast("double") / F.sum(rev).cast("double")).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q9: product-type profit (profit proxy without ps_supplycost).
# ---------------------------------------------------------------------------
_Q9_AMOUNT_SQL = (
    "CAST(l_extendedprice AS DECIMAL(14,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) "
    "- CAST(0.5 AS DECIMAL(2,1)) * CAST(l_quantity AS DECIMAL(4,0)) "
    "* CAST(p_retailprice AS DECIMAL(10,2))"
)


@gate(
    "q9_product_profit",
    f"""
    SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
           CAST(SUM({_Q9_AMOUNT_SQL}) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for parts
    matching a name pattern. No partsupp table, so supply cost is proxied
    as 0.5 * quantity * retailprice (kept in narrow decimals so both
    engines stay inside 38-digit precision).

    Scale: part/supplier/nation broadcast; the orders join is the one
    fact-fact shuffle. The LIKE filter prunes lineitem early via the
    broadcast-hash-join on partkey.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    amount = F.col("l_extendedprice").cast("decimal(14,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    ) - F.lit(0.5).cast("decimal(2,1)") * F.col("l_quantity").cast(
        "decimal(4,0)"
    ) * F.col("p_retailprice").cast("decimal(10,2)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q12: late lines by priority class (interval arithmetic + cond agg).
# ---------------------------------------------------------------------------
@gate(
    "q12_late_line_priority",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
             AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)
             AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
)
def q12_late_line_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: count high/low-priority lines among late shipments
    (no l_shipmode column → grouped by returnflag; "late" = shipped more
    than 60 days after order date).

    Scale: shipdate range pushes to the lineitem scan; the orders join
    shuffles both sides on orderkey; conditional sums are map-side
    partial over 3 groups.
    """
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q15: top supplier (derived revenue view + scalar max equality).
# ---------------------------------------------------------------------------
_Q15_REVENUE_SQL = f"""
    SELECT l_suppkey AS supplier_no, SUM({SQL_REV}) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1997-04-01'
    GROUP BY l_suppkey
"""


@gate(
    "q15_top_supplier",
    f"""
    WITH revenue AS ({_Q15_REVENUE_SQL})
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with max 3-month revenue. The revenue CTE is
    computed once; the scalar MAX compares in exact decimal (double
    equality would be hash-unstable).

    Scale: one shuffle for the per-supplier aggregate; the MAX is a tiny
    second aggregation over suppliers; the supplier join broadcasts.
    """
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_revenue()).alias("total_revenue_dec"))
    )
    max_rev = revenue.agg(F.max("total_revenue_dec").alias("m"))
    return (
        revenue.join(F.broadcast(max_rev), revenue.total_revenue_dec == max_rev.m)
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue_dec").cast("double").alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q16: supplier variety per part group (distinct count + NOT IN).
# ---------------------------------------------------------------------------
@gate(
    "q16_supplier_variety",
    """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type, size),
    excluding one brand, a type prefix, and suppliers with negative
    balances (stand-in for the reference's complaint filter; lineitem is
    the part↔supplier bridge since there is no partsupp table).

    Scale: NOT IN over a tiny filtered supplier set → broadcast
    anti-join. COUNT(DISTINCT) expands to a two-phase aggregate; both
    phases keyed on the same grouping columns.
    """
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
    )
    li = _t(spark, sf_dir, "lineitem")
    bad_supp = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        part.join(li, part.p_partkey == li.l_partkey)
        .join(F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q17: small-quantity-order revenue (per-part average threshold).
# ---------------------------------------------------------------------------
@gate(
    "q17_small_quantity_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3'
      AND l_quantity < (
        SELECT 0.5 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                      / COUNT(*))
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from lineitems whose quantity is below half the
    part's average quantity. The oracle keeps the correlated scalar
    subquery; the Spark plan uses the decorrelated per-part aggregate +
    join — the form Catalyst would decorrelate to anyway, and the only
    form that scales (one lineitem shuffle on partkey, no per-row
    re-aggregation). Threshold math is exact-decimal-sum / count in
    double on both sides so the comparison is bit-stable.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.lit(0.5)
            * (F.sum(_dec("l_quantity")).cast("double") / F.count("*"))
        ).alias("half_avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == per_part.pk)
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q19: disjunctive brand/size/quantity predicates.
# ---------------------------------------------------------------------------
@gate(
    "q19_disjunctive_revenue",
    f"""
    SELECT CAST(SUM({SQL_REV}) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#24' AND p_size BETWEEN 20 AND 40
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of conjunctive brand/size/
    quantity predicates (no p_container column → size ranges instead).

    Scale: Catalyst extracts the common join key and pushes the
    disjunction below the join where possible; part is broadcast so the
    whole predicate evaluates stream-side in one codegen stage.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    pred = (
        ((F.col("p_brand") == "Brand#2") & sz.between(1, 15) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#13") & sz.between(10, 25) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#24") & sz.between(20, 40) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(pred)
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q20: suppliers with significant promo shipments (nested IN+HAVING).
# ---------------------------------------------------------------------------
@gate(
    "q20_promo_shippers",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_type = 'PROMO'
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 400
    )
    """,
)
def q20_promo_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers whose 1997 shipments of PROMO parts
    exceed a quantity threshold (partsupp availability replaced by
    shipped-quantity HAVING; the nested IN → semi join).

    Scale: the inner aggregate shuffles lineitem once on suppkey after a
    broadcast part join; its result (≤ supplier count rows) broadcasts
    back for the semi join. Threshold compares in exact decimal.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = _t(spark, sf_dir, "supplier")
    qualifying = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > F.lit(400).cast(DEC))
        .select("l_suppkey")
    )
    return supp.join(
        F.broadcast(qualifying), supp.s_suppkey == qualifying.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


# ---------------------------------------------------------------------------
# TPC-H Q21: suppliers who kept multi-supplier orders waiting.
# ---------------------------------------------------------------------------
@gate(
    "q21_waiting_supplier",
    """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY s_name
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: for finalized multi-supplier orders, count, per
    supplier, the late lineitems where that supplier was the ONLY late
    one ("late" = shipped > 30 days after order date).

    The oracle keeps the textbook EXISTS / NOT EXISTS double self-join.
    The Spark plan uses the per-order aggregate rewrite — count distinct
    suppliers and distinct late suppliers per order, then keep late
    lines in orders with >1 supplier and exactly 1 late supplier. Same
    semantics, but lineitem shuffles ONCE on orderkey instead of three
    self-join passes; at 100 TB the EXISTS form's second and third scans
    are the difference between hours and minutes.
    """
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    lined = li.join(orders, li.l_orderkey == orders.o_orderkey).withColumn(
        "is_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY"),
    )
    order_stats = lined.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    waiting = (
        lined.filter(F.col("is_late"))
        .join(order_stats, F.col("l_orderkey") == F.col("ok"))
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    return (
        waiting.join(F.broadcast(supp), waiting.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )
