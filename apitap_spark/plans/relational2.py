"""Second-wave relational coverage: TPC-H-style multi-join analytics and the
remaining scalar/window/grouping function families (SURVEY §2.2 depth).

Same contract as relational.py: DataFrame-API queries, DuckDB oracles,
decimal-exact aggregates, explicit casts so schemas align across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apitap_spark.plans.relational import DEC, SQL_REV, _dec, _revenue, _t
from apitap_spark.registry import gate


# ---------------------------------------------------------------------------
# Q6 GROUPING SETS (explicit) — beyond rollup/cube.
# ---------------------------------------------------------------------------
@gate(
    "q_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (SURVEY §2.2 Q6) via spark.sql — the Expand
    operator emits one copy per set; partial agg still applies."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# Q10 EXISTS (correlated, not decorrelatable to a simple semi-join key).
# ---------------------------------------------------------------------------
@gate(
    "q_exists_late_shipment",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def q_exists_late_shipment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 adaptation: priorities of orders with a >90-day-late line
    (correlated EXISTS with an inequality — Catalyst rewrites to a semi
    join with a post-join condition)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_ex_orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_ex_lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM _ex_orders o
        WHERE EXISTS (
          SELECT 1 FROM _ex_lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
        )
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# Q9 UNION (distinct).
# ---------------------------------------------------------------------------
@gate(
    "q_union_distinct",
    """
    SELECT CAST(k AS BIGINT) AS k FROM (
      SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000
      UNION
      SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 9000
    ) t
    """,
)
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_nationkey").cast("bigint").alias("k"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select(F.col("s_nationkey").cast("bigint").alias("k"))
    )
    return c.union(s).distinct()


# ---------------------------------------------------------------------------
# Q12 arrays: explode + word frequency (the unnest workhorse).
# ---------------------------------------------------------------------------
@gate(
    "q_word_frequency",
    r"""
    SELECT word, COUNT(*) AS freq
    FROM (SELECT UNNEST(string_split_regex(trim(text), '\s+')) AS word FROM documents) t
    GROUP BY word
    ORDER BY freq DESC, word
    LIMIT 20
    """,
)
def q_word_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode ≡ UNNEST (SURVEY §2.2 Q12): corpus word frequency, top 20.
    Shuffle is one hash agg on word; the explode itself is pipeline-local."""
    from apitap_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(20)
    )


@gate(
    "q_array_agg_tokens",
    r"""
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(
             string_split_regex(trim(text), '\s+'))), ',') AS vocab
    FROM documents
    WHERE doc_id < 50
    """,
)
def q_array_agg_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction/dedup/sort/join family (SURVEY §2.2 Q12) — the
    per-row array pipeline stays inside codegen."""
    from apitap_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    return docs.filter(F.col("doc_id") < 50).select(
        "doc_id",
        F.array_join(F.array_sort(F.array_distinct(tokens("text"))), ",").alias("vocab"),
    )


# ---------------------------------------------------------------------------
# Q6 percentiles (exact interpolated).
# ---------------------------------------------------------------------------
@gate(
    "q_percentiles",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
           ROUND(MIN(l_extendedprice), 4) AS min_price,
           ROUND(MAX(l_extendedprice), 4) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (SURVEY §2.2 Q6; Spark `percentile`
    ≡ DuckDB `quantile_cont`). At 100 TB swap in approx_percentile —
    kept exact here for the oracle."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("p95"),
        F.round(F.min("l_extendedprice"), 4).alias("min_price"),
        F.round(F.max("l_extendedprice"), 4).alias("max_price"),
    )


# ---------------------------------------------------------------------------
# Q6 pivot (conditional aggregation).
# ---------------------------------------------------------------------------
@gate(
    "q_pivot_status",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with explicit value list (SURVEY §2.2 Q6); missing cells
    coalesce to 0 to match the oracle's FILTER counts."""
    orders = _t(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    )


# ---------------------------------------------------------------------------
# Q12 null handling: null-safe equality, NULLIF, COALESCE.
# ---------------------------------------------------------------------------
@gate(
    "q_null_safe_ops",
    """
    SELECT e1.event_id AS event_id,
           e1.value / NULLIF(e2.value, 0) AS ratio,
           COALESCE(e2.value, -1.0) AS v2_or_default,
           (e1.user_id IS NOT DISTINCT FROM e2.user_id) AS same_user
    FROM events e1
    LEFT JOIN events e2 ON e2.event_id = e1.event_id + 1
    WHERE e1.event_id < 100
    """,
)
def q_null_safe_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULLIF / COALESCE / null-safe equality (<=>) (SURVEY §2.2 Q12)."""
    ev = _t(spark, sf_dir, "events")
    e1 = ev.alias("e1")
    e2 = ev.alias("e2")
    return (
        e1.filter(F.col("e1.event_id") < 100)
        .join(e2, F.col("e2.event_id") == F.col("e1.event_id") + 1, "left")
        .select(
            F.col("e1.event_id").alias("event_id"),
            (F.col("e1.value") / F.nullif(F.col("e2.value"), F.lit(0))).alias("ratio"),
            F.coalesce(F.col("e2.value"), F.lit(-1.0)).alias("v2_or_default"),
            F.col("e1.user_id").eqNullSafe(F.col("e2.user_id")).alias("same_user"),
        )
    )


# ---------------------------------------------------------------------------
# Q2 LIKE / ILIKE / IN / BETWEEN predicate family.
# ---------------------------------------------------------------------------
@gate(
    "q_predicate_family",
    """
    SELECT p_partkey, p_name, p_brand
    FROM part
    WHERE p_type LIKE 'P%'
      AND p_name ILIKE '%E%'
      AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3', 'Brand#4', 'Brand#5',
                      'Brand#10', 'Brand#11', 'Brand#12')
      AND p_size BETWEEN 1 AND 40
    """,
)
def q_predicate_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE / ILIKE / IN-list / BETWEEN (SURVEY §2.2 Q2/Q12) — all push
    down (IN compiles to an In filter at the scan). Predicates chosen to
    be selective but NON-empty at every SF (an empty result would make
    the gate check vacuous)."""
    p = _t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_type").like("P%")
        & F.col("p_name").ilike("%E%")
        & F.col("p_brand").isin(
            "Brand#1", "Brand#2", "Brand#3", "Brand#4", "Brand#5",
            "Brand#10", "Brand#11", "Brand#12",
        )
        & F.col("p_size").between(1, 40)
    ).select("p_partkey", "p_name", "p_brand")


# ---------------------------------------------------------------------------
# Q7 remaining window functions: cume_dist, nth_value, first/last with frames.
# ---------------------------------------------------------------------------
@gate(
    "q_window_distribution",
    """
    SELECT o_custkey, o_orderkey,
           CUME_DIST() OVER w AS cd,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           LAST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
           NTH_VALUE(o_totalprice, 2) OVER w AS second_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist / first_value / last_value(full frame) / nth_value
    (SURVEY §2.2 Q7)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.cume_dist().over(w).alias("cd"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


# ---------------------------------------------------------------------------
# TPC-H-style multi-join analytics.
# ---------------------------------------------------------------------------
@gate(
    "q7_nation_volume",
    f"""
    SELECT supp_nation, cust_nation, order_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS order_year,
             {SQL_REV} AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE n1.n_name IN ('NATION_1', 'NATION_2') AND n2.n_name IN ('NATION_1', 'NATION_2')
        AND n1.n_name <> n2.n_name
    ) shipping
    GROUP BY supp_nation, cust_nation, order_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 adaptation: bilateral trade volume by year between two
    nations. Two nation dims broadcast twice under different aliases."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").alias("n1")
    n2 = _t(spark, sf_dir, "nation").alias("n2")
    two = ("NATION_1", "NATION_2")
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2.n_nationkey"))
        .filter(
            F.col("n1.n_name").isin(*two)
            & F.col("n2.n_name").isin(*two)
            & (F.col("n1.n_name") != F.col("n2.n_name"))
        )
        .select(
            F.col("n1.n_name").alias("supp_nation"),
            F.col("n2.n_name").alias("cust_nation"),
            F.year("l_shipdate").cast("bigint").alias("order_year"),
            _revenue().alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "order_year")
        .agg(F.sum("volume").cast("double").alias("revenue"))
    )


@gate(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           CAST(SUM({SQL_REV}) AS DOUBLE) AS revenue,
           n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 adaptation: revenue lost to returns per customer, top 20."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@gate(
    "q14_promo_revenue_share",
    f"""
    SELECT CAST(100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {SQL_REV}
                                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM({SQL_REV}) AS DOUBLE) AS promo_share_pct,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 adaptation: promo revenue share. The CASE keeps decimal
    arithmetic exact on both branches before the double division."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    rev = _revenue()
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
        F.lit(0).cast(DEC)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                (F.lit(100.0) * F.sum(promo).cast("double"))
                / F.sum(rev).cast("double")
            ).alias("promo_share_pct"),
            F.count("*").alias("n_lines"),
        )
    )


@gate(
    "q18_large_orders",
    """
    SELECT c_custkey, c_name, o_orderkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
           CAST(MAX(o_totalprice) AS DOUBLE) AS order_price
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY c_custkey, c_name, o_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 60
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 30
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 adaptation: large-volume orders (agg → HAVING → top-k)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "o_orderkey")
        .agg(
            F.sum(_dec("l_quantity")).alias("_tq"),
            F.max("o_totalprice").cast("double").alias("order_price"),
        )
        .filter(F.col("_tq") > 60)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("_tq").cast("double").alias("total_qty"),
            "order_price",
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Event/time-series analytics over the events stream table.
# ---------------------------------------------------------------------------
@gate(
    "q_sessionization",
    """
    WITH gaps AS (
      SELECT user_id, event_id, ts,
             CASE WHEN date_diff('second',
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                       ts) > 1800
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    sessions AS (
      SELECT user_id, event_id, ts,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM gaps
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           COUNT(*) AS n_events,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_sec
    FROM sessions
    GROUP BY user_id, session_no
    """,
)
def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag → session-start
    flags → running-sum session ids → per-session rollup. The batch
    counterpart of streaming session windows; one shuffle on user_id, all
    three windows share it."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_start = F.when(
        gap.isNull() | (gap > 30 * 60), F.lit(1)
    ).otherwise(F.lit(0))
    sessions = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(is_start)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("session_no"),
    )
    return sessions.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long")))
        .cast("bigint")
        .alias("duration_sec"),
    )


@gate(
    "q_funnel_conditional_min",
    """
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events
      GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           COUNT(t_signup) AS n_signup,
           COUNT(CASE WHEN t_click > t_signup THEN 1 END) AS n_signup_then_click,
           COUNT(CASE WHEN t_purchase > t_click AND t_click > t_signup THEN 1 END)
             AS n_full_funnel
    FROM firsts
    """,
)
def q_funnel_conditional_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup → click → purchase) via
    conditional min-timestamps — ONE aggregation pass, no self-joins.

    Registered as q_event_funnel until round 5: the name collided with
    timeseries.py's stage-anchored funnel and whichever module loaded
    last silently shadowed the other (the 9.2x q_event_funnel "drift"
    between the round-3 and round-4 freezes was the gate changing
    identity, not a regression). Renamed so both funnels stay live;
    tests/test_registry.py now rejects duplicate gate names."""
    ev = _t(spark, sf_dir, "events")

    def first_ts(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    firsts = ev.groupBy("user_id").agg(
        first_ts("signup").alias("t_signup"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count("t_signup").alias("n_signup"),
        F.count(F.when(F.col("t_click") > F.col("t_signup"), 1)).alias(
            "n_signup_then_click"
        ),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_signup")),
                1,
            )
        ).alias("n_full_funnel"),
    )


# ---------------------------------------------------------------------------
# Q12 math scalar functions.
# ---------------------------------------------------------------------------
@gate(
    "q_math_functions",
    """
    SELECT l_orderkey, l_linenumber,
           ABS(l_extendedprice - 1000.0) AS abs_diff,
           CAST(CEIL(l_quantity) AS BIGINT) AS qty_ceil,
           CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
           ROUND(SQRT(l_extendedprice), 6) AS price_sqrt,
           ROUND(POWER(l_discount, 2), 10) AS disc_sq,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod,
           CAST(SIGN(l_extendedprice - 2000.0) AS BIGINT) AS price_sign
    FROM lineitem
    WHERE l_orderkey <= 100
    """,
)
def q_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar family (SURVEY §2.2 Q12): abs/ceil/floor/sqrt/power/
    mod/sign — IEEE-deterministic, identical in both engines."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_extendedprice") - 1000.0).alias("abs_diff"),
        F.ceil("l_quantity").cast("bigint").alias("qty_ceil"),
        F.floor("l_quantity").cast("bigint").alias("qty_floor"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.pow("l_discount", F.lit(2)), 10).alias("disc_sq"),
        (F.col("l_orderkey") % 7).cast("bigint").alias("key_mod"),
        F.signum(F.col("l_extendedprice") - 2000.0).cast("bigint").alias("price_sign"),
    )


# ---------------------------------------------------------------------------
# Q5 explicit cross join (dimension × dimension).
# ---------------------------------------------------------------------------
@gate(
    "q_cross_join_dims",
    """
    SELECT r_name, n_name
    FROM region CROSS JOIN nation
    WHERE r_regionkey <> n_regionkey
    """,
)
def q_cross_join_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit CROSS JOIN (SURVEY §2.2 Q5) — legitimate only between
    dimension-sized inputs; Catalyst plans BroadcastNestedLoopJoin."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    return (
        r.crossJoin(n)
        .filter(F.col("r_regionkey") != F.col("n_regionkey"))
        .select("r_name", "n_name")
    )


# ---------------------------------------------------------------------------
# Q9 bag semantics: INTERSECT ALL / EXCEPT ALL.
# ---------------------------------------------------------------------------
@gate(
    "q_setop_intersect_all",
    """
    SELECT CAST(o_custkey % 50 AS BIGINT) AS k FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT CAST(o_custkey % 50 AS BIGINT) AS k FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics — multiplicity = min of the sides)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(
        (F.col("o_custkey") % 50).cast("bigint").alias("k")
    )
    b = o.filter(F.col("o_orderstatus") == "O").select(
        (F.col("o_custkey") % 50).cast("bigint").alias("k")
    )
    return a.intersectAll(b)


@gate(
    "q_setop_except_all",
    """
    SELECT CAST(o_custkey % 20 AS BIGINT) AS k FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT CAST(o_custkey % 20 AS BIGINT) AS k FROM orders WHERE o_orderstatus = 'P'
    """,
)
def q_setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag semantics — multiplicity subtraction)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(
        (F.col("o_custkey") % 20).cast("bigint").alias("k")
    )
    b = o.filter(F.col("o_orderstatus") == "P").select(
        (F.col("o_custkey") % 20).cast("bigint").alias("k")
    )
    return a.exceptAll(b)
