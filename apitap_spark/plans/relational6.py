"""Sixth-wave SQL-surface depth: QUALIFY rewrite, named WINDOW clause,
higher-order array functions, and the MAP-type function family.

Same contract as relational.py: DataFrame API / Spark SQL + DuckDB
oracle. The QUALIFY and map gates prove a Spark REWRITE against the
other engine's NATIVE feature (the q_distinct_on / q_filtered_agg
pattern); the named-window gate runs IDENTICAL SQL text in both
engines (the q_group_by_all pattern).

Reference parity: the reference's embedded DataFusion 47 session
(reference README.md:98-101) exposes these families via SQL; here each
is a Catalyst plan with the physical shape a 100 TB run needs (window
top-k -> WindowGroupLimit pushdown, HOFs -> codegen'd array
expressions, no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apitap_spark.plans.relational import _t
from apitap_spark.registry import gate


@gate(
    "q_qualify_clause",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice DESC, o_orderkey)
                AS BIGINT) AS rn
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    QUALIFY rn <= 3
    """,
)
def q_qualify_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY clause (Snowflake/DuckDB/BigQuery; SURVEY §2.2 Q7
    breadth). Spark SQL has no QUALIFY, so the operator applies the
    standard rewrite — compute the window function in a projection,
    then filter on it — which is exactly what engines with native
    QUALIFY desugar to. The oracle runs DuckDB's NATIVE QUALIFY (with
    an alias reference, its strictest form), proving the rewrite
    against an independent implementation.

    Scale: Catalyst turns rn<=3-after-row_number into
    WindowGroupLimit, pushing the top-k below the full window sort —
    each partition keeps 3 rows instead of sorting everything. The
    o_orderkey tiebreak makes price ties deterministic.
    """
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
    )


_NAMED_WINDOW_SQL = """
    SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           LAG(o_orderkey) OVER w AS prev_orderkey,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                OVER wsum AS BIGINT) AS run_cents
    FROM {orders} WHERE o_custkey <= 200
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           wsum AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@gate("q_window_named", _NAMED_WINDOW_SQL.format(orders="orders"))
def q_window_named(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named WINDOW clause (SQL:2003) — one window definition shared by
    several functions, IDENTICAL SQL text in both engines (the
    q_group_by_all pattern): Spark and DuckDB parse the same statement,
    so the gate proves parser + window semantics jointly.

    The running sum goes through cents (ROUND(price*100) AS BIGINT)
    so the prefix sums are exact integers — a running DOUBLE sum would
    be order-dependent within frame evaluation. Catalyst fuses all
    three functions over the shared (partition, order) into a single
    Window exchange+sort: one shuffle for the whole select list.
    """
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_nw_orders")
    return spark.sql(_NAMED_WINDOW_SQL.format(orders="_nw_orders"))


@gate(
    "q_higher_order_array",
    """
    WITH per_order AS (
      SELECT l_orderkey,
             list_sort(list(CAST(l_quantity AS BIGINT))) AS qty
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           CAST(len(qty) AS BIGINT) AS n_items,
           CAST(list_aggregate(qty, 'sum') AS BIGINT) AS total_qty,
           CAST(len(list_filter(qty, x -> x > 25)) AS BIGINT) AS n_bulk,
           len(list_filter(qty, x -> x >= 49)) > 0 AS has_jumbo,
           array_to_string(list_transform(qty, x -> CAST(x * x AS VARCHAR)),
                           ',') AS sq_csv
    FROM per_order WHERE l_orderkey <= 2000
    """,
)
def q_higher_order_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (SURVEY §2.2 Q12 breadth):
    transform / filter / aggregate / exists with lambda expressions —
    Spark's HOFs vs DuckDB's list_* lambda family as the oracle.

    collect_list has NO order guarantee under AQE re-partitioning, so
    the array is array_sort'ed before any positional use (the repo-wide
    rule); quantities are integral doubles cast to BIGINT so the fold
    is exact integer math. HOFs evaluate inside codegen with no
    per-element UDF calls — at 100 TB this is a narrow map stage after
    the one groupBy shuffle.
    """
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(F.col("l_quantity").cast("bigint"))
        ).alias("qty")
    )
    return per_order.filter(F.col("l_orderkey") <= 2000).select(
        "l_orderkey",
        F.size("qty").cast("bigint").alias("n_items"),
        F.aggregate(
            "qty", F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("total_qty"),
        F.size(F.filter("qty", lambda x: x > 25)).cast("bigint").alias(
            "n_bulk"
        ),
        F.exists("qty", lambda x: x >= 49).alias("has_jumbo"),
        F.array_join(
            F.transform("qty", lambda x: (x * x).cast("string")), ","
        ).alias("sq_csv"),
    )


@gate(
    "q_map_functions",
    """
    WITH per AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY lang, source
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_sources,
           string_agg(source, ',' ORDER BY source) AS sources_csv,
           CAST(COALESCE(SUM(CASE WHEN source = 'src3' THEN c END), 0)
                AS BIGINT) AS src3_docs,
           CAST(SUM(c) AS BIGINT) AS n_docs
    FROM per GROUP BY lang
    """,
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-type function family (SURVEY §2.2 Q12 breadth):
    map_from_entries / map_keys / map_values / try_element_at /
    aggregate-over-values, exercised as a per-language source
    histogram held in a real Catalyst MapType column.

    The gate-checked projection is scalar (maps are engine-internal;
    the oracle recomputes the same facts relationally), so the gate
    proves the map construction and lookups without putting an
    unorderable map column through the driver comparator.
    try_element_at (not element_at) because ANSI mode — Spark 4's
    default — raises on missing map keys; the gate pins the NULL-safe
    lookup contract.
    """
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("lang", "source").agg(
        F.count("*").cast("bigint").alias("c")
    )
    m = per.groupBy("lang").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("source", "c")))
        ).alias("src_map")
    )
    return m.select(
        "lang",
        F.size("src_map").cast("bigint").alias("n_sources"),
        F.array_join(F.array_sort(F.map_keys("src_map")), ",").alias(
            "sources_csv"
        ),
        F.coalesce(
            F.try_element_at("src_map", F.lit("src3")), F.lit(0)
        ).cast("bigint").alias("src3_docs"),
        F.aggregate(
            F.map_values("src_map"),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("n_docs"),
    )


_GROUPING_ID_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM {orders}
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


@gate("q_grouping_id", _GROUPING_ID_SQL.format(orders="orders"))
def q_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() markers over ROLLUP (SQL:1999; SURVEY §2.2 Q6 depth)
    — the function that disambiguates "NULL because subtotal" from
    "NULL because the data is NULL", which q_rollup_revenue /
    q_grouping_sets leave ambiguous. IDENTICAL SQL text in both
    engines (the q_group_by_all pattern). DECIMAL(18,2) keeps the
    per-stratum sums order-independent; the Expand + partial-agg plan
    is the same single-shuffle shape as plain ROLLUP.
    """
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_gid_orders")
    return spark.sql(_GROUPING_ID_SQL.format(orders="_gid_orders"))


_RFM_SEGMENT_CASE = """CASE
             WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
               THEN 'champion'
             WHEN r_score >= 4 AND f_score >= 4 THEN 'loyal_recent'
             WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk_loyal'
             WHEN r_score >= 4 THEN 'recent'
             WHEN f_score >= 4 THEN 'frequent'
             WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
             ELSE 'regular' END"""


@gate(
    "q_rfm_segmentation",
    f"""
    WITH cust AS (
      SELECT o_custkey,
             CAST(MAX(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
                               o_orderdate)) AS BIGINT) AS last_day,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS BIGINT) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    ref AS (SELECT MAX(last_day) AS ref_day FROM cust),
    base AS (
      SELECT o_custkey, ref_day - last_day AS recency_days,
             frequency, monetary_cents
      FROM cust CROSS JOIN ref
    ),
    scored AS (
      SELECT *,
             CAST(NTILE(5) OVER (ORDER BY recency_days DESC, o_custkey)
                  AS BIGINT) AS r_score,
             CAST(NTILE(5) OVER (ORDER BY frequency ASC, o_custkey)
                  AS BIGINT) AS f_score,
             CAST(NTILE(5) OVER (ORDER BY monetary_cents ASC, o_custkey)
                  AS BIGINT) AS m_score
      FROM base
    )
    SELECT o_custkey, recency_days, frequency, monetary_cents,
           r_score, f_score, m_score,
           {_RFM_SEGMENT_CASE} AS segment
    FROM scored
    """,
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic warehouse scoring
    workload: recency (days since last order, against the corpus max
    date), frequency (order count), monetary (exact cents), each
    quintile-scored with NTILE(5) and a custkey tiebreak (identical
    NTILE remainder semantics both engines, proven by
    q_window_ntile_percentile), then bucketed into named segments.
    Score direction: 5 = best (most recent / most frequent / highest
    spend).

    Determinism: days are integer epoch-days (the _epoch_hour
    convention), money is ROUND(price*100) BIGINT cents, and every
    tie in the three global sorts is broken by o_custkey.

    Scale shape: one groupBy collapses orders to customer cardinality;
    the three NTILEs share one global sort each over the collapsed
    frame (fine at dimension cardinality; at 100 TB of CUSTOMERS swap
    NTILE for percentile_approx thresholds and a broadcast CASE — the
    segment logic is unchanged).
    """
    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max(F.floor(F.col("o_orderdate").cast("long") / 86400))
        .cast("bigint")
        .alias("last_day"),
        F.count("*").cast("bigint").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("monetary_cents"),
    )
    ref = cust.agg(F.max("last_day").alias("ref_day"))
    base = cust.crossJoin(F.broadcast(ref)).select(
        "o_custkey",
        (F.col("ref_day") - F.col("last_day")).alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    scored = base.select(
        "*",
        F.ntile(5)
        .over(Window.orderBy(F.desc("recency_days"), F.asc("o_custkey")))
        .cast("bigint")
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.asc("frequency"), F.asc("o_custkey")))
        .cast("bigint")
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.asc("monetary_cents"), F.asc("o_custkey")))
        .cast("bigint")
        .alias("m_score"),
    )
    return scored.withColumn("segment", F.expr(_RFM_SEGMENT_CASE))


AB_CONVERT_CENTS = 150.0  # conversion: event value above this threshold
AB_CHI2_95_MICRO = 3_841_459  # chi-square(1 df) 95% critical value, micro


@gate(
    "q_ab_test_chi2",
    f"""
    WITH cells AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN user_id % 2 = 0 AND value > {AB_CONVERT_CENTS}
                           THEN 1 ELSE 0 END) AS BIGINT) AS a_conv,
             CAST(SUM(CASE WHEN user_id % 2 = 0 AND value <= {AB_CONVERT_CENTS}
                           THEN 1 ELSE 0 END) AS BIGINT) AS a_rest,
             CAST(SUM(CASE WHEN user_id % 2 = 1 AND value > {AB_CONVERT_CENTS}
                           THEN 1 ELSE 0 END) AS BIGINT) AS b_conv,
             CAST(SUM(CASE WHEN user_id % 2 = 1 AND value <= {AB_CONVERT_CENTS}
                           THEN 1 ELSE 0 END) AS BIGINT) AS b_rest
      FROM events GROUP BY event_type
    )
    SELECT event_type, a_conv, a_rest, b_conv, b_rest,
           CAST(FLOOR(1000000.0
                 * (CAST(a_conv + a_rest + b_conv + b_rest AS DOUBLE)
                    * CAST(a_conv * b_rest - a_rest * b_conv AS DOUBLE)
                    / CAST(a_conv + a_rest AS DOUBLE)
                    / CAST(b_conv + b_rest AS DOUBLE))
                 * (CAST(a_conv * b_rest - a_rest * b_conv AS DOUBLE)
                    / CAST(a_conv + b_conv AS DOUBLE)
                    / CAST(a_rest + b_rest AS DOUBLE))) AS BIGINT)
             AS chi2_micro,
           (CAST(FLOOR(1000000.0
                 * (CAST(a_conv + a_rest + b_conv + b_rest AS DOUBLE)
                    * CAST(a_conv * b_rest - a_rest * b_conv AS DOUBLE)
                    / CAST(a_conv + a_rest AS DOUBLE)
                    / CAST(b_conv + b_rest AS DOUBLE))
                 * (CAST(a_conv * b_rest - a_rest * b_conv AS DOUBLE)
                    / CAST(a_conv + b_conv AS DOUBLE)
                    / CAST(a_rest + b_rest AS DOUBLE))) AS BIGINT)
            > {AB_CHI2_95_MICRO}) AS significant
    FROM cells
    """,
)
def q_ab_test_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B significance test per event type — the
    experimentation-platform primitive: users split into variants by
    id parity, conversions = events above a value threshold, and the
    2×2 contingency table scored with the chi-square statistic
    N(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) against the 95% critical value
    (3.841459, 1 df).

    Exactness without overflow: (ad−bc)²·N would leave int64 at large
    SFs under ANSI mode, so the statistic is evaluated as a FIXED
    left-associated chain of correctly-rounded double divisions of
    exact integer cross-products — (N·(ad−bc)/(a+b)/(c+d)) ·
    ((ad−bc)/(a+c)/(b+d)) — identical op order in both engines, then
    ONE micro floor. The squared term appears as the product of the
    two halves, each exactly representable (cross-products < 2^53).

    Scale shape: one map-side-combined conditional aggregation over a
    single scan — 4 counters per event type; the test itself is
    arithmetic on a type-cardinality frame.
    """
    ev = _t(spark, sf_dir, "events")
    va = F.col("user_id") % 2 == 0
    conv = F.col("value") > AB_CONVERT_CENTS
    cells = ev.groupBy("event_type").agg(
        F.sum(F.when(va & conv, 1).otherwise(0)).cast("bigint").alias("a_conv"),
        F.sum(F.when(va & ~conv, 1).otherwise(0)).cast("bigint").alias("a_rest"),
        F.sum(F.when(~va & conv, 1).otherwise(0)).cast("bigint").alias("b_conv"),
        F.sum(F.when(~va & ~conv, 1).otherwise(0)).cast("bigint").alias("b_rest"),
    )
    n = (
        F.col("a_conv") + F.col("a_rest") + F.col("b_conv") + F.col("b_rest")
    ).cast("double")
    adbc = (
        F.col("a_conv") * F.col("b_rest") - F.col("a_rest") * F.col("b_conv")
    ).cast("double")
    t1 = (
        n
        * adbc
        / (F.col("a_conv") + F.col("a_rest")).cast("double")
        / (F.col("b_conv") + F.col("b_rest")).cast("double")
    )
    t2 = (
        adbc
        / (F.col("a_conv") + F.col("b_conv")).cast("double")
        / (F.col("a_rest") + F.col("b_rest")).cast("double")
    )
    chi2 = F.floor(F.lit(1000000.0) * t1 * t2).cast("bigint")
    return cells.select(
        "event_type",
        "a_conv",
        "a_rest",
        "b_conv",
        "b_rest",
        chi2.alias("chi2_micro"),
        (chi2 > AB_CHI2_95_MICRO).alias("significant"),
    )


@gate(
    "q_cohort_ltv",
    """
    WITH om AS (
      SELECT o_custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ),
    cohort AS (SELECT o_custkey, MIN(m) AS m0 FROM om GROUP BY 1),
    sizes AS (
      SELECT m0, CAST(COUNT(*) AS BIGINT) AS cohort_users FROM cohort GROUP BY 1
    ),
    rev AS (
      SELECT c.m0, om.m - c.m0 AS age,
             CAST(SUM(om.cents) AS BIGINT) AS rev_cents,
             CAST(COUNT(DISTINCT om.o_custkey) AS BIGINT) AS active_users
      FROM om JOIN cohort c USING (o_custkey) GROUP BY 1, 2
    ),
    cum AS (
      SELECT m0, age, rev_cents, active_users,
             CAST(SUM(rev_cents) OVER (PARTITION BY m0 ORDER BY age)
                  AS BIGINT) AS cum_rev_cents
      FROM rev
    )
    SELECT cum.m0 AS cohort_month, CAST(cum.age AS BIGINT) AS age,
           rev_cents, active_users, cum_rev_cents, s.cohort_users,
           CAST(FLOOR(1000.0 * CAST(cum_rev_cents AS DOUBLE)
                      / CAST(s.cohort_users AS DOUBLE)) AS BIGINT)
             AS ltv_milli_cents
    FROM cum JOIN sizes s ON s.m0 = cum.m0
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves — the revenue deepening of q_retention_cohorts'
    activity counts: customers cohorted by first-order month, each
    cohort's revenue tracked by age (months since acquisition) as both
    the per-age increment and the running cumulative, normalized to
    lifetime value per acquired user (milli-cents, one floored
    division). This is the payback-period table every growth dashboard
    is built on.

    Exactness: months are integer year*12+month (identical calendar
    fields on the normalized timestamps both engines), money is exact
    cents, the cumulative is a BIGINT running sum over the tiny
    (cohort, age) frame, and the only division happens once at the
    end.

    Scale shape: first-order month is one groupBy over orders; the
    cohort join is broadcast (customer-cardinality keyed); the
    (cohort, age) matrix and its window are dimension-sized.
    """
    o = _t(spark, sf_dir, "orders")
    om = o.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("m"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    cohort = om.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    sizes = cohort.groupBy("m0").agg(
        F.count("*").cast("bigint").alias("cohort_users")
    )
    rev = (
        om.join(cohort, "o_custkey")
        .groupBy("m0", (F.col("m") - F.col("m0")).alias("age"))
        .agg(
            F.sum("cents").cast("bigint").alias("rev_cents"),
            F.countDistinct("o_custkey").cast("bigint").alias("active_users"),
        )
    )
    w = Window.partitionBy("m0").orderBy("age")
    cum = rev.withColumn(
        "cum_rev_cents", F.sum("rev_cents").over(w).cast("bigint")
    )
    return cum.join(F.broadcast(sizes), "m0").select(
        F.col("m0").alias("cohort_month"),
        F.col("age").cast("bigint").alias("age"),
        "rev_cents",
        "active_users",
        "cum_rev_cents",
        "cohort_users",
        F.floor(
            F.lit(1000.0)
            * F.col("cum_rev_cents").cast("double")
            / F.col("cohort_users").cast("double")
        )
        .cast("bigint")
        .alias("ltv_milli_cents"),
    )


_NULLS_ORDER_SQL = """
    WITH s AS (
      SELECT o_orderpriority, o_orderkey,
             LEAD(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
               OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey)
               AS next_cents
      FROM {orders} WHERE o_custkey <= 100
    )
    SELECT o_orderpriority, o_orderkey, next_cents,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                 ORDER BY next_cents ASC NULLS FIRST, o_orderkey)
                AS BIGINT) AS rk_nulls_first,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                 ORDER BY next_cents DESC NULLS LAST, o_orderkey)
                AS BIGINT) AS rk_nulls_last
    FROM s
"""


@gate("q_nulls_ordering", _NULLS_ORDER_SQL.format(orders="orders"))
def q_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS FIRST / NULLS LAST sort ordering (SQL:2003) —
    IDENTICAL statement text both engines, on a genuinely nullable
    column (LEAD at each partition tail). This surface is a real
    portability trap: Spark's ascending default is NULLS FIRST while
    DuckDB/Postgres default to NULLS LAST, so any query relying on the
    default silently reorders between engines — the gate pins the
    EXPLICIT modifiers as the engine-portable form (repo rule: never
    depend on null-ordering defaults).
    """
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_no_orders")
    return spark.sql(_NULLS_ORDER_SQL.format(orders="_no_orders"))


PAGE_SIZE = 20
PAGE_OFFSET = 40  # pages 1-2 already served; gate returns page 3


@gate(
    "q_keyset_pagination",
    f"""
    SELECT o_orderkey, o_orderdate, o_orderstatus, o_totalprice
    FROM orders
    ORDER BY o_orderdate, o_orderkey
    LIMIT {PAGE_SIZE} OFFSET {PAGE_OFFSET}
    """,
)
def q_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek-method) pagination — the scale-safe form of the
    reference's LimitOffset/PageNumber pagination surface
    (`/root/reference/src/http/fetcher.rs` pagination enums) applied to
    SQL: OFFSET n forces every executor to produce and discard n rows,
    while the seek predicate `(date, key) > cursor` prunes at the scan.

    The gate serves page 3 (rows 41–60) of orders ordered by
    (o_orderdate, o_orderkey): the cursor is the lexicographic MAX
    tuple of the first two pages — a distributed top-k
    (TakeOrderedAndProject over {PAGE_OFFSET} rows, never a global
    sort) reduced to a 1-row broadcast — and the page itself is a
    filtered top-k. The oracle is the equivalent naive LIMIT/OFFSET,
    proving the seek rewrite returns the identical page.
    """
    o = _t(spark, sf_dir, "orders")
    first_pages = (
        o.select("o_orderdate", "o_orderkey")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(PAGE_OFFSET)
    )
    cursor = first_pages.agg(
        F.max(F.struct("o_orderdate", "o_orderkey")).alias("c")
    )
    return (
        o.crossJoin(F.broadcast(cursor))
        .filter(
            F.struct("o_orderdate", "o_orderkey") > F.col("c")
        )
        .select("o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(PAGE_SIZE)
    )


@gate(
    "q_relational_division",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM (SELECT DISTINCT o_orderpriority FROM orders) p
      WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderpriority = p.o_orderpriority
      )
    )
    AND EXISTS (SELECT 1 FROM orders o2 WHERE o2.o_custkey = c.c_custkey)
    """,
)
def q_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division (Codd's ÷): customers whose orders cover
    EVERY priority class — the "for all" query shape (suppliers-of-all-
    parts, users-who-hit-every-feature) that completes the subquery
    family beyond EXISTS/IN/ANY/ALL.

    Spark runs the set-cover rewrite — per-customer COUNT(DISTINCT
    priority) equal to the global distinct count (a 1-row broadcast) —
    which is the scale shape: one partial-aggregated groupBy, no
    correlated per-row probes. The oracle is Codd's classical DOUBLE
    NOT EXISTS, the strictest independent formulation: the two must
    select the identical customer set.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    total = o.agg(
        F.countDistinct("o_orderpriority").alias("n_all")
    )
    covered = (
        o.groupBy("o_custkey")
        .agg(F.countDistinct("o_orderpriority").alias("n_cov"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_cov") == F.col("n_all"))
        .select("o_custkey")
    )
    return c.join(
        covered, c.c_custkey == covered.o_custkey
    ).select("c_custkey", "c_name")


@gate(
    "q_aggregate_modern_family",
    """
    SELECT event_type,
           CAST(count_if(value > 5.0) AS BIGINT) AS n_high,
           bool_and(value >= 0.0) AS all_nonneg,
           bool_or(value > 9.5) AS any_extreme,
           MAX({'v': value, 'e': event_id}).e AS argmax_id,
           MIN({'v': value, 'e': event_id}).e AS argmin_id
    FROM events GROUP BY event_type
    """,
)
def q_aggregate_modern_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern aggregate-function surface (SURVEY §2.2 Q6 breadth):
    count_if, bool_and/bool_or, and deterministic argmax/argmin. The
    arg-extremes deliberately use the struct-extremum trick — MAX over
    a (value, id) tuple — rather than max_by(id, value), because
    max_by's tie-break is UNSPECIFIED in both engines (and DuckDB's
    max_by cannot take a composite key at all): the tuple form carries
    the id as a total tie-break, making the answer engine-portable.
    All five are single-pass partial aggregates — one shuffle keyed by
    the group column, the q1 scale shape.
    """
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 5.0).cast("bigint").alias("n_high"),
        F.bool_and(F.col("value") >= 0.0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 9.5).alias("any_extreme"),
        F.max(F.struct(F.col("value").alias("v"), F.col("event_id").alias("e")))[
            "e"
        ].alias("argmax_id"),
        F.min(F.struct(F.col("value").alias("v"), F.col("event_id").alias("e")))[
            "e"
        ].alias("argmin_id"),
    )
