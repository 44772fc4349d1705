"""Fifth-wave SQL-surface depth: LATERAL correlated subqueries,
time-RANGE window frames, deterministic mode/median, and the salted
two-phase aggregation (skew-safe) with a plain-GROUP-BY oracle.

Same contract as relational.py: DataFrame API / Spark SQL + DuckDB
oracle, decimal-exact money aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apitap_spark.plans.relational import DEC, _dec, _t
from apitap_spark.registry import gate


_LATERAL_SQL = """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM {cust} c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM {orders}
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2
    ) o
    WHERE c.c_custkey <= 100
"""


@gate(
    "q_lateral_topn_orders",
    _LATERAL_SQL.format(cust="customer", orders="orders"),
)
def q_lateral_topn_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated derived table (top-2 orders per customer) —
    SURVEY §2.2 Q10/Q11 depth. Catalyst decorrelates the per-row LIMIT
    into a window group-limit over one join, so the lateral form costs
    the same as the hand-written rank()<=2 plan at any scale."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("_q5l_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_q5l_orders")
    return spark.sql(_LATERAL_SQL.format(cust="_q5l_customer", orders="_q5l_orders"))


@gate(
    "q_window_range_time",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
             PARTITION BY user_id
             ORDER BY CAST(FLOOR(date_part('epoch', ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rolling_1h_value
    FROM events
    """,
)
def q_window_range_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame over event time (rolling 1-hour sum per user) —
    the value-based frame SURVEY Q7 lists alongside ROWS frames. Epoch
    seconds truncate identically in both engines; the decimal cast keeps
    the running sum order-insensitive. RANGE peers (equal seconds)
    aggregate together, so ties are deterministic by construction."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(_dec("value")).over(w).cast("double").alias("rolling_1h_value"),
    )


@gate(
    "q_mode_median_price",
    """
    WITH counted AS (
      SELECT o_orderpriority, o_totalprice, COUNT(*) AS cnt
      FROM orders GROUP BY o_orderpriority, o_totalprice
    ),
    mode_pick AS (
      SELECT o_orderpriority, o_totalprice AS mode_price,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY cnt DESC, o_totalprice) AS rk
      FROM counted
    ),
    ranked AS (
      SELECT o_orderpriority, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    )
    SELECT m.o_orderpriority, m.mode_price, d.median_disc_price
    FROM (SELECT o_orderpriority, mode_price FROM mode_pick WHERE rk = 1) m
    JOIN (SELECT o_orderpriority, o_totalprice AS median_disc_price
          FROM ranked WHERE rn = (n + 1) // 2) d
      ON m.o_orderpriority = d.o_orderpriority
    """,
)
def q_mode_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode and discrete median per group, written as
    explicit count/rank plans: engine built-ins break ties and
    interpolate differently, so the portable formulation IS the window
    form (which is also what they compile to).

    Scale shape: BOTH branches window the pre-aggregated ``counted``
    relation (one row per distinct (priority, price)), never the raw
    table — with only 5 distinct priorities a row-level window would be
    5 whale tasks each sorting ~N/5 rows, a straggler by construction at
    100x. The discrete median comes from a cumulative-count window over
    distinct prices: the price whose cumulative count first covers rank
    (n+1)/2 IS the row-level median, so semantics are unchanged while
    window input shrinks from N rows to distinct values. (At corpus
    scale with near-all-distinct values, switch to percentile_approx.)
    ``counted`` is persisted so the full-table aggregation runs once.
    """
    orders = _t(spark, sf_dir, "orders")
    counted = orders.groupBy("o_orderpriority", "o_totalprice").agg(
        F.count("*").alias("cnt")
    ).persist()
    mode_pick = (
        counted.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("o_orderpriority").orderBy(
                    F.desc("cnt"), F.asc("o_totalprice")
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select("o_orderpriority", F.col("o_totalprice").alias("mode_price"))
    )
    wp = Window.partitionBy("o_orderpriority")
    cum = counted.select(
        "o_orderpriority",
        "o_totalprice",
        "cnt",
        F.sum("cnt")
        .over(
            wp.orderBy("o_totalprice").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
        F.sum("cnt").over(wp).alias("n"),
    ).withColumn("target", F.expr("(n + 1) div 2"))
    median = cum.filter(
        (F.col("cum") >= F.col("target"))
        & (F.col("cum") - F.col("cnt") < F.col("target"))
    ).select("o_orderpriority", F.col("o_totalprice").alias("median_disc_price"))
    return mode_pick.join(median, "o_orderpriority")


@gate(
    "q_salted_two_phase_agg",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_salted_two_phase_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted aggregation: partial sums on (key, salt16) then
    final sums on key — the mitigation when one grouping key dominates
    whole partitions (l_returnflag has 3 values over 600K rows: exactly
    that shape). Exact-decimal partials are associative, so the oracle
    is the plain one-phase GROUP BY — the driver hash proves the salted
    split changes nothing."""
    from apitap_spark.functions.scale import salted_two_phase_agg

    li = _t(spark, sf_dir, "lineitem")
    out = salted_two_phase_agg(
        li,
        keys=["l_returnflag"],
        aggs={
            "sum_qty": F.sum(_dec("l_quantity")),
            "sum_price": F.sum(_dec("l_extendedprice")),
        },
    )
    return out.select(
        "l_returnflag",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("sum_price").cast("double").alias("sum_price"),
    )


@gate(
    "q_string_agg_nations",
    """
    SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nation_list
    FROM nation GROUP BY n_regionkey
    """,
)
def q_string_agg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg): deterministic via
    the explicit ORDER BY inside the aggregate — Spark side as
    sort-then-join of the collected array (same plan listagg compiles
    to)."""
    nation = _t(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
            "nation_list"
        )
    )


@gate(
    "q_unpivot_measures",
    """
    SELECT l_orderkey, l_linenumber, measure, val FROM (
      SELECT l_orderkey, l_linenumber,
             l_quantity AS quantity, l_discount AS discount, l_tax AS tax
      FROM lineitem WHERE l_orderkey <= 100
    ) UNPIVOT (val FOR measure IN (quantity, discount, tax))
    """,
)
def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long reshape) — the inverse of q_pivot_status.
    Spark's DataFrame.unpivot == SQL UNPIVOT == a generate/stack: O(cols)
    row expansion with no shuffle. NULL values drop in both engines'
    UNPIVOT semantics (none exist in these measures)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("quantity"),
        F.col("l_discount").alias("discount"),
        F.col("l_tax").alias("tax"),
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["quantity", "discount", "tax"],
        "measure",
        "val",
    )


@gate(
    "q_salted_skew_join",
    """
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact-to-dim join: functions.scale.salted_join
    spreads any hot l_partkey across 16 salted shuffle partitions
    (deterministic row-hash salt on the fact side, 16x replication of
    the dim side), then aggregates per brand. The oracle is the plain
    equi-join — salting must be result-invariant by construction.

    This is the explicit mitigation for when AQE's runtime skew split
    does not apply (broadcast-ineligible dim, non-sort-merge plan); at
    100 TB one pathological part id otherwise pins a single reducer.
    """
    from apitap_spark.functions.scale import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(
        li, part.withColumnRenamed("p_partkey", "l_partkey"), "l_partkey", salt=16
    )
    return joined.groupBy("p_brand").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("revenue"),
    )


@gate(
    "q_regex_functions",
    r"""
    SELECT doc_id,
           regexp_extract(text, '(\d+)', 1) AS first_number,
           CAST(len(regexp_extract_all(text, '\d+')) AS BIGINT) AS n_numbers,
           regexp_replace(text, '\d', '#', 'g') AS digits_masked,
           regexp_matches(text, '[A-Z][a-z]+') AS has_titlecase,
           regexp_extract(text, '([A-Za-z]+)\z', 1) AS last_word
    FROM documents
    WHERE doc_id < 200
    """,
)
def q_regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar family (SURVEY §2.2 Q12): extract / extract-all
    count / global replace / match test / anchored extract. Java regex
    and DuckDB's RE2 agree on this POSIX-class subset (verified
    cell-exactly by the gate); engine-specific syntax (lookbehind,
    possessive quantifiers) is deliberately out of the oracle-checked
    surface. Pure projection — zero shuffle at any scale.
    """
    from apitap_spark.session import read_table as _rt

    docs = _rt(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return docs.select(
        "doc_id",
        F.regexp_extract("text", r"(\d+)", 1).alias("first_number"),
        F.regexp_count("text", F.lit(r"\d+")).cast("bigint").alias("n_numbers"),
        F.regexp_replace("text", r"\d", "#").alias("digits_masked"),
        F.col("text").rlike(r"[A-Z][a-z]+").alias("has_titlecase"),
        # \z, not $: Java's $ matches before a final trailing newline while
        # RE2's $ matches only end-of-text; \z is end-of-text in both.
        F.regexp_extract("text", r"([A-Za-z]+)\z", 1).alias("last_word"),
    )


@gate(
    "q_bitwise_functions",
    """
    SELECT l_linenumber,
           CAST(BIT_AND(l_orderkey) AS BIGINT) AS and_key,
           CAST(BIT_OR(l_orderkey) AS BIGINT) AS or_key,
           CAST(BIT_XOR(l_orderkey) AS BIGINT) AS xor_key,
           CAST(SUM(CAST(l_orderkey % 2 AS BIGINT)) AS BIGINT) AS odd_keys,
           CAST(MIN(l_orderkey * 4) AS BIGINT) AS min_shl2,
           CAST(MAX(l_orderkey // 8) AS BIGINT) AS max_shr3
    FROM lineitem
    WHERE l_orderkey < 5000
    GROUP BY l_linenumber
    """,
)
def q_bitwise_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family (SURVEY §2.2 Q12): BIT_AND / BIT_OR /
    BIT_XOR grouped aggregates plus shift-equivalent arithmetic —
    integer-exact on both engines (shifts written as *4 and integer-/8
    because Spark's shiftleft and DuckDB's << agree only on the
    multiplicative reading for non-negative keys; the arithmetic form
    is the engine-portable one). All partial-aggregated map-side.
    """
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 5000)
    return li.groupBy("l_linenumber").agg(
        F.bit_and("l_orderkey").cast("bigint").alias("and_key"),
        F.bit_or("l_orderkey").cast("bigint").alias("or_key"),
        F.bit_xor("l_orderkey").cast("bigint").alias("xor_key"),
        F.sum((F.col("l_orderkey") % 2).cast("bigint")).cast("bigint").alias("odd_keys"),
        F.min(F.col("l_orderkey") * 4).cast("bigint").alias("min_shl2"),
        F.max(F.expr("l_orderkey div 8")).cast("bigint").alias("max_shr3"),
    )


@gate(
    "q_null_handling_functions",
    """
    SELECT o_orderkey,
           COALESCE(NULLIF(o_orderstatus, 'O'), '<open>') AS status_or_marker,
           IFNULL(NULLIF(o_orderpriority, o_orderpriority), 'self-null')
             AS priority_nullif,
           CASE WHEN NULLIF(o_orderstatus, 'F') IS NULL
                THEN 'finished' ELSE 'active' END AS status_class,
           CAST(COALESCE(NULLIF(o_custkey, 1), -1) AS BIGINT)
             AS custkey_or_sentinel
    FROM orders
    WHERE o_orderkey < 2000
    """,
)
def q_null_handling_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling scalar family (SURVEY §2.2 Q12): NULLIF / COALESCE
    / IFNULL chains and NULL-aware CASE — pure projections, identical
    three-valued-logic semantics on both engines."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    return o.select(
        "o_orderkey",
        F.coalesce(
            F.nullif("o_orderstatus", F.lit("O")), F.lit("<open>")
        ).alias("status_or_marker"),
        F.ifnull(
            F.nullif("o_orderpriority", F.col("o_orderpriority")),
            F.lit("self-null"),
        ).alias("priority_nullif"),
        F.when(F.nullif("o_orderstatus", F.lit("F")).isNull(), "finished")
        .otherwise("active")
        .alias("status_class"),
        F.coalesce(F.nullif("o_custkey", F.lit(1)), F.lit(-1))
        .cast("bigint")
        .alias("custkey_or_sentinel"),
    )


PIVOT_LANGS = ["de", "en", "es", "fr", "zh"]


@gate(
    "q_pivot_lang_counts",
    f"""
    SELECT source,
           {", ".join(
               f"CAST(COALESCE(SUM(CASE WHEN lang = '{lg}' THEN 1 END), 0)"
               f" AS BIGINT) AS {lg}"
               for lg in PIVOT_LANGS
           )}
    FROM documents
    GROUP BY source
    """,
)
def q_pivot_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT surface (SURVEY §2.2 Q12 family): document counts per
    source widened over the language domain — Spark's relational
    ``pivot`` with an explicit value list (the explicit list keeps the
    plan a single pass; omitting it costs a distinct-collect first).
    Missing combinations coalesce to 0 on both engines (Spark pivot
    yields NULL for empty cells, the oracle's SUM(CASE) likewise)."""
    from apitap_spark.session import read_table as _rt

    docs = _rt(spark, sf_dir, "documents")
    wide = (
        docs.groupBy("source")
        .pivot("lang", PIVOT_LANGS)
        .agg(F.count("doc_id"))
    )
    return wide.select(
        "source",
        *[F.coalesce(F.col(lg), F.lit(0)).cast("bigint").alias(lg)
          for lg in PIVOT_LANGS],
    )


@gate(
    "q_try_functions",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice / l_quantity, 6) AS unit_price,
           CAST(NULL AS DOUBLE) AS div_by_zero,
           TRY_CAST(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS BIGINT)
             AS qty_roundtrip,
           TRY_CAST(l_returnflag AS BIGINT) AS flag_as_number,
           string_split(l_returnflag || ' ' || l_linestatus, ' ')[1]
             AS first_flag_word,
           CAST(NULL AS VARCHAR) AS oob_element,
           CASE WHEN l_quantity > 0 THEN CAST(NULL AS BIGINT)
                ELSE 9223372036854775807 END AS add_overflow
    FROM lineitem
    WHERE l_orderkey < 400
    """,
)
def q_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe TRY_* scalar family (SURVEY §2.2 Q12): try_divide
    (including a guaranteed division by zero), try_cast round-trip and
    failing cast, try_element_at in and out of bounds, and try_add at
    bigint overflow — every error lane returns NULL instead of failing
    the job, which is what a 100 TB ingest of dirty data needs (one bad
    cell must not kill a 6-hour stage). The oracle states the expected
    NULL semantics directly (DuckDB auto-promotes to HUGEINT, so the
    overflow lane is CASE-encoded rather than re-triggered).
    """
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 400)
    qty = F.col("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.try_divide("l_extendedprice", qty), 6).alias("unit_price"),
        F.try_divide(F.col("l_extendedprice"), qty - qty).alias("div_by_zero"),
        F.try_to_number(
            qty.cast("long").cast("string"), F.lit("999")
        ).cast("bigint").alias("qty_roundtrip"),
        F.expr("try_cast(l_returnflag AS BIGINT)").alias("flag_as_number"),
        F.try_element_at(
            F.split(F.concat_ws(" ", "l_returnflag", "l_linestatus"), " "),
            F.lit(1),
        ).alias("first_flag_word"),
        F.try_element_at(
            F.split(F.concat_ws(" ", "l_returnflag", "l_linestatus"), " "),
            F.lit(99),
        ).alias("oob_element"),
        F.when(
            qty > 0, F.try_add(F.lit(9223372036854775807), qty.cast("long"))
        )
        .otherwise(F.lit(9223372036854775807))
        .alias("add_overflow"),
    )


@gate(
    "q_window_distinct_count",
    """
    SELECT o_custkey, o_orderkey,
           CAST(COUNT(DISTINCT o_orderpriority) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS run_distinct_prio,
           CAST(COUNT(DISTINCT o_orderstatus) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS rolling3_distinct_status
    FROM orders
    WHERE o_custkey < 200
    """,
)
def q_window_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed COUNT(DISTINCT) (SURVEY §2.2 Q7 breadth): running
    distinct-priority count per customer plus a rolling 3-row distinct
    status count. Spark has no DISTINCT window aggregate, so the
    operator is expressed as ``size(array_distinct(collect_list(...)
    over w))`` — the collected frame is per-customer-prefix sized
    (bounded by the partition, not the table), and array_distinct/size
    are order-insensitive so AQE re-partitioning cannot perturb the
    result. The oracle uses DuckDB's native DISTINCT window aggregate.
    """
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_roll = (
        Window.partitionBy("o_custkey").orderBy("o_orderkey").rowsBetween(-2, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.size(F.array_distinct(F.collect_list("o_orderpriority").over(w_run)))
        .cast("bigint")
        .alias("run_distinct_prio"),
        F.size(F.array_distinct(F.collect_list("o_orderstatus").over(w_roll)))
        .cast("bigint")
        .alias("rolling3_distinct_status"),
    )


@gate(
    "q_distinct_on",
    """
    SELECT DISTINCT ON (o_custkey)
           o_custkey, o_orderkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_custkey, o_orderdate DESC, o_orderkey
    """,
)
def q_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ON (Postgres/DuckDB extension; SURVEY §2.2 Q6/Q7
    breadth): latest order per customer. Spark has no DISTINCT ON, so
    the operator is the standard row_number()-over-(key, order) = 1
    rewrite — the exact plan DISTINCT ON compiles to anyway. Total
    tiebreak (o_orderdate DESC, o_orderkey) keeps row identity
    deterministic on both engines.
    """
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate")
    )


@gate(
    "q_any_all_rewrite",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > ALL (
            SELECT o_totalprice FROM orders o2
            WHERE o2.o_custkey = 1
          )
      AND o_orderkey <= ANY (
            SELECT o_orderkey FROM orders o3 WHERE o3.o_orderstatus = 'F'
          )
    """,
)
def q_any_all_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANY/ALL quantified subquery comparisons (SURVEY §2.2 Q10
    breadth): Spark SQL has no `> ALL (...)` / `<= ANY (...)`
    quantifiers, so the operator applies the textbook rewrite —
    `> ALL (S)` becomes `> (SELECT MAX(S))` (empty-S vacuous truth
    included via NULL-safe handling: the probe sets here are non-empty
    by construction) and `<= ANY (S)` becomes `<= (SELECT MAX(S))` —
    pushing the quantifier into two scalar-aggregate broadcast joins.
    The oracle runs DuckDB's NATIVE quantified comparisons, proving the
    rewrite, not just re-running it.
    """
    o = _t(spark, sf_dir, "orders")
    all_max = o.filter(F.col("o_custkey") == 1).agg(
        F.max("o_totalprice").alias("all_max")
    )
    any_max = o.filter(F.col("o_orderstatus") == "F").agg(
        F.max("o_orderkey").alias("any_max")
    )
    return (
        o.crossJoin(F.broadcast(all_max))
        .crossJoin(F.broadcast(any_max))
        .filter(
            (F.col("o_totalprice") > F.col("all_max"))
            & (F.col("o_orderkey") <= F.col("any_max"))
        )
        .select("o_orderkey", "o_totalprice")
    )


@gate(
    "q_filtered_agg",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT)
             AS n_bulk,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                  FILTER (WHERE l_discount > 0.05) AS DOUBLE)
             AS discounted_revenue,
           CAST(AVG(l_tax) FILTER (WHERE l_linestatus = 'F') IS NOT NULL
                AS BOOLEAN) AS has_finished
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate FILTER clause (SQL:2003; SURVEY §2.2 Q6 breadth).
    Spark SQL has no ``agg(...) FILTER (WHERE ...)``, so the operator
    applies the standard conditional-aggregation rewrite — COUNT of a
    WHEN-marker, SUM over a NULL-masked column (NULLs are transparent
    to SUM/AVG, exactly the FILTER semantics). DECIMAL(18,2) keeps the
    filtered revenue sum order-independent. The oracle runs DuckDB's
    NATIVE FILTER clause, so the gate proves the rewrite against an
    independent implementation.
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.count(F.when(F.col("l_quantity") > 25, 1)).cast("bigint").alias(
            "n_bulk"
        ),
        F.sum(
            F.when(
                F.col("l_discount") > 0.05,
                F.col("l_extendedprice").cast(DEC),
            )
        )
        .cast("double")
        .alias("discounted_revenue"),
        F.avg(F.when(F.col("l_linestatus") == "F", F.col("l_tax")))
        .isNotNull()
        .alias("has_finished"),
    )
