"""Data-quality operators: column profiling and constraint validation.

The dbt-test / Great-Expectations surface as engine operators: a
pipeline asserts its inputs (null rates, ranges, referential integrity)
before burning cluster-hours on them. Both operators are single-pass
aggregations — at 100 TB the profile costs exactly one scan, and every
check is a partial-aggregated count (map-side combine, one tiny row per
check crosses the shuffle).

Beyond-reference operators sanctioned by the build brief; the reference
validates nothing beyond JSON decode (src/http/fetcher.rs decode path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apitap_spark import registry
from apitap_spark.registry import gate
from apitap_spark.session import read_table


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]


@gate(
    "op_data_profile",
    """
    WITH base AS (SELECT * FROM orders)
    """
    + "\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_value,
           CAST(MAX({c}) AS VARCHAR) AS max_value
    FROM base
    """
        for c in _PROFILE_COLS
    ),
)
def op_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profile of the orders table: row/null/distinct counts and
    min/max (stringified for a uniform schema) per profiled column.

    One scan, one aggregation (plan-asserted): all 17 aggregates ride a
    single pass, and the wide result row unpivots to long form with an
    explode — the profile of a 100 TB table costs exactly the scan.
    min/max stringification matches DuckDB's CAST AS VARCHAR for
    bigints/doubles-in-range/strings (no scientific notation involved).
    """
    orders = read_table(spark, sf_dir, "orders")
    # ONE aggregation over ONE scan (at 100 TB the scan IS the cost; a
    # union of per-column aggregates reads the table once per column).
    # The multi-column count(distinct) compiles to a single Expand +
    # aggregate; the wide result row then unpivots driver-free.
    aggs = [F.count("*").cast("bigint").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            (F.count("*") - F.count(c)).cast("bigint").alias(f"{c}__nulls"),
            F.countDistinct(c).cast("bigint").alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = orders.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return wide.select(F.explode(per_col).alias("p")).select("p.*")


@gate(
    "op_data_validate",
    """
    SELECT 'orders_pk_unique' AS check_name,
           CAST((SELECT COUNT(*) FROM
                  (SELECT o_orderkey FROM orders GROUP BY o_orderkey
                   HAVING COUNT(*) > 1)) AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'orders_custkey_not_null',
           CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'orders_totalprice_positive',
           CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0) AS BIGINT)
    UNION ALL
    SELECT 'orders_status_in_domain',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT)
    UNION ALL
    SELECT 'orders_custkey_fk_customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE o.o_custkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_orderkey_fk_orders',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
    """,
)
def op_data_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation suite over orders/lineitem: PK uniqueness,
    NOT NULL, range, domain, and two referential-integrity checks —
    each reported as (check_name, n_violations).

    FK checks are left-anti joins (one shuffle each; the dimension side
    broadcast when small); scalar checks share one aggregation pass.
    A clean corpus reports all zeros — the gate proves the checks RUN,
    the planted-violation pytest proves they FIRE.
    """
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    customer = read_table(spark, sf_dir, "customer")

    def row(name, df_count):
        return df_count.select(
            F.lit(name).alias("check_name"),
            F.count("*").cast("bigint").alias("n_violations"),
        )

    pk_dups = (
        orders.groupBy("o_orderkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )
    checks = [
        row("orders_pk_unique", pk_dups),
        row("orders_custkey_not_null", orders.filter(F.col("o_custkey").isNull())),
        row(
            "orders_totalprice_positive",
            orders.filter(F.col("o_totalprice") <= 0),
        ),
        row(
            "orders_status_in_domain",
            orders.filter(~F.col("o_orderstatus").isin("O", "F", "P")),
        ),
        row(
            "orders_custkey_fk_customer",
            # NULL FKs are the NOT NULL check's concern, not a broken
            # reference (SQL FK semantics)
            orders.filter(F.col("o_custkey").isNotNull()).join(
                customer,
                orders.o_custkey == customer.c_custkey,
                "left_anti",
            ),
        ),
        row(
            "lineitem_orderkey_fk_orders",
            lineitem.join(
                orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti"
            ),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


@gate(
    "op_numeric_correlation",
    """
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
             SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
             SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS corr_qty_price
    FROM m
    """,
)
def op_numeric_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of quantity vs extended price per return flag —
    the descriptive-statistics surface (F.corr exists but accumulates
    doubles in partition order, so it cannot hash-match an oracle).

    All five moment sums accumulate as exact DECIMALs (order-immune),
    and the correlation assembles from those exact sums in a fixed IEEE
    double expression — bit-identical across engines. One partial-agg
    groupBy: the correlation matrix of a 100 TB table costs one scan.
    """
    li = read_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return m.select("l_returnflag", "n", F.round(corr, 6).alias("corr_qty_price"))


@gate(
    "op_dataset_diff",
    r"""
    WITH v1 AS (
      SELECT doc_id, md5(text) AS h FROM documents
    ),
    v2 AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 11 = 0 THEN reverse(text) ELSE text END) AS h
      FROM documents WHERE doc_id % 7 <> 0
    ),
    joined AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.h <> b.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc_id
    FROM joined GROUP BY status
    """,
)
def op_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff: classify every document as added / removed /
    changed / unchanged between two corpus versions by primary key +
    content hash — the audit a versioned-dataset release runs before
    publishing (the gate derives v2 from v1 deterministically: every
    7th doc deleted, every 11th mutated).

    One full-outer join on the PK of two hash projections — a single
    shuffle; with both snapshots stored bucketed on the PK
    (sinks.dataset) the join is exchange-free. Content equality via
    md5 means the scan never rereads full text twice.
    """
    docs = read_table(spark, sf_dir, "documents")
    v1 = docs.select("doc_id", F.md5("text").alias("h"))
    v2 = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 11 == 0, F.reverse("text")).otherwise(
                F.col("text")
            )
        ).alias("h"),
    )
    a, b = v1.alias("a"), v2.alias("b")
    joined = a.join(b, F.col("a.doc_id") == F.col("b.doc_id"), "full_outer").select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.h") != F.col("b.h"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return joined.groupBy("status").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("first_doc_id"),
    )


def _discrete_median(df: DataFrame, key: str, val: str) -> DataFrame:
    """Per-key discrete median via cumulative counts over DISTINCT values
    (window input = distinct values, never raw rows — see
    q_mode_median_price for the straggler rationale). Lower-middle
    convention: first value whose cumulative count reaches (n+1)/2."""
    counted = df.groupBy(key, val).agg(F.count("*").alias("cnt"))
    wp = Window.partitionBy(key)
    cum = counted.select(
        key,
        val,
        F.sum("cnt")
        .over(
            wp.orderBy(val).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cum"),
        F.sum("cnt").over(wp).alias("n"),
    )
    picked = cum.filter(F.col("cum") * 2 >= F.col("n") + 1)
    w_first = Window.partitionBy(key).orderBy(val)
    return (
        picked.withColumn("rk", F.row_number().over(w_first))
        .filter(F.col("rk") == 1)
        .select(key, F.col(val).alias("median"))
    )


_SQL_DISCRETE_MEDIAN = """
      SELECT {key}, {val} AS median FROM (
        SELECT {key}, {val},
               ROW_NUMBER() OVER (PARTITION BY {key} ORDER BY {val}) AS rk
        FROM (
          SELECT {key}, {val},
                 SUM(cnt) OVER (PARTITION BY {key} ORDER BY {val}
                                ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(cnt) OVER (PARTITION BY {key}) AS n
          FROM (SELECT {key}, {val}, COUNT(*) AS cnt FROM {src} GROUP BY 1, 2)
        ) WHERE cum * 2 >= n + 1
      ) WHERE rk = 1
"""


@gate(
    "op_robust_stats",
    f"""
    WITH med AS ({_SQL_DISCRETE_MEDIAN.format(key="event_type", val="value", src="events")}),
    dev AS (
      SELECT e.event_type, ABS(e.value - m.median) AS adev
      FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS ({_SQL_DISCRETE_MEDIAN.format(key="event_type", val="adev", src="dev")})
    SELECT m.event_type, m.median AS median_value, d.median AS mad
    FROM med m JOIN mad d ON m.event_type = d.event_type
    """,
)
def op_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location/scale per event type: discrete median and MAD
    (median absolute deviation) — the outlier-resistant statistics a
    monitoring or label-cleaning pass prefers over mean/std.

    Both medians use the distinct-value cumulative-count plan (window
    input shrinks from N rows to distinct values); the deviation
    |x − median| is a single IEEE subtraction so even the float-keyed
    second median groups identically in both engines. Two aggregation
    passes + two small windows — no raw-row window anywhere.
    """
    ev = read_table(spark, sf_dir, "events").select("event_type", "value")
    med = _discrete_median(ev, "event_type", "value")
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("median")).alias("adev")
    )
    mad = _discrete_median(dev, "event_type", "adev")
    return (
        med.withColumnRenamed("median", "median_value")
        .join(mad.withColumnRenamed("median", "mad"), "event_type")
        .select("event_type", "median_value", "mad")
    )


# (relationship, child table/key, parent table/key, degrade) — ``degrade``
# simulates a lost dimension partition (parent keys % 3 == 0 dropped) so
# the orphan counter is exercised on a non-vacuous case: the driver's
# synthetic data is referentially dense, so every full-parent audit row
# SHOULD report 0 orphans (that zero is the assertion, not a tautology —
# the degraded twin proves the counter counts).
_FK_AUDITS = [
    ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey", False),
    ("orders.custkey->customer", "orders", "o_custkey", "customer", "c_custkey", True),
    ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey", False),
    ("lineitem.orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey", True),
    ("lineitem.partkey->part", "lineitem", "l_partkey", "part", "p_partkey", False),
    ("lineitem.suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey", False),
    ("nation.regionkey->region", "nation", "n_regionkey", "region", "r_regionkey", False),
]


def _fk_oracle() -> str:
    parts = []
    for rel, child, ck, parent, pk, degrade in _FK_AUDITS:
        pred = f"WHERE {pk} % 3 <> 0" if degrade else ""
        variant = "degraded" if degrade else "full"
        parts.append(
            f"""
    SELECT '{rel}' AS relationship, '{variant}' AS parent_variant,
           CAST(COUNT(*) AS BIGINT) AS n_child,
           CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
           ROUND(CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS orphan_ratio
    FROM {child} c
    LEFT JOIN (SELECT DISTINCT {pk} AS k FROM {parent} {pred}) p
           ON c.{ck} = p.k
    """
        )
    return "\nUNION ALL\n".join(parts)


@gate("op_fk_integrity", _fk_oracle())
def op_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for every foreign-key
    relationship in the star schema — the pre-flight check a pipeline
    runs before a 100 TB join fabricates fact rows against a stale or
    partially-loaded dimension.

    Per relationship: LEFT JOIN child keys against the distinct parent
    key set and count misses — one broadcast join (dimensions are the
    small side by construction) + one global aggregate each; the seven
    audit rows union together. The ``degraded`` twin rows drop parent
    keys ``% 3 == 0`` to prove the counter on a planted violation
    (synthetic FKs are dense, so full-parent rows legitimately assert
    zero).
    """
    rows = []
    for rel, child, ck, parent, pk, degrade in _FK_AUDITS:
        c = read_table(spark, sf_dir, child).select(F.col(ck).alias("ckey"))
        p = read_table(spark, sf_dir, parent).select(F.col(pk).alias("k"))
        if degrade:
            p = p.filter(F.col("k") % 3 != 0)
        joined = c.join(F.broadcast(p.distinct()), c.ckey == F.col("k"), "left")
        miss = F.when(F.col("k").isNull(), 1).otherwise(0)
        rows.append(
            joined.agg(
                F.count("*").cast("bigint").alias("n_child"),
                F.sum(miss).cast("bigint").alias("n_orphans"),
                F.round(
                    F.sum(miss).cast("double") / F.count("*"), 6
                ).alias("orphan_ratio"),
            ).select(
                F.lit(rel).alias("relationship"),
                F.lit("degraded" if degrade else "full").alias("parent_variant"),
                "n_child",
                "n_orphans",
                "orphan_ratio",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


LENGTH_Q_LO = 5  # percent
LENGTH_Q_HI = 95

_SQL_NTOK = r"""
      SELECT source,
             CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                  ELSE LEN(string_split_regex(TRIM(text), '\s+')) END AS ntok
      FROM documents
"""


@gate(
    "op_length_filter_bounds",
    rf"""
    WITH lens AS ({_SQL_NTOK}),
    cum AS (
      SELECT source, ntok,
             SUM(cnt) OVER (PARTITION BY source ORDER BY ntok
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY source) AS n
      FROM (SELECT source, ntok, COUNT(*) AS cnt FROM lens GROUP BY 1, 2)
    ),
    lo AS (
      SELECT source, ntok AS p_lo FROM (
        SELECT source, ntok,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY ntok) AS rk
        FROM cum WHERE cum * 100 >= {LENGTH_Q_LO} * n
      ) WHERE rk = 1
    ),
    hi AS (
      SELECT source, ntok AS p_hi FROM (
        SELECT source, ntok,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY ntok) AS rk
        FROM cum WHERE cum * 100 >= {LENGTH_Q_HI} * n
      ) WHERE rk = 1
    )
    SELECT l.source,
           CAST(lo.p_lo AS BIGINT) AS p5_tokens,
           CAST(hi.p_hi AS BIGINT) AS p95_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN l.ntok < lo.p_lo OR l.ntok > hi.p_hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM lens l
    JOIN lo ON lo.source = l.source
    JOIN hi ON hi.source = l.source
    GROUP BY l.source, lo.p_lo, hi.p_hi
    """,
)
def op_length_filter_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length outlier bounds: discrete p5/p95 and the
    count of documents outside them — the length-trimming pass (Gopher
    rule C4-style) sized per source instead of globally, so a
    short-form source is not gutted by a long-form source's bounds.

    Discrete quantiles use the distinct-value cumulative-count plan
    (both picks share ONE source-partitioned window over (source, ntok,
    cnt) rows — window input is distinct lengths, never raw docs) with
    integer-only threshold arithmetic (cum*100 >= q*n): engine-exact,
    no percentile interpolation to diverge. Bounds broadcast back for
    the outlier count. Same no-raw-row-window discipline as
    op_robust_stats.
    """
    from apitap_spark.functions.text import token_count

    docs = read_table(spark, sf_dir, "documents")
    lens = docs.select("source", token_count("text").alias("ntok"))
    counted = lens.groupBy("source", "ntok").agg(F.count("*").alias("cnt"))
    wp = Window.partitionBy("source")
    cum = counted.select(
        "source",
        "ntok",
        F.sum("cnt")
        .over(wp.orderBy("ntok").rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("cnt").over(wp).alias("n"),
    )

    def pick(q: int, name: str) -> DataFrame:
        w_first = Window.partitionBy("source").orderBy("ntok")
        return (
            cum.filter(F.col("cum") * 100 >= F.lit(q) * F.col("n"))
            .withColumn("rk", F.row_number().over(w_first))
            .filter(F.col("rk") == 1)
            .select("source", F.col("ntok").alias(name))
        )

    bounds = pick(LENGTH_Q_LO, "p_lo").join(pick(LENGTH_Q_HI, "p_hi"), "source")
    out_of = (F.col("ntok") < F.col("p_lo")) | (F.col("ntok") > F.col("p_hi"))
    return (
        lens.join(F.broadcast(bounds), "source")
        .groupBy("source", "p_lo", "p_hi")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(out_of, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
        )
        .select(
            "source",
            F.col("p_lo").cast("bigint").alias("p5_tokens"),
            F.col("p_hi").cast("bigint").alias("p95_tokens"),
            "n_docs",
            "n_outliers",
        )
    )


def _calibration_oracle() -> str:
    # compose the REGISTERED quality-score oracle as a CTE — one source
    # of truth, so a future change to STOPWORDS or the score weights in
    # textstats.py moves both gates together instead of silently
    # desynchronizing a duplicated formula (round-4 review)
    import apitap_spark.operators.textstats  # noqa: F401  (registers the score oracle)

    return f"""
    WITH scored AS ({registry.ORACLES["op_text_quality_score"]})
    SELECT CAST(FLOOR(quality_score * 10.0) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_longform,
           CAST(SUM(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS longform_rate
    FROM scored GROUP BY 1
    """


@gate("op_quality_calibration", _calibration_oracle())
def op_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve for the heuristic quality score: bucket the
    C4-style composite score into tenths and report the observed
    long-form rate per bucket — the reliability diagram that tells a
    curation run whether the cheap score actually orders documents by
    the outcome it proxies (a flat curve means the score is noise; the
    gate's pytest asserts monotone-ish lift top vs bottom).

    Bucketing uses fixed thresholds (floor(score*10)), NOT ntile: a
    global ntile needs a total order over the corpus; fixed buckets are
    a map-side projection at any scale, and the curve reads the same.
    The long-form label derives from the score frame's own n_chars
    column — ONE corpus scan, no second read or doc_id join. One
    integer aggregate; the rate divides once.
    """
    from apitap_spark.operators.textstats import op_text_quality_score

    scored = op_text_quality_score(spark, sf_dir).select(
        "quality_score", (F.col("n_chars") > 300).cast("int").alias("y")
    )
    return (
        scored.groupBy(
            F.floor(F.col("quality_score") * 10.0).cast("bigint").alias("bucket")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("y").cast("bigint").alias("n_longform"),
            (F.sum("y").cast("double") / F.count("*").cast("double")).alias(
                "longform_rate"
            ),
        )
    )


# --- L101: shuffle-skew key audit ------------------------------------------

SKEW_TOPK = 5

_SKEW_ORACLE = f"""
    WITH counts AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS total_rows
      FROM counts
    ),
    top AS (
      SELECT user_id, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS BIGINT) AS rnk
      FROM counts ORDER BY cnt DESC, user_id LIMIT {SKEW_TOPK}
    )
    SELECT rnk, user_id, cnt, n_keys, total_rows,
           ROUND(CAST(cnt AS DOUBLE) / total_rows, 6) AS share,
           ROUND(CAST(cnt * n_keys AS DOUBLE) / total_rows, 6) AS skew_vs_mean,
           CAST(CEIL(CAST(cnt * n_keys AS DOUBLE) / CAST(total_rows AS DOUBLE))
                AS BIGINT) AS salt_parts
    FROM top CROSS JOIN stats
"""


@gate("op_skew_key_audit", _SKEW_ORACLE)
def op_skew_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew heavy-hitter audit over the events join key
    (``user_id``): the top-{K} heaviest keys with their row share,
    skew-vs-mean ratio, and the salt fan-out (``ceil(cnt / mean)``)
    that would level each key to average partition load — i.e. the
    number this engine's salted-join operators (`q_salted_skew_join`,
    `q_salted_two_phase_agg`) take as their salt factor. Run before a
    100 TB join, this one aggregation decides between a plain shuffle
    join, AQE skew splitting, and explicit salting.

    Scale shape: one map-side-combined groupBy over the key, then
    heavy-hitter extraction via distributed sort+limit (TakeOrdered —
    NO global window over the billion-key count table); the stats row
    is a broadcast crossJoin. The rank window runs on the {K}-row
    limited frame only.
    """
    ev = read_table(spark, sf_dir, "events")
    # Checkpoint the key-count table: both the stats row and the top-K
    # extraction consume it, and lazily each would re-run the corpus
    # scan + key groupBy. |keys| rows spill-safely via MEMORY_AND_DISK;
    # one materialization replaces two corpus aggregations.
    counts = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("cnt")
    ).localCheckpoint()
    stats = counts.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("total_rows"),
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("user_id")).limit(SKEW_TOPK)
    w = Window.orderBy(F.desc("cnt"), F.asc("user_id"))
    load = F.col("cnt") * F.col("n_keys")
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .crossJoin(F.broadcast(stats))
        .select(
            "rnk",
            "user_id",
            "cnt",
            "n_keys",
            "total_rows",
            F.round(F.col("cnt").cast("double") / F.col("total_rows"), 6).alias(
                "share"
            ),
            F.round(load.cast("double") / F.col("total_rows"), 6).alias(
                "skew_vs_mean"
            ),
            F.ceil(
                load.cast("double") / F.col("total_rows").cast("double")
            )
            .cast("bigint")
            .alias("salt_parts"),
        )
    )


# --- L102: join-cardinality estimation audit --------------------------------

_CARD_PAIRS = [
    ("orders-lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("customer-orders", "customer", "c_custkey", "orders", "o_custkey"),
    ("part-lineitem", "part", "p_partkey", "lineitem", "l_partkey"),
]


def _card_oracle_one(name, lt, lk, rt, rk):
    return f"""
    SELECT '{name}' AS join_pair,
           a.n_left, a.ndv_left, b.n_right, b.ndv_right,
           CAST((a.n_left * b.n_right) // GREATEST(a.ndv_left, b.ndv_right)
                AS BIGINT) AS est_rows,
           c.actual_rows,
           ROUND(CAST(c.actual_rows AS DOUBLE)
                 / ((a.n_left * b.n_right) // GREATEST(a.ndv_left, b.ndv_right)),
                 6) AS actual_over_est
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_left,
                 CAST(COUNT(DISTINCT {lk}) AS BIGINT) AS ndv_left FROM {lt}) a,
         (SELECT CAST(COUNT(*) AS BIGINT) AS n_right,
                 CAST(COUNT(DISTINCT {rk}) AS BIGINT) AS ndv_right FROM {rt}) b,
         (SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
          FROM {lt} JOIN {rt} ON {lk} = {rk}) c
    """


_CARD_ORACLE = "\nUNION ALL\n".join(
    _card_oracle_one(*p) for p in _CARD_PAIRS
)


@gate("op_join_cardinality_audit", _CARD_ORACLE)
def op_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation audit for the three FK joins of the
    schema: per pair, the textbook containment estimate
    ``|R|·|S| / max(ndv_R, ndv_S)`` next to the ACTUAL join count and
    their ratio. This is the sanity check a planner (or a human sizing
    ``spark.sql.shuffle.partitions``) needs before a 100 TB join: an
    actual/estimate ratio far above 1 flags correlated or skewed keys
    where the uniform-NDV assumption (and hence the default shuffle
    sizing) breaks down.

    The estimate legs are single-pass aggregates (count + ndv per
    side); the actual leg is the real join's count — audit-mode
    instrumentation (in production you'd run it on a sampled bucket;
    the estimate legs alone are the cheap path). Integer division is
    truncating on both engines (operands non-negative: Spark DIV ==
    DuckDB //).
    """
    out = None
    for name, lt, lk, rt, rk in _CARD_PAIRS:
        left = read_table(spark, sf_dir, lt)
        right = read_table(spark, sf_dir, rt)
        ls = left.agg(
            F.count("*").cast("bigint").alias("n_left"),
            F.countDistinct(lk).cast("bigint").alias("ndv_left"),
        )
        rs = right.agg(
            F.count("*").cast("bigint").alias("n_right"),
            F.countDistinct(rk).cast("bigint").alias("ndv_right"),
        )
        actual = (
            left.join(right, F.col(lk) == F.col(rk))
            .agg(F.count("*").cast("bigint").alias("actual_rows"))
        )
        est = F.expr("(n_left * n_right) div greatest(ndv_left, ndv_right)")
        row = (
            ls.crossJoin(rs)
            .crossJoin(actual)
            .select(
                F.lit(name).alias("join_pair"),
                "n_left",
                "ndv_left",
                "n_right",
                "ndv_right",
                est.cast("bigint").alias("est_rows"),
                "actual_rows",
                F.round(
                    F.col("actual_rows").cast("double") / est, 6
                ).alias("actual_over_est"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# --- L110: k-anonymity audit over quasi-identifier groups -------------------

KANON_K = 5

_KANON_ORACLE = f"""
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS group_n,
           (COUNT(*) >= {KANON_K}) AS k_anonymous,
           CAST(CASE WHEN COUNT(*) >= {KANON_K} THEN 0 ELSE COUNT(*) END
                AS BIGINT) AS n_suppressed
    FROM documents
    GROUP BY source, lang
"""


@gate("op_kanonymity_audit", _KANON_ORACLE)
def op_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (source, lang) quasi-identifier pair:
    each equivalence class with fewer than k=5 members is flagged and
    its rows counted as requiring suppression (or generalization)
    before release — the privacy gate that complements op_text_pii_scrub:
    scrubbing removes direct identifiers, k-anonymity catches documents
    re-identifiable through rare METADATA combinations (Sweeney 2002,
    the canonical definition).

    One map-side-combined aggregate over the quasi-identifier columns —
    at 100 TB the audit costs the scan; the output is
    equivalence-class-sized (|sources| x |langs|).
    """
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("source", "lang").agg(
        F.count("*").cast("bigint").alias("group_n"),
        (F.count("*") >= KANON_K).alias("k_anonymous"),
        F.when(F.count("*") >= KANON_K, F.lit(0))
        .otherwise(F.count("*"))
        .cast("bigint")
        .alias("n_suppressed"),
    )


# --- L111: embedding per-dimension profile (dead/collapsed dim QA) ----------

DIM_SCALE = 1000  # fixed-point milli-units: bounds n*s2 and s1^2 within int64

_DIMPROF_ORACLE = f"""
    WITH expl AS (
      SELECT i AS dim,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {DIM_SCALE}.0, 0)
                  AS BIGINT) AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(v) AS BIGINT) AS min_milli,
           CAST(MAX(v) AS BIGINT) AS max_milli,
           CAST(SUM(v) AS DOUBLE) / {DIM_SCALE}.0 / CAST(COUNT(*) AS DOUBLE)
             AS mean_value,
           CAST(COUNT(*) * SUM(v * v) - SUM(v) * SUM(v) AS DOUBLE)
             / {DIM_SCALE * DIM_SCALE}.0
             / CAST(COUNT(*) * COUNT(*) AS DOUBLE) AS variance
    FROM expl GROUP BY dim
"""


@gate("op_embedding_dim_profile", _DIMPROF_ORACLE)
def op_embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding profile: n/min/max/mean/population
    variance for each of the d dimensions — the embedding-QA pass run
    before ANN indexing (a dead dimension wastes index bits; a
    collapsed one distorts every cosine; a saturated one hints at a
    truncated upstream encoder).

    Fixed-point determinism: each component is rounded ONCE to integer
    milli-units; n, Σv and Σv² are exact bigint sums (order-independent
    — milli scale keeps n·Σv² and (Σv)² inside int64 at corpus scale
    where micro would overflow), and mean/variance are derived at the
    END in a fixed IEEE chain, so the oracle matches bit-for-bit.
    One explode + one map-side-combined d-group aggregate; output is
    d rows regardless of corpus size.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    expl = emb.select(F.posexplode("embedding").alias("p", "x")).select(
        (F.col("p") + 1).cast("bigint").alias("dim"),
        F.round(F.col("x").cast("double") * DIM_SCALE, 0).cast("long").alias("v"),
    )
    n = F.count("*").cast("bigint")
    s1 = F.sum("v")
    s2 = F.sum(F.col("v") * F.col("v"))
    return expl.groupBy("dim").agg(
        n.alias("n_vecs"),
        F.min("v").cast("bigint").alias("min_milli"),
        F.max("v").cast("bigint").alias("max_milli"),
        (s1.cast("double") / F.lit(float(DIM_SCALE)) / n.cast("double")).alias(
            "mean_value"
        ),
        (
            (n * s2 - s1 * s1).cast("double")
            / F.lit(float(DIM_SCALE * DIM_SCALE))
            / (n * n).cast("double")
        ).alias("variance"),
    )


# --- L116: l-diversity audit (sensitive-attribute diversity per group) ------

LDIV_L = 3

_LDIV_ORACLE = f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS group_n,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_sensitive_values,
           (COUNT(DISTINCT lang) >= {LDIV_L}) AS l_diverse,
           ROUND(CAST(MAX(lang_n) AS DOUBLE) / COUNT(*), 6)
             AS top_sensitive_share
    FROM (
      SELECT source, lang,
             COUNT(*) OVER (PARTITION BY source, lang) AS lang_n
      FROM documents
    )
    GROUP BY source
"""


@gate("op_ldiversity_audit", _LDIV_ORACLE)
def op_ldiversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007, the standard
    successor to k-anonymity): treating ``source`` as the released
    quasi-identifier and ``lang`` as the sensitive attribute, each
    source group must contain at least l=3 distinct sensitive values —
    a k-anonymous group whose members all share one sensitive value
    still leaks it. Also reports the top sensitive value's share (the
    homogeneity-attack risk surface).

    One window + one aggregate, both keyed on the group columns —
    map-side combined, group-cardinality output at any corpus size.
    """
    docs = read_table(spark, sf_dir, "documents")
    lang_n = docs.groupBy("source", "lang").agg(F.count("*").alias("lang_n"))
    return (
        lang_n.groupBy("source")
        .agg(
            F.sum("lang_n").cast("bigint").alias("group_n"),
            F.count("*").cast("bigint").alias("n_sensitive_values"),
            (F.count("*") >= LDIV_L).alias("l_diverse"),
            F.round(
                F.max("lang_n").cast("double") / F.sum("lang_n"), 6
            ).alias("top_sensitive_share"),
        )
    )


# --- t-closeness (completes the k-anonymity / l-diversity triad) ---------

TCLOSE_T_MICRO = 150_000  # t = 0.15 total-variation distance

_TCLOSE_ORACLE = f"""
    WITH c AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n_gl
      FROM documents GROUP BY 1, 2
    ),
    g AS (SELECT source, CAST(SUM(n_gl) AS BIGINT) AS n_g FROM c GROUP BY 1),
    l AS (SELECT lang, CAST(SUM(n_gl) AS BIGINT) AS n_l FROM c GROUP BY 1),
    t AS (SELECT CAST(SUM(n_gl) AS BIGINT) AS n FROM c),
    grid AS (
      SELECT g.source, l.lang, g.n_g, l.n_l, t.n, COALESCE(c.n_gl, 0) AS n_gl
      FROM g CROSS JOIN l CROSS JOIN t
      LEFT JOIN c ON c.source = g.source AND c.lang = l.lang
    )
    SELECT source,
           CAST(MAX(n_g) AS BIGINT) AS group_n,
           CAST(FLOOR(1000000.0
                      * CAST(SUM(ABS(n_gl * n - n_l * n_g)) AS DOUBLE)
                      / CAST(2 * MAX(n_g) * MAX(n) AS DOUBLE)) AS BIGINT)
             AS tv_micro,
           (CAST(FLOOR(1000000.0
                       * CAST(SUM(ABS(n_gl * n - n_l * n_g)) AS DOUBLE)
                       / CAST(2 * MAX(n_g) * MAX(n) AS DOUBLE)) AS BIGINT)
            <= {TCLOSE_T_MICRO}) AS t_close
    FROM grid GROUP BY source
"""


@gate("op_tcloseness_audit", _TCLOSE_ORACLE)
def op_tcloseness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li, Venkatasubramanian 2007) — the third
    rung of the release-privacy ladder after op_kanonymity_audit and
    op_ldiversity_audit: an l-diverse group can still leak via its
    sensitive-value SKEW, so each quasi-identifier group's sensitive
    distribution (lang within source) must sit within t of the global
    distribution. Distance is total variation, computed EXACTLY:
    TV = Σ|n_gl·n − n_l·n_g| / (2·n_g·n) — the numerator is a sum of
    absolute differences of exact BIGINT cross-products
    (order-independent), floored ONCE to micro units after a single
    correctly-rounded double division. t = 0.15 splits the synthetic
    sources into both verdicts at every SF (non-vacuous gate).

    Scale shape: one (QI, sensitive) count, two tiny re-aggregations,
    and a group×value grid join whose cardinality is |QI groups| ×
    |sensitive values| — independent of corpus size; everything after
    the first groupBy is broadcast-sized.
    """
    docs = read_table(spark, sf_dir, "documents")
    # Checkpoint the contingency table: it feeds FOUR consumers (g, lt,
    # n, and the grid join) and is |sources|x|langs| rows — without the
    # checkpoint each consumer lazily re-runs the corpus scan + groupBy
    # (round-5 plan audit: 4 corpus scans for one audit).
    c = docs.groupBy("source", "lang").agg(
        F.count("*").cast("bigint").alias("n_gl")
    ).localCheckpoint()
    g = c.groupBy("source").agg(F.sum("n_gl").cast("bigint").alias("n_g"))
    lt = c.groupBy("lang").agg(F.sum("n_gl").cast("bigint").alias("n_l"))
    n = c.agg(F.sum("n_gl").cast("bigint").alias("n"))
    grid = (
        g.crossJoin(F.broadcast(lt))
        .crossJoin(F.broadcast(n))
        .join(F.broadcast(c), ["source", "lang"], "left")
        .select(
            "source",
            "n_g",
            "n_l",
            "n",
            F.coalesce("n_gl", F.lit(0)).cast("bigint").alias("n_gl"),
        )
    )
    tv = F.floor(
        F.lit(1000000.0)
        * F.sum(F.abs(F.col("n_gl") * F.col("n") - F.col("n_l") * F.col("n_g")))
        .cast("double")
        / (F.lit(2) * F.max("n_g") * F.max("n")).cast("double")
    ).cast("bigint")
    return grid.groupBy("source").agg(
        F.max("n_g").cast("bigint").alias("group_n"),
        tv.alias("tv_micro"),
        (tv <= TCLOSE_T_MICRO).alias("t_close"),
    )


# --- Embedding outlier detection (diagonal Mahalanobis, exact) -----------

MAHA_TOP_K = 20


_MAHA_ORACLE = f"""
    WITH expl AS (
      SELECT vec_id, i AS dim,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * {DIM_SCALE}.0, 0)
                  AS BIGINT) AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    stats AS (
      SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS s,
             CAST(COUNT(*) * SUM(v * v) - SUM(v) * SUM(v) AS BIGINT) AS vn
      FROM expl GROUP BY dim
    ),
    arrs AS (
      SELECT MAX(n) AS n,
             list(s ORDER BY dim) AS s_arr,
             list(vn ORDER BY dim) AS vn_arr
      FROM stats
    ),
    milli AS (
      SELECT vec_id,
             list_transform(range(1, len(embedding) + 1),
                            i -> CAST(ROUND(CAST(embedding[i] AS DOUBLE)
                                            * {DIM_SCALE}.0, 0) AS BIGINT))
               AS m
      FROM embeddings
    ),
    dist AS (
      SELECT vec_id,
             list_aggregate(
               list_transform(range(1, len(m) + 1),
                 i -> CASE WHEN vn_arr[i] = 0 THEN 0.0
                           ELSE CAST((n * m[i] - s_arr[i])
                                     * (n * m[i] - s_arr[i]) AS DOUBLE)
                                / CAST(vn_arr[i] AS DOUBLE) END),
               'sum') AS d2
      FROM milli CROSS JOIN arrs
    )
    SELECT vec_id, CAST(FLOOR(1000000.0 * d2) AS BIGINT) AS dist_micro,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT vec_id, d2,
             ROW_NUMBER() OVER (ORDER BY d2 DESC, vec_id) AS rk
      FROM dist
    ) WHERE rk <= {MAHA_TOP_K}
"""


@gate("op_embedding_outliers_mahalanobis", _MAHA_ORACLE)
def op_embedding_outliers_mahalanobis(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding outlier detection — top-K vectors by squared
    diagonal-covariance Mahalanobis distance (per-dimension z² summed
    over dims): the standard pre-training sweep for corrupt encoders,
    mis-scaled batches, and off-manifold junk that poisons both ANN
    recall and contrastive training; consumes the same per-dim moments
    op_embedding_dim_profile reports.

    Exactness: components round ONCE to milli ints; per-dim Σv / Σv²
    are exact BIGINT, so the standardized term (n·m−S)²/VN is a ratio
    of exact integers ((n·m−S)² stays exact through the double cast at
    any SF where VN fits int64; milli scale chosen for exactly that
    headroom). The over-dims sum is an index-ordered fold (F.aggregate
    == list_aggregate — the repo's dot-product convention), dead dims
    (VN=0) contribute 0 by definition, and the result floors ONCE to
    micro units.

    Scale shape: one explode + d-group aggregate for the moments
    (d rows — broadcast back as two literal-sized arrays on a one-row
    frame), then a zero-shuffle per-vector fold and a distributed
    TakeOrderedAndProject top-K. Two corpus scans total, no window
    over the full corpus.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    n_vecs = emb.count()
    expl = emb.select(F.posexplode("embedding").alias("p", "x")).select(
        (F.col("p") + 1).cast("bigint").alias("dim"),
        F.round(F.col("x").cast("double") * DIM_SCALE, 0)
        .cast("long")
        .alias("v"),
    )
    stats = expl.groupBy("dim").agg(
        F.sum("v").cast("bigint").alias("s"),
        (
            F.count("*") * F.sum(F.col("v") * F.col("v"))
            - F.sum("v") * F.sum("v")
        )
        .cast("bigint")
        .alias("vn"),
    )
    arrs = stats.agg(
        F.sort_array(F.collect_list(F.struct("dim", "s", "vn"))).alias("st")
    ).select(
        F.transform("st", lambda s: s.s).alias("s_arr"),
        F.transform("st", lambda s: s.vn).alias("vn_arr"),
    )
    n = F.lit(n_vecs).cast("bigint")
    milli = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * DIM_SCALE, 0).cast("long"),
        ).alias("m"),
    )

    def term(acc, i):
        mi = F.element_at("m", i.cast("int"))
        si = F.element_at("s_arr", i.cast("int"))
        vni = F.element_at("vn_arr", i.cast("int"))
        diff = n * mi - si
        return acc + F.when(vni == 0, F.lit(0.0)).otherwise(
            (diff * diff).cast("double") / vni.cast("double")
        )

    dist = milli.crossJoin(F.broadcast(arrs)).select(
        "vec_id",
        F.aggregate(
            F.sequence(F.lit(1), F.size("m")), F.lit(0.0), term
        ).alias("d2"),
    )
    topk = dist.orderBy(F.desc("d2"), F.asc("vec_id")).limit(MAHA_TOP_K)
    w = Window.orderBy(F.desc("d2"), F.asc("vec_id"))
    return topk.select(
        "vec_id",
        F.floor(F.lit(1000000.0) * F.col("d2")).cast("bigint").alias(
            "dist_micro"
        ),
        F.row_number().over(w).cast("bigint").alias("rk"),
    )


# --- Z-order layout locality audit (lakehouse file-skipping) -------------

ZORDER_FILES = 256
ZORDER_BOX_NUM, ZORDER_BOX_DEN = 12, 40  # box = [12/40, 13/40) of each span


def _morton_sql(shift_fmt: str) -> str:
    """Bit-interleave of the low 16 bits of ck and d.

    ``shift_fmt`` renders one bit term; Spark spells shifts as
    shiftleft()/shiftright() functions, DuckDB as << / >> operators —
    same generator, same structure, engine-local syntax.
    """
    return " + ".join(
        shift_fmt.format(i=i, lo=2 * i, hi=2 * i + 1) for i in range(16)
    )


_MORTON_DUCK = _morton_sql(
    "((((ck >> {i}) & 1) << {lo}) + (((d >> {i}) & 1) << {hi}))"
)
_MORTON_SPARK = _morton_sql(
    "(shiftleft(shiftright(ck, {i}) & 1, {lo})"
    " + shiftleft(shiftright(d, {i}) & 1, {hi}))"
)

_ZORDER_ORACLE = f"""
    WITH enr AS (
      SELECT o_orderkey, CAST(o_custkey & 65535 AS BIGINT) AS ck,
             CAST(datediff('day', TIMESTAMP '1970-01-01 00:00:00',
                           o_orderdate) & 65535 AS BIGINT) AS d
      FROM orders
    ),
    z AS (SELECT *, CAST({_MORTON_DUCK} AS BIGINT) AS zv FROM enr),
    bounds AS (
      SELECT MIN(ck) AS ckmin, MAX(ck) AS ckmax,
             MIN(d) AS dmin, MAX(d) AS dmax
      FROM z
    ),
    box AS (
      SELECT ckmin + (ckmax - ckmin) * {ZORDER_BOX_NUM} // {ZORDER_BOX_DEN} AS cklo,
             ckmin + (ckmax - ckmin) * {ZORDER_BOX_NUM + 1} // {ZORDER_BOX_DEN} AS ckhi,
             dmin + (dmax - dmin) * {ZORDER_BOX_NUM} // {ZORDER_BOX_DEN} AS dlo,
             dmin + (dmax - dmin) * {ZORDER_BOX_NUM + 1} // {ZORDER_BOX_DEN} AS dhi
      FROM bounds
    ),
    f AS (
      SELECT *, NTILE({ZORDER_FILES}) OVER (ORDER BY zv, o_orderkey) AS fz,
                NTILE({ZORDER_FILES}) OVER (ORDER BY ck, o_orderkey) AS fl
      FROM z
    ),
    stats AS (
      SELECT 'zorder' AS layout, fz AS fid, MIN(ck) AS ck_min,
             MAX(ck) AS ck_max, MIN(d) AS d_min, MAX(d) AS d_max,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM f GROUP BY 1, 2
      UNION ALL
      SELECT 'linear', fl, MIN(ck), MAX(ck), MIN(d), MAX(d),
             CAST(COUNT(*) AS BIGINT)
      FROM f GROUP BY 1, 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN ck_min <= ckhi AND ck_max >= cklo
                          AND d_min <= dhi AND d_max >= dlo
                         THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
           CAST(SUM(CASE WHEN ck_min <= ckhi AND ck_max >= cklo
                          AND d_min <= dhi AND d_max >= dlo
                         THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(SUM(n) AS BIGINT) AS total_rows
    FROM stats CROSS JOIN box GROUP BY layout
"""


@gate("op_zorder_layout_audit", _ZORDER_ORACLE)
def op_zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout locality audit — the lakehouse
    file-skipping planner's evidence table: interleave the low 16 bits
    of (custkey, order-day), pack rows into ZORDER_FILES equal-row
    files sorted by the Z-value vs a single-column linear sort, record
    per-file min/max zone maps, and replay a 2-D box query against
    both layouts. The output is the scan cost (files + rows behind
    zone-map pruning) per layout — on this corpus Z-order scans ~40%
    fewer files than the linear layout at every SF, which is the whole
    argument for OPTIMIZE ZORDER BY on multi-dimension-filtered tables.

    Exactness: Morton codes are pure bit arithmetic (same generator
    emits shiftleft/shiftright for Spark and <</>> for DuckDB); file
    assignment is NTILE with full tiebreaks; the box bounds derive
    from corpus min/max with truncating integer division (both
    engines truncate toward zero on non-negative operands).

    Scale shape: one scan computes (ck, d, z); NTILE's global sort is
    the file-writer's sort (a real writer range-partitions by z);
    zone-map stats are one aggregate at file cardinality; the audit
    summary is broadcast-sized.
    """
    o = read_table(spark, sf_dir, "orders")
    enr = o.select(
        "o_orderkey",
        F.expr("CAST(o_custkey & 65535 AS BIGINT)").alias("ck"),
        (
            F.floor(F.col("o_orderdate").cast("long") / 86400).cast("bigint")
            .bitwiseAND(F.lit(65535))
        ).alias("d"),
    )
    z = enr.withColumn("zv", F.expr(f"CAST({_MORTON_SPARK} AS BIGINT)"))
    bounds = z.agg(
        F.min("ck").alias("ckmin"),
        F.max("ck").alias("ckmax"),
        F.min("d").alias("dmin"),
        F.max("d").alias("dmax"),
    )
    nb, db = ZORDER_BOX_NUM, ZORDER_BOX_DEN
    box = bounds.select(
        F.expr(f"ckmin + (ckmax - ckmin) * {nb} div {db}").alias("cklo"),
        F.expr(f"ckmin + (ckmax - ckmin) * {nb + 1} div {db}").alias("ckhi"),
        F.expr(f"dmin + (dmax - dmin) * {nb} div {db}").alias("dlo"),
        F.expr(f"dmin + (dmax - dmin) * {nb + 1} div {db}").alias("dhi"),
    )
    fz = F.ntile(ZORDER_FILES).over(Window.orderBy("zv", "o_orderkey"))
    fl = F.ntile(ZORDER_FILES).over(Window.orderBy("ck", "o_orderkey"))
    f = z.select("*", fz.alias("fz"), fl.alias("fl"))
    def _stats(col, name):
        return (
            f.groupBy(F.col(col).alias("fid"))
            .agg(
                F.min("ck").alias("ck_min"),
                F.max("ck").alias("ck_max"),
                F.min("d").alias("d_min"),
                F.max("d").alias("d_max"),
                F.count("*").cast("bigint").alias("n"),
            )
            .withColumn("layout", F.lit(name))
        )
    stats = _stats("fz", "zorder").unionByName(_stats("fl", "linear"))
    hit = (
        (F.col("ck_min") <= F.col("ckhi"))
        & (F.col("ck_max") >= F.col("cklo"))
        & (F.col("d_min") <= F.col("dhi"))
        & (F.col("d_max") >= F.col("dlo"))
    )
    return (
        stats.crossJoin(F.broadcast(box))
        .groupBy("layout")
        .agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum(hit.cast("int")).cast("bigint").alias("files_scanned"),
            F.sum(F.when(hit, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("n").cast("bigint").alias("total_rows"),
        )
    )


# --- Right-to-erasure impact audit (GDPR cascade planning) ---------------

ERASURE_MOD = 97  # principals to erase: id % ERASURE_MOD == 0

_ERASURE_ORACLE = f"""
    WITH aff_orders AS (
      SELECT o_orderkey FROM orders WHERE o_custkey % {ERASURE_MOD} = 0
    )
    SELECT 'events' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS rows_total,
           CAST(SUM(CASE WHEN user_id % {ERASURE_MOD} = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS rows_affected
    FROM events
    UNION ALL
    SELECT 'customer', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN c_custkey % {ERASURE_MOD} = 0 THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'orders', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_custkey % {ERASURE_MOD} = 0 THEN 1 ELSE 0 END)
                AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM aff_orders)
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
"""


@gate("op_erasure_impact", _ERASURE_ORACLE)
def op_erasure_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure (GDPR Art. 17) impact audit — the deletion
    PLANNER's evidence table, completing the privacy family
    (PII scrub → k-anon/l-div/t-closeness → erasure): given a
    deterministic principal set (id % ERASURE_MOD == 0 stands in for
    the deletion-request list), count the blast radius per table,
    including the FK CASCADE one hop down (lineitems of affected
    orders). A real deletion job diffs these counts after running to
    prove completeness.

    Scale shape: direct tables are single-scan conditional aggregates
    (the predicate is row-local modular arithmetic — no set
    materialization, no shuffle); the cascade table probes the
    affected-orders key list, which Spark plans as a broadcast/bloom
    semi-probe into the lineitem scan. Output is one row per table.
    """
    direct = []
    for tbl, key in (
        ("events", "user_id"),
        ("customer", "c_custkey"),
        ("orders", "o_custkey"),
    ):
        direct.append(
            read_table(spark, sf_dir, tbl).agg(
                F.lit(tbl).alias("table_name"),
                F.count("*").cast("bigint").alias("rows_total"),
                F.sum(
                    (F.col(key) % ERASURE_MOD == 0).cast("int")
                ).cast("bigint").alias("rows_affected"),
            )
        )
    orders = read_table(spark, sf_dir, "orders")
    aff_orders = orders.filter(
        F.col("o_custkey") % ERASURE_MOD == 0
    ).select("o_orderkey")
    li = read_table(spark, sf_dir, "lineitem")
    hit = li.join(
        F.broadcast(aff_orders),
        li.l_orderkey == aff_orders.o_orderkey,
        "left_semi",
    ).count()
    casc = li.agg(
        F.lit("lineitem").alias("table_name"),
        F.count("*").cast("bigint").alias("rows_total"),
        F.lit(hit).cast("bigint").alias("rows_affected"),
    )
    out = direct[0]
    for d in direct[1:]:
        out = out.unionByName(d)
    return out.unionByName(casc)


# --- Benford first-digit audit (fraud / synthetic-data QA) ---------------

# floor(1e6 * log10(1 + 1/d)) for d = 1..9 — fixed literals shared by both
# engines, so no log() ever executes inside an oracle-checked expression.
BENFORD_MICRO = (301029, 176091, 124938, 96910, 79181, 66946, 57991, 51152, 45757)


def _benford_cases() -> str:
    return " ".join(
        f"WHEN first_digit = {d} THEN {BENFORD_MICRO[d - 1]}"
        for d in range(1, 10)
    )


_BENFORD_ORACLE = f"""
    WITH x AS (
      SELECT CAST(substr(CAST(CAST(ROUND(value * 100, 0) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS first_digit
      FROM events WHERE value > 0
    ),
    c AS (
      SELECT first_digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM x GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM c)
    SELECT first_digit, n_obs,
           CAST(FLOOR(1000000.0 * CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE))
                AS BIGINT) AS share_micro,
           CAST(CASE {_benford_cases()} END AS BIGINT)
             AS benford_micro,
           CAST(FLOOR(1000000.0 * CAST(n_obs AS DOUBLE) / CAST(n AS DOUBLE))
                - CASE {_benford_cases()} END AS BIGINT)
             AS diff_micro
    FROM c CROSS JOIN t
"""


@gate("op_benford_audit", _BENFORD_ORACLE)
def op_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over event values — the classic
    fabricated-data / synthetic-distribution detector: observed
    first-digit shares of the cent amounts against Benford's law,
    with the per-digit deviation. (This corpus's uniform-ish synthetic
    values deviate hard from Benford — exactly the signal the audit
    exists to raise; natural transaction data tracks the law.)

    The Benford expectations log10(1+1/d) are FIXED micro literals
    shared by both engines (the repo-wide no-log()-in-oracles rule);
    first digits come from the decimal string head (identical
    bigint-to-string rendering both engines); shares floor once.

    Scale shape: a one-column projection, a 9-group map-side-combined
    count, a broadcast scalar total. One scan, nothing else.
    """
    ev = read_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    x = ev.select(
        F.substring(
            F.round(F.col("value") * 100, 0).cast("bigint").cast("string"),
            1,
            1,
        )
        .cast("bigint")
        .alias("first_digit")
    )
    c = x.groupBy("first_digit").agg(
        F.count("*").cast("bigint").alias("n_obs")
    )
    # total as a window over the 9-row aggregate — a second aggregate
    # branch would re-execute the scan (plan-asserted single scan)
    c = c.withColumn(
        "n",
        F.sum("n_obs").over(Window.partitionBy(F.lit(1))).cast("bigint"),
    )
    share = F.floor(
        F.lit(1000000.0)
        * F.col("n_obs").cast("double")
        / F.col("n").cast("double")
    ).cast("bigint")
    benford = F.element_at(
        F.array(*[F.lit(v) for v in BENFORD_MICRO]),
        F.col("first_digit").cast("int"),
    ).cast("bigint")
    return c.select(
        "first_digit",
        "n_obs",
        share.alias("share_micro"),
        benford.alias("benford_micro"),
        (share - benford).cast("bigint").alias("diff_micro"),
    )


# --- Functional-dependency audit (FD discovery over candidate pairs) -----

# (fd name, table, LHS SQL expr, RHS column) — the expr strings are
# engine-portable (CONCAT/CAST spell identically in Spark SQL & DuckDB).
FD_CANDIDATES: tuple = (
    ("orders_key_status", "orders", "o_orderkey", "o_orderstatus"),
    ("orders_cust_priority", "orders", "o_custkey", "o_orderpriority"),
    ("lineitem_order_flag", "lineitem", "l_orderkey", "l_returnflag"),
    ("nation_key_region", "nation", "n_nationkey", "n_regionkey"),
    ("documents_source_lang", "documents", "source", "lang"),
    ("events_user_type", "events", "user_id", "event_type"),
    (
        "lineitem_line_part",
        "lineitem",
        "CONCAT(CAST(l_orderkey AS STRING), '#', CAST(l_linenumber AS STRING))",
        "l_partkey",
    ),
)


def _fd_oracle() -> str:
    parts = []
    for name, table, lhs, rhs in FD_CANDIDATES:
        parts.append(f"""
    SELECT '{name}' AS fd, n_rows, n_lhs, n_violating_lhs, max_rhs_per_lhs,
           (n_violating_lhs = 0) AS holds
    FROM (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_lhs,
             CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_lhs,
             CAST(MAX(n_rhs) AS BIGINT) AS max_rhs_per_lhs
      FROM (
        SELECT {lhs} AS x, CAST(COUNT(*) AS BIGINT) AS n_g,
               CAST(COUNT(DISTINCT {rhs}) AS BIGINT) AS n_rhs
        FROM {table} GROUP BY 1
      )
    )""")
    return " UNION ALL ".join(parts)


@gate("op_fd_audit", _fd_oracle())
def op_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit — the schema-discovery rung of the
    profiling family (op_data_profile gives per-column stats; this
    checks CROSS-column structure, Metanome/HoloClean-style): for each
    candidate FD X → Y, how many X-groups see more than one Y, the
    worst fan-out, and whether the dependency holds exactly. Key-backed
    FDs (order key → status, nation key → region) hold; behavioral ones
    (customer → priority, source → lang) are expected violations — and
    the audit's headline catch on this corpus is that the "composite
    line key" (l_orderkey, l_linenumber) → l_partkey is VIOLATED
    (~1.2k duplicate line numbers at sf0.001), i.e. the synthetic data
    breaks a key real TPC-H guarantees — precisely the discovery that
    changes how a downstream join must be written.

    Exact integer counts; one partial-aggregated groupBy per candidate
    (shuffle cardinality = |distinct X|, the profiling minimum), unioned
    into a 7-row report. Candidates are a declared list, not a blind
    O(cols²) sweep — at 100 TB you audit the FDs your pipeline relies
    on, column-pair mining stays a sampled offline job.
    """
    out = None
    for name, table, lhs, rhs in FD_CANDIDATES:
        t = read_table(spark, sf_dir, table)
        g = (
            t.select(F.expr(lhs).alias("x"), F.col(rhs).alias("y"))
            .groupBy("x")
            .agg(
                F.count("*").cast("bigint").alias("n_g"),
                F.countDistinct("y").cast("bigint").alias("n_rhs"),
            )
        )
        agg = g.agg(
            F.sum("n_g").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("n_lhs"),
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating_lhs"),
            F.max("n_rhs").cast("bigint").alias("max_rhs_per_lhs"),
        ).select(
            F.lit(name).alias("fd"),
            "n_rows",
            "n_lhs",
            "n_violating_lhs",
            "max_rhs_per_lhs",
            (F.col("n_violating_lhs") == 0).alias("holds"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out


# --- KMV (k-minimum-values) distinct-count sketch audit ------------------

KMV_K = 64
_KMV_TWO60 = "1152921504606846976.0"  # 2^60 as a double literal

_KMV_ORACLE = f"""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (
      SELECT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS hv
      FROM du
    ),
    r AS (
      SELECT event_type, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    ex AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM du GROUP BY event_type
    ),
    kk AS (
      SELECT event_type, CAST(MAX(hv) AS BIGINT) AS h_k
      FROM r WHERE rn <= {KMV_K} GROUP BY event_type
    ),
    est AS (
      SELECT e.event_type, e.n_exact, CAST({KMV_K} AS BIGINT) AS k, kk.h_k,
             CASE WHEN e.n_exact < {KMV_K} THEN e.n_exact
                  ELSE CAST(FLOOR(({KMV_K - 1}.0 * {_KMV_TWO60})
                                  / CAST(kk.h_k AS DOUBLE)) AS BIGINT)
             END AS kmv_estimate
      FROM ex e JOIN kk USING (event_type)
    )
    SELECT event_type, n_exact, k, h_k, kmv_estimate,
           CAST(FLOOR(1000000.0
                      * ABS(CAST(kmv_estimate - n_exact AS DOUBLE))
                      / CAST(n_exact AS DOUBLE)) AS BIGINT)
             AS rel_err_micro
    FROM est
"""


@gate("op_distinct_kmv_estimate", _KMV_ORACLE)
def op_distinct_kmv_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, audited against the
    exact count — the mergeable cardinality estimator (Bar-Yossef et
    al.; the θ-sketch family) whose state is just the k smallest hash
    values, so unlike HLL (op_approx_aggregates, rows-only by necessity)
    it is HASH-EXACT across engines: the estimate (k−1)·2⁶⁰/h_k is pure
    order statistics of the shared 60-bit md5 hash plus one fixed
    double-division chain. Per event_type: exact distinct users, the
    k-th smallest hash, the KMV estimate, and its relative error.

    Scale shape: the distinct-pair groupBy is the only corpus-sized
    shuffle; the per-group k-smallest selection is written as a
    rank-filter here (group count is tiny) and at fleet scale becomes
    the classic two-phase partial top-k (each partition keeps its k
    smallest, merge keeps the k smallest of those) — the sketch's whole
    point is that k values per group are all that ever moves.
    """
    ev = read_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    h = du.select(
        "event_type",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        )
        .cast("long")
        .alias("hv"),
    )
    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy("hv")
    )
    kk = (
        h.withColumn("rn", rn)
        .filter(F.col("rn") <= KMV_K)
        .groupBy("event_type")
        .agg(F.max("hv").cast("bigint").alias("h_k"))
    )
    ex = du.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_exact")
    )
    est = ex.join(kk, "event_type").select(
        "event_type",
        "n_exact",
        F.lit(KMV_K).cast("bigint").alias("k"),
        "h_k",
        F.when(F.col("n_exact") < KMV_K, F.col("n_exact"))
        .otherwise(
            F.floor(
                (F.lit(float(KMV_K - 1)) * F.lit(float(_KMV_TWO60)))
                / F.col("h_k").cast("double")
            ).cast("bigint")
        )
        .alias("kmv_estimate"),
    )
    return est.select(
        "event_type",
        "n_exact",
        "k",
        "h_k",
        "kmv_estimate",
        F.floor(
            F.lit(1000000.0)
            * F.abs((F.col("kmv_estimate") - F.col("n_exact")).cast("double"))
            / F.col("n_exact").cast("double")
        )
        .cast("bigint")
        .alias("rel_err_micro"),
    )


# --- L17x: distribution drift + categorical association audits -------------

HIST_BUCKET_W = 50  # n_chars bucket width (corpus spans ~44-577 chars)
L1_SCALE = 1_000_000

_HIST_DRIFT_ORACLE = f"""
    WITH d AS (
      SELECT source, n_chars // {HIST_BUCKET_W} AS b FROM documents
    ),
    per_src AS (
      SELECT source, b, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2
    ),
    src_tot AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM per_src GROUP BY 1
    ),
    corpus AS (
      SELECT b, CAST(SUM(c) AS BIGINT) AS cc FROM per_src GROUP BY 1
    ),
    corpus_tot AS (SELECT CAST(SUM(cc) AS BIGINT) AS nn FROM corpus),
    grid AS (
      SELECT s.source, s.n, c.b,
             COALESCE(p.c, 0) * {L1_SCALE} // s.n AS s_share,
             c.cc * {L1_SCALE} // t.nn AS c_share
      FROM src_tot s
      CROSS JOIN corpus c
      CROSS JOIN corpus_tot t
      LEFT JOIN per_src p ON p.source = s.source AND p.b = c.b
    )
    SELECT source,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(SUM(ABS(s_share - c_share)) AS BIGINT) AS l1_micro,
           CAST(MAX(ABS(s_share - c_share)) AS BIGINT) AS max_gap_micro
    FROM grid GROUP BY source
"""


@gate("op_histogram_drift_l1", _HIST_DRIFT_ORACLE)
def op_histogram_drift_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution-drift audit: bucketize document length
    into fixed-width histograms, express each source's bucket shares
    and the corpus-wide shares in integer micro units, and report the
    L1 distance (total variation x2) plus the single worst bucket gap.
    The ingest-time check a training-data pipeline runs per batch: a
    source whose length distribution diverges from the corpus signals
    a scraper change, truncation bug, or template flood — before any
    model sees the data.

    Exactness: shares are integer division (count * 1e6 div n), so
    every value is a bigint and the hash is engine-independent.

    Scale shape: one scan -> (source, bucket) count aggregate (map-side
    combined; output cardinality = sources x buckets, tiny), then all
    arithmetic happens on that aggregate — the corpus histogram and the
    per-source grid are broadcast-sized regardless of corpus size.
    """
    d = read_table(spark, sf_dir, "documents").select(
        "source", (F.col("n_chars") / HIST_BUCKET_W).cast("long").alias("b")
    )
    per_src = (
        d.groupBy("source", "b").agg(F.count("*").cast("bigint").alias("c"))
        # feeds src totals, the corpus histogram AND the grid join — one
        # aggregate-cardinality frame, three consumers (sweep rule)
        .localCheckpoint()
    )
    src_tot = per_src.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    corpus = per_src.groupBy("b").agg(F.sum("c").cast("bigint").alias("cc"))
    corpus_tot = corpus.agg(F.sum("cc").cast("bigint").alias("nn"))
    grid = (
        src_tot.crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(corpus_tot))
        .join(per_src, ["source", "b"], "left")
        .select(
            "source",
            "n",
            F.expr(
                f"coalesce(c, 0L) * {L1_SCALE}L div n"
            ).alias("s_share"),
            F.expr(f"cc * {L1_SCALE}L div nn").alias("c_share"),
        )
    )
    gap = F.abs(F.col("s_share") - F.col("c_share"))
    return grid.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.sum(gap).cast("bigint").alias("l1_micro"),
        F.max(gap).cast("bigint").alias("max_gap_micro"),
    )


_CRAMERS_ORACLE = f"""
    WITH o AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
      FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS r FROM o GROUP BY 1),
    ct AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS c FROM o GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(obs) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS nr,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS nc
      FROM o
    ),
    cells AS (
      -- every (lang, source) cell including zero-observation ones:
      -- chi2's E term is nonzero for them
      SELECT rt.lang, ct.source, rt.r, ct.c, t.n, t.nr, t.nc,
             COALESCE(o.obs, 0) AS obs
      FROM rt CROSS JOIN ct CROSS JOIN tot t
      LEFT JOIN o ON o.lang = rt.lang AND o.source = ct.source
    ),
    terms AS (
      -- (obs - E)^2 / E with E = r*c/n, algebraically
      -- (obs*n - r*c)^2 / (n*r*c): numerator/denominator are EXACT
      -- bigints, ONE double division per cell (bit-identical across
      -- engines), rounded once to integer micros
      SELECT n, nr, nc,
             CAST(ROUND(CAST((obs * n - r * c) * (obs * n - r * c) AS DOUBLE)
                        / CAST(n * r * c AS DOUBLE) * {L1_SCALE}, 0)
                  AS BIGINT) AS term_micro
      FROM cells
    )
    SELECT 'lang' AS col_a, 'source' AS col_b,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(nr) AS BIGINT) AS n_rows_cat,
           CAST(MAX(nc) AS BIGINT) AS n_cols_cat,
           CAST(SUM(term_micro) AS BIGINT) AS chi2_micro,
           CAST(SUM(term_micro) // (MAX(n) * LEAST(MAX(nr) - 1, MAX(nc) - 1))
                AS BIGINT) AS v2_micro
    FROM terms
"""


@gate("op_cramers_v_association", _CRAMERS_ORACLE)
def op_cramers_v_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-association audit: chi-squared statistic and squared
    Cramér's V between the documents table's ``lang`` and ``source``
    columns — the screening test for leaked correlation between
    metadata facets (a source that only emits one language skews any
    per-language split downstream; V^2 near 1 means the two facets are
    redundant and stratifying on both double-counts).

    Exactness: each cell term is (obs*n - r*c)^2 / (n*r*c) — numerator
    and denominator exact bigints, ONE IEEE double division per cell
    (bit-identical across engines), rounded once to integer micros and
    summed as bigint (order-independent). V^2 = chi2/(n*min(r-1,c-1))
    stays in integer micro arithmetic. No pow/ln anywhere.

    Scale shape: one scan to the (lang, source) contingency aggregate;
    everything after operates on the r x c cell grid (here 5 x 20) —
    broadcast-sized at any corpus scale.
    """
    o = (
        read_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").cast("bigint").alias("obs"))
        .localCheckpoint()  # contingency feeds rt, ct, tot and the grid
    )
    rt = o.groupBy("lang").agg(F.sum("obs").cast("bigint").alias("r"))
    ct = o.groupBy("source").agg(F.sum("obs").cast("bigint").alias("c"))
    tot = o.agg(
        F.sum("obs").cast("bigint").alias("n"),
        F.countDistinct("lang").cast("bigint").alias("nr"),
        F.countDistinct("source").cast("bigint").alias("nc"),
    )
    cells = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(tot))
        .join(o, ["lang", "source"], "left")
        .select(
            "r", "c", "n", "nr", "nc",
            F.coalesce("obs", F.lit(0).cast("bigint")).alias("obs"),
        )
    )
    num = (F.col("obs") * F.col("n") - F.col("r") * F.col("c"))
    terms = cells.select(
        "n", "nr", "nc",
        F.round(
            (num * num).cast("double")
            / (F.col("n") * F.col("r") * F.col("c")).cast("double")
            * L1_SCALE,
            0,
        )
        .cast("bigint")
        .alias("term_micro"),
    )
    return terms.agg(
        F.lit("lang").alias("col_a"),
        F.lit("source").alias("col_b"),
        F.max("n").cast("bigint").alias("n"),
        F.max("nr").cast("bigint").alias("n_rows_cat"),
        F.max("nc").cast("bigint").alias("n_cols_cat"),
        F.sum("term_micro").cast("bigint").alias("chi2_micro"),
        F.expr(
            "CAST(sum(term_micro) div (max(n) * least(max(nr) - 1, "
            "max(nc) - 1)) AS BIGINT)"
        ).alias("v2_micro"),
    )


# --- Cohen's kappa: inter-annotator agreement audit -------------------------

KAPPA_LEN_T = 55  # annotator A: "long doc" = n_tokens >= 55 (corpus median)
KAPPA_DIV_T = 455  # annotator B: lexical diversity >= 0.455 (corpus median)


_KAPPA_ORACLE = rf"""
    WITH lab AS (
      SELECT doc_id,
             LEN(string_split_regex(TRIM(text), '\s+')) >= {KAPPA_LEN_T} AS a,
             LEN(list_distinct(string_split_regex(TRIM(text), '\s+'))) * 1000
               // LEN(string_split_regex(TRIM(text), '\s+')) >= {KAPPA_DIV_T}
               AS b
      FROM documents
    ),
    cells AS (
      SELECT CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS tt,
             CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS tf,
             CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS ft,
             CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT)
               AS ff,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lab
    )
    SELECT n, tt, tf, ft, ff,
           CAST((tt + ff) * 1000000 // n AS BIGINT) AS po_micro,
           CAST(CAST(n * (tt + ff)
                     - ((tt + tf) * (tt + ft) + (ft + ff) * (tf + ff))
                     AS DOUBLE)
                / CAST(n * n
                       - ((tt + tf) * (tt + ft) + (ft + ff) * (tf + ff))
                       AS DOUBLE) AS DOUBLE) AS kappa
    FROM cells
"""


@gate("op_label_agreement_kappa", _KAPPA_ORACLE)
def op_label_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic document annotators —
    length (n_tokens >= median) and lexical diversity (distinct/total
    tokens >= median) — the chance-corrected agreement audit run before
    fusing heuristic labelers into one quality signal (raw agreement
    overstates: two labelers that both fire on 90% of docs agree 81%
    by chance alone). On this corpus the two heuristics anti-correlate
    (longer docs repeat the closed vocabulary), so kappa < 0 — exactly
    the "these signals are not redundant" reading the fusion decision
    needs.

    Exactness: the 2x2 contingency is exact bigint; kappa's closed
    form (n*(tt+ff) - S) / (n^2 - S) with S = (tt+tf)(tt+ft) +
    (ft+ff)(tf+ff) is evaluated as ONE IEEE double division of two
    exact integers — bit-identical in both engines (no pow/log; the
    lone division is correctly rounded by the standard).

    Scale shape: one narrow projection over documents (token counts
    are per-row array ops) + one global 5-counter aggregate with
    map-side combine; output is a single row at any corpus size.
    """
    from apitap_spark.functions.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    t = tokens("text")
    lab = docs.select(
        F.size(t).cast("bigint").alias("nt"),
        F.size(F.array_distinct(t)).cast("bigint").alias("nd"),
    ).select(
        (F.col("nt") >= KAPPA_LEN_T).alias("a"),
        # diversity compare in integer millis (div == oracle's // for
        # the non-negative operands here), engine-exact
        F.expr(f"nd * 1000 div nt >= {KAPPA_DIV_T}").alias("b"),
    )
    cells = lab.agg(
        F.sum((F.col("a") & F.col("b")).cast("int")).cast("bigint").alias("tt"),
        F.sum((F.col("a") & ~F.col("b")).cast("int")).cast("bigint").alias("tf"),
        F.sum((~F.col("a") & F.col("b")).cast("int")).cast("bigint").alias("ft"),
        F.sum((~F.col("a") & ~F.col("b")).cast("int")).cast("bigint").alias("ff"),
        F.count("*").cast("bigint").alias("n"),
    )
    s = "((tt + tf) * (tt + ft) + (ft + ff) * (tf + ff))"
    return cells.select(
        "n", "tt", "tf", "ft", "ff",
        F.expr("CAST((tt + ff) * 1000000L div n AS BIGINT)").alias("po_micro"),
        F.expr(
            f"CAST(CAST(n * (tt + ff) - {s} AS DOUBLE)"
            f" / CAST(n * n - {s} AS DOUBLE) AS DOUBLE)"
        ).alias("kappa"),
    )


# --- L18x round 8: PSI drift + mutual-information audits ---------------------

PSI_SCALE = 1_000_000_000  # smoothed shares in integer NANO units (exact)

_PSI_ORACLE = f"""
    WITH d AS (
      SELECT source, n_chars // {HIST_BUCKET_W} AS b FROM documents
    ),
    per_src AS (
      SELECT source, b, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2
    ),
    src_tot AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM per_src GROUP BY 1
    ),
    corpus AS (
      SELECT b, CAST(SUM(c) AS BIGINT) AS cc FROM per_src GROUP BY 1
    ),
    corpus_tot AS (
      SELECT CAST(SUM(cc) AS BIGINT) AS nn,
             CAST(COUNT(*) AS BIGINT) AS nb
      FROM corpus
    ),
    grid AS (
      -- Laplace-smoothed shares in exact integer nanos: +1 per bucket,
      -- denominator n + n_buckets, so zero-count buckets stay finite
      SELECT s.source, s.n, t.nb,
             (COALESCE(p.c, 0) + 1) * {PSI_SCALE} // (s.n + t.nb) AS s_nano,
             (c.cc + 1) * {PSI_SCALE} // (t.nn + t.nb) AS c_nano
      FROM src_tot s
      CROSS JOIN corpus c
      CROSS JOIN corpus_tot t
      LEFT JOIN per_src p ON p.source = s.source AND p.b = c.b
    ),
    terms AS (
      -- (p_s - p_c) * ln(p_s / p_c) in micro units, rounded ONCE per
      -- cell: operands are exact bigint nanos, one double division
      -- feeds ln, one multiply, one /1000 rescale nano->micro
      SELECT source, n, nb,
             CAST(ROUND(CAST(s_nano - c_nano AS DOUBLE)
                        * ln(CAST(s_nano AS DOUBLE) / CAST(c_nano AS DOUBLE))
                        / 1000.0, 0) AS BIGINT) AS term_micro
      FROM grid
    )
    SELECT source,
           CAST(MAX(n) AS BIGINT) AS n_docs,
           CAST(MAX(nb) AS BIGINT) AS n_buckets,
           CAST(SUM(term_micro) AS BIGINT) AS psi_micro,
           CAST(MAX(term_micro) AS BIGINT) AS max_term_micro
    FROM terms GROUP BY source
"""


@gate("op_psi_drift", _PSI_ORACLE)
def op_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per source vs the corpus baseline —
    the standard model-monitoring drift score (sum over buckets of
    (p_src - p_corpus) * ln(p_src / p_corpus)) applied to document
    length histograms. Complements op_histogram_drift_l1: L1 weights
    every bucket linearly, PSI amplifies buckets whose share RATIO
    moved (the industry thresholds: <0.1 stable, 0.1-0.25 drifting,
    >0.25 action). A source whose PSI spikes between ingest batches
    signals a scraper change before any model consumes the batch.

    Exactness: Laplace-smoothed shares ((c+1)/(n+B)) are exact integer
    NANO units via bigint floor-division in both engines; each cell
    term computes in one fixed double chain — one division into ln,
    one multiply, one rescale — and rounds ONCE to integer micros
    (the op_lm_perplexity ln policy: last-ulp libm-vs-JVM flake odds
    against a 1e-6 grid are ~1e-9 per cell over ~240 cells). All
    sums downstream are exact bigint.

    Scale shape: identical to op_histogram_drift_l1 — one scan to the
    (source, bucket) count aggregate; every frame after that is
    sources x buckets (broadcast-sized at any corpus scale).
    """
    d = read_table(spark, sf_dir, "documents").select(
        "source", (F.col("n_chars") / HIST_BUCKET_W).cast("long").alias("b")
    )
    per_src = (
        d.groupBy("source", "b").agg(F.count("*").cast("bigint").alias("c"))
        # feeds src totals, the corpus histogram AND the grid join
        .localCheckpoint()
    )
    src_tot = per_src.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    corpus = per_src.groupBy("b").agg(F.sum("c").cast("bigint").alias("cc"))
    corpus_tot = corpus.agg(
        F.sum("cc").cast("bigint").alias("nn"),
        F.count("*").cast("bigint").alias("nb"),
    )
    grid = (
        src_tot.crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(corpus_tot))
        .join(per_src, ["source", "b"], "left")
        .select(
            "source",
            "n",
            "nb",
            F.expr(
                f"(coalesce(c, 0L) + 1L) * {PSI_SCALE}L div (n + nb)"
            ).alias("s_nano"),
            F.expr(f"(cc + 1L) * {PSI_SCALE}L div (nn + nb)").alias("c_nano"),
        )
    )
    term = (
        F.round(
            (F.col("s_nano") - F.col("c_nano")).cast("double")
            * F.log(F.col("s_nano").cast("double") / F.col("c_nano").cast("double"))
            / F.lit(1000.0),
            0,
        )
        .cast("bigint")
        .alias("term_micro")
    )
    terms = grid.select("source", "n", "nb", term)
    return terms.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.max("nb").cast("bigint").alias("n_buckets"),
        F.sum("term_micro").cast("bigint").alias("psi_micro"),
        F.max("term_micro").cast("bigint").alias("max_term_micro"),
    )


_MI_ORACLE = f"""
    WITH o AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
      FROM documents GROUP BY 1, 2
    ),
    rt AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS r FROM o GROUP BY 1),
    ct AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS c FROM o GROUP BY 1),
    tot AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o),
    mi_terms AS (
      -- p_ij * ln(p_ij / (p_i p_j)) with the ratio's numerator obs*n
      -- and denominator r*c EXACT bigints; one double division into
      -- ln, two multiplies, one division by n, one round to micros
      SELECT CAST(ROUND(CAST(o.obs AS DOUBLE)
                        * ln(CAST(o.obs * t.n AS DOUBLE)
                             / CAST(rt.r * ct.c AS DOUBLE))
                        * 1000000.0 / CAST(t.n AS DOUBLE), 0)
                  AS BIGINT) AS term_micro
      FROM o JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN tot t
    ),
    ha_terms AS (
      SELECT CAST(ROUND(-CAST(r AS DOUBLE)
                        * ln(CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                        * 1000000.0 / CAST(n AS DOUBLE), 0)
                  AS BIGINT) AS term_micro
      FROM rt CROSS JOIN tot
    ),
    hb_terms AS (
      SELECT CAST(ROUND(-CAST(c AS DOUBLE)
                        * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                        * 1000000.0 / CAST(n AS DOUBLE), 0)
                  AS BIGINT) AS term_micro
      FROM ct CROSS JOIN tot
    ),
    agg AS (
      SELECT (SELECT CAST(SUM(term_micro) AS BIGINT) FROM mi_terms) AS mi_micro,
             (SELECT CAST(SUM(term_micro) AS BIGINT) FROM ha_terms) AS h_a_micro,
             (SELECT CAST(SUM(term_micro) AS BIGINT) FROM hb_terms) AS h_b_micro,
             (SELECT n FROM tot) AS n
    )
    SELECT 'lang' AS col_a, 'source' AS col_b, n,
           mi_micro, h_a_micro, h_b_micro,
           mi_micro * 1000
             // CAST(FLOOR(SQRT(CAST(h_a_micro * h_b_micro AS DOUBLE)))
                     AS BIGINT) AS nmi_milli
    FROM agg
"""


@gate("op_mutual_information", _MI_ORACLE)
def op_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between the documents table's ``lang`` and
    ``source`` facets, with both marginal entropies and the normalized
    MI (geometric-mean normalization, Strehl & Ghosh 2002) — the
    information-theoretic companion to op_cramers_v_association: chi2
    asks "is there ANY association", MI measures HOW MANY nats one
    facet reveals about the other, which is what a stratified-split
    designer needs (NMI near 1 = stratifying on both facets
    double-counts; near 0 = they are independent constraints).

    Exactness: the contingency table, marginals and total are exact
    bigints; each MI term's log ratio (obs*n)/(r*c) divides two exact
    bigints ONCE in doubles before ln, and each term rounds ONCE to
    integer micro-nats (op_lm_perplexity ln policy). Sums are bigint;
    NMI is integer milli via one FLOOR(SQRT(double)) of an exact
    bigint product.

    Scale shape: one scan to the (lang, source) contingency aggregate
    (map-side combined); marginals, totals and all term math operate
    on the r x c grid — broadcast-sized at any corpus scale. Output
    is a single row.
    """
    o = (
        read_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").cast("bigint").alias("obs"))
        .localCheckpoint()  # contingency feeds marginals, total and terms
    )
    rt = o.groupBy("lang").agg(F.sum("obs").cast("bigint").alias("r"))
    ct = o.groupBy("source").agg(F.sum("obs").cast("bigint").alias("c"))
    tot = o.agg(F.sum("obs").cast("bigint").alias("n"))

    def _round_micro(col):
        return F.round(col, 0).cast("bigint")

    mi_terms = (
        o.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            _round_micro(
                F.col("obs").cast("double")
                * F.log(
                    (F.col("obs") * F.col("n")).cast("double")
                    / (F.col("r") * F.col("c")).cast("double")
                )
                * F.lit(1000000.0)
                / F.col("n").cast("double")
            ).alias("term_micro")
        )
        .agg(F.sum("term_micro").cast("bigint").alias("mi_micro"))
    )
    ha = (
        rt.crossJoin(F.broadcast(tot))
        .select(
            _round_micro(
                -F.col("r").cast("double")
                * F.log(F.col("r").cast("double") / F.col("n").cast("double"))
                * F.lit(1000000.0)
                / F.col("n").cast("double")
            ).alias("term_micro")
        )
        .agg(F.sum("term_micro").cast("bigint").alias("h_a_micro"))
    )
    hb = (
        ct.crossJoin(F.broadcast(tot))
        .select(
            _round_micro(
                -F.col("c").cast("double")
                * F.log(F.col("c").cast("double") / F.col("n").cast("double"))
                * F.lit(1000000.0)
                / F.col("n").cast("double")
            ).alias("term_micro")
        )
        .agg(F.sum("term_micro").cast("bigint").alias("h_b_micro"))
    )
    return (
        mi_terms.crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
        .crossJoin(F.broadcast(tot))
        .select(
            F.lit("lang").alias("col_a"),
            F.lit("source").alias("col_b"),
            "n",
            "mi_micro",
            "h_a_micro",
            "h_b_micro",
            F.expr(
                "mi_micro * 1000L div CAST(FLOOR(SQRT(CAST(h_a_micro *"
                " h_b_micro AS DOUBLE))) AS BIGINT)"
            ).alias("nmi_milli"),
        )
    )


# --- L18x round 8: theta-sketch set intersection across segments -------------

_TWO60_INT = 1152921504606846976  # 2^60 as an exact bigint literal

_THETA_ORACLE = f"""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    h AS (
      SELECT event_type,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS hv
      FROM du
    ),
    ranked AS (
      SELECT event_type, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM h
    ),
    -- per-type KMV sketch: the k smallest hashes; theta = h_k, or 2^60
    -- ("exact mode") when the set is smaller than k
    sk AS (
      SELECT event_type, hv FROM ranked WHERE rn <= {KMV_K}
    ),
    th AS (
      SELECT event_type,
             CASE WHEN MAX(cnt) < {KMV_K} THEN {_TWO60_INT}
                  ELSE MAX(CASE WHEN rn = {KMV_K} THEN hv END) END AS theta
      FROM ranked WHERE rn <= {KMV_K} GROUP BY event_type
    ),
    pairs AS (
      SELECT ta.event_type AS type_a, tb.event_type AS type_b,
             LEAST(ta.theta, tb.theta) AS theta
      FROM th ta JOIN th tb ON ta.event_type < tb.event_type
    ),
    samp AS (
      SELECT p.type_a, p.type_b, p.theta,
             CAST(COUNT(*) AS BIGINT) AS n_sample
      FROM pairs p
      JOIN sk sa ON sa.event_type = p.type_a
      JOIN sk sb ON sb.event_type = p.type_b AND sb.hv = sa.hv
      WHERE sa.hv < p.theta
      GROUP BY 1, 2, 3
    ),
    exact AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM du a JOIN du b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT e.type_a, e.type_b, e.n_exact,
           COALESCE(s.n_sample, 0) AS n_sample,
           CAST(FLOOR(CAST(COALESCE(s.n_sample, 0) AS DOUBLE)
                      * {_KMV_TWO60}
                      / CAST(p.theta AS DOUBLE)) AS BIGINT) AS theta_estimate
    FROM exact e
    JOIN pairs p ON p.type_a = e.type_a AND p.type_b = e.type_b
    LEFT JOIN samp s ON s.type_a = e.type_a AND s.type_b = e.type_b
"""


@gate("op_sketch_theta_overlap", _THETA_ORACLE)
def op_sketch_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set intersection (the Apache DataSketches /
    Bar-Yossef KMV algebra): estimate the distinct-user overlap of
    every event-type pair FROM THE SKETCHES ALONE — k minimum hash
    values per segment, theta = min of the two per-sketch thetas,
    estimate = |{sketch_a ∩ sketch_b below theta}| * 2^60 / theta —
    audited against the exact pairwise intersection. This is the
    segment-overlap matrix a 100 TB pipeline computes WITHOUT joining
    the raw fact table with itself: sketches are tiny, mergeable, and
    unionable across partitions; the exact join here is the audit rung
    only. Sets smaller than k flip to exact mode (theta = 2^60), where
    the estimate equals the true count by construction.

    Exactness: the 60-bit md5 hash is the shared KMV chain
    (op_distinct_kmv_estimate); thetas and sample counts are exact
    bigints; the single estimate division is one fixed double chain
    (CAST, *, /, FLOOR) — bit-identical across engines.

    Scale shape: one distinct-pair aggregate, one per-type rank window
    bounded at k (partial top-k per partition at fleet scale), then
    ALL sketch algebra happens on k x |types| rows — broadcast-sized
    forever. The exact audit join is the only corpus-sized pairwise
    op, and it exists to grade the sketch, not to serve queries.
    """
    ev = read_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct().localCheckpoint()
    h = du.select(
        "event_type",
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        )
        .cast("long")
        .alias("hv"),
    )
    wrk = Window.partitionBy("event_type").orderBy("hv")
    wcnt = Window.partitionBy("event_type")
    ranked = h.select(
        "event_type",
        "hv",
        F.row_number().over(wrk).alias("rn"),
        F.count("*").over(wcnt).alias("cnt"),
    ).filter(F.col("rn") <= KMV_K).localCheckpoint()  # feeds sk and th
    sk = ranked.select("event_type", "hv")
    th = ranked.groupBy("event_type").agg(
        F.when(F.max("cnt") < KMV_K, F.lit(_TWO60_INT))
        .otherwise(F.max(F.when(F.col("rn") == KMV_K, F.col("hv"))))
        .cast("bigint")
        .alias("theta")
    )
    pairs = (
        th.select(F.col("event_type").alias("type_a"), F.col("theta").alias("ta"))
        .join(
            F.broadcast(
                th.select(
                    F.col("event_type").alias("type_b"),
                    F.col("theta").alias("tb"),
                )
            ),
            F.col("type_a") < F.col("type_b"),
        )
        .select("type_a", "type_b", F.least("ta", "tb").alias("theta"))
    )
    samp = (
        pairs.join(
            F.broadcast(
                sk.select(F.col("event_type").alias("type_a"), "hv")
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                sk.select(F.col("event_type").alias("type_b"), "hv")
            ),
            ["type_b", "hv"],
        )
        .filter(F.col("hv") < F.col("theta"))
        .groupBy("type_a", "type_b", "theta")
        .agg(F.count("*").cast("bigint").alias("n_sample"))
    )
    exact = (
        du.select(F.col("event_type").alias("type_a"), "user_id")
        .join(
            du.select(F.col("event_type").alias("type_b"), "user_id"),
            "user_id",
        )
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_exact"))
    )
    return (
        exact.join(F.broadcast(pairs), ["type_a", "type_b"])
        .join(
            F.broadcast(samp.select("type_a", "type_b", "n_sample")),
            ["type_a", "type_b"],
            "left",
        )
        .select(
            "type_a",
            "type_b",
            "n_exact",
            F.coalesce("n_sample", F.lit(0).cast("bigint")).alias("n_sample"),
            F.floor(
                F.coalesce("n_sample", F.lit(0).cast("bigint")).cast("double")
                * F.lit(float(_TWO60_INT))
                / F.col("theta").cast("double")
            )
            .cast("bigint")
            .alias("theta_estimate"),
        )
    )


# --- Winsorized per-source moments ------------------------------------------

WINSOR_Q_LO = 5  # percent
WINSOR_Q_HI = 95


def _winsor_oracle() -> str:
    return f"""
    WITH lens AS (
      SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents
    ),
    counted AS (
      SELECT source, x, COUNT(*) AS cnt FROM lens GROUP BY source, x
    ),
    cum AS (
      SELECT source, x,
             SUM(cnt) OVER (PARTITION BY source ORDER BY x
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY source) AS n
      FROM counted
    ),
    lo AS (
      SELECT source, MIN(x) AS p_lo FROM cum
      WHERE cum * 100 >= {WINSOR_Q_LO} * n GROUP BY source
    ),
    hi AS (
      SELECT source, MIN(x) AS p_hi FROM cum
      WHERE cum * 100 >= {WINSOR_Q_HI} * n GROUP BY source
    ),
    clamped AS (
      SELECT l.source,
             CASE WHEN l.x < lo.p_lo THEN lo.p_lo
                  WHEN l.x > hi.p_hi THEN hi.p_hi
                  ELSE l.x END AS xw,
             CASE WHEN l.x < lo.p_lo THEN 1 ELSE 0 END AS clip_lo,
             CASE WHEN l.x > hi.p_hi THEN 1 ELSE 0 END AS clip_hi,
             lo.p_lo, hi.p_hi
      FROM lens l JOIN lo ON lo.source = l.source
      JOIN hi ON hi.source = l.source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(p_lo) AS BIGINT) AS p5_chars,
           CAST(MIN(p_hi) AS BIGINT) AS p95_chars,
           CAST(SUM(clip_lo) AS BIGINT) AS n_clipped_lo,
           CAST(SUM(clip_hi) AS BIGINT) AS n_clipped_hi,
           CAST(SUM(xw) AS BIGINT) AS winsor_sum,
           CAST(SUM(xw) * 1000000 // COUNT(*) AS BIGINT) AS winsor_mean_micro,
           CAST(COUNT(*) * SUM(xw * xw) - SUM(xw) * SUM(xw) AS BIGINT)
             AS winsor_varnum
    FROM clamped GROUP BY source
    """


@gate("op_winsorized_moments", _winsor_oracle())
def op_winsorized_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-source length moments: clamp n_chars at the
    discrete per-source p5/p95 and report the clipped counts, the
    winsorized mean, and the exact variance numerator
    n·Σx̃² − (Σx̃)² — the outlier-resistant moment pair a curation
    dashboard trends per source (the clamping complement of
    op_length_filter_bounds, which only counts outliers, and of
    op_robust_stats' median/MAD).

    Exactness: discrete quantiles via the distinct-value cumulative
    plan (cum·100 ≥ q·n, integer-only); the clamp is a CASE on bigints;
    moments are bigint sums — the variance numerator is division-free
    (n·Σx̃²−(Σx̃)², headroom: chars ≤ 4k ⇒ n·Σx̃² < 2e18 holds through
    ~sf100 per-source; the mean divides non-negatives).

    Scale shape: the quantile window runs over DISTINCT (source, x)
    rows, never raw docs; bounds broadcast back; one final
    map-side-combined groupBy(source). Two corpus scans total (quantile
    derivation + clamp pass), both column-pruned to (source, n_chars).
    """
    docs = read_table(spark, sf_dir, "documents")
    lens = docs.select("source", F.col("n_chars").cast("bigint").alias("x"))
    counted = lens.groupBy("source", "x").agg(F.count("*").alias("cnt"))
    wp = Window.partitionBy("source")
    cum = counted.select(
        "source",
        "x",
        F.sum("cnt")
        .over(
            wp.orderBy("x").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
        F.sum("cnt").over(wp).alias("n"),
    )

    def pick(q: int, name: str) -> DataFrame:
        return (
            cum.filter(F.col("cum") * 100 >= F.lit(q) * F.col("n"))
            .groupBy("source")
            .agg(F.min("x").alias(name))
        )

    bounds = pick(WINSOR_Q_LO, "p_lo").join(pick(WINSOR_Q_HI, "p_hi"), "source")
    clamped = lens.join(F.broadcast(bounds), "source").select(
        "source",
        "p_lo",
        "p_hi",
        F.when(F.col("x") < F.col("p_lo"), F.col("p_lo"))
        .when(F.col("x") > F.col("p_hi"), F.col("p_hi"))
        .otherwise(F.col("x"))
        .alias("xw"),
        (F.col("x") < F.col("p_lo")).cast("bigint").alias("clip_lo"),
        (F.col("x") > F.col("p_hi")).cast("bigint").alias("clip_hi"),
    )
    return clamped.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("p_lo").cast("bigint").alias("p5_chars"),
        F.min("p_hi").cast("bigint").alias("p95_chars"),
        F.sum("clip_lo").cast("bigint").alias("n_clipped_lo"),
        F.sum("clip_hi").cast("bigint").alias("n_clipped_hi"),
        F.sum("xw").cast("bigint").alias("winsor_sum"),
        F.expr("sum(xw) * 1000000 div count(*)")
        .cast("bigint")
        .alias("winsor_mean_micro"),
        (
            F.count("*").cast("bigint") * F.sum(F.col("xw") * F.col("xw")).cast("bigint")
            - F.sum("xw").cast("bigint") * F.sum("xw").cast("bigint")
        )
        .cast("bigint")
        .alias("winsor_varnum"),
    )


# --- Murphy (1973) Brier-score decomposition of the quality score --------


def _brier_oracle() -> str:
    import apitap_spark.operators.textstats  # noqa: F401  (registers the score oracle)

    return f"""
    WITH scored AS ({registry.ORACLES["op_text_quality_score"]}),
    b AS (
      SELECT LEAST(CAST(FLOOR(quality_score * 10.0) AS BIGINT), 9) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_k,
             CAST(SUM(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) AS BIGINT)
               AS c_k
      FROM scored GROUP BY 1
    ),
    g AS (
      SELECT CAST(SUM(n_k) AS BIGINT) AS n,
             CAST(SUM(c_k) AS BIGINT) AS c
      FROM b
    ),
    milli AS (
      SELECT b.bucket, b.n_k, b.c_k,
             (2 * b.bucket + 1) * 50 AS f_milli,
             1000 * b.c_k // b.n_k AS ok_milli,
             1000 * g.c // g.n AS o_milli,
             g.n, g.c
      FROM b CROSS JOIN g
    )
    SELECT MAX(n) AS n_docs, MAX(c) AS n_longform,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(n_k * (f_milli - ok_milli) * (f_milli - ok_milli))
                // MAX(n) AS BIGINT) AS reliability_micro,
           CAST(SUM(n_k * (ok_milli - o_milli) * (ok_milli - o_milli))
                // MAX(n) AS BIGINT) AS resolution_micro,
           CAST(MAX(o_milli) * (1000 - MAX(o_milli)) AS BIGINT)
             AS uncertainty_micro,
           CAST(SUM(n_k * (f_milli - ok_milli) * (f_milli - ok_milli))
                // MAX(n)
                - SUM(n_k * (ok_milli - o_milli) * (ok_milli - o_milli))
                // MAX(n)
                + MAX(o_milli) * (1000 - MAX(o_milli)) AS BIGINT)
             AS brier_micro
    FROM milli
    """


@gate("op_quality_brier_decomposition", _brier_oracle())
def op_quality_brier_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Murphy (1973) decomposition of the quality score's Brier score —
    REL − RES + UNC over the tenth-bucket reliability curve that
    op_quality_calibration draws: reliability (how far each bucket's
    observed long-form rate sits from the bucket's nominal forecast),
    resolution (how much the buckets separate from the base rate — the
    part a good score maximizes), and uncertainty (the base rate's own
    variance, the floor no forecaster beats). The one-number follow-up
    to the calibration curve: a score can look monotone yet carry
    near-zero resolution.

    Fixed point: rates quantize ONCE to milli units (forecast = bucket
    midpoint (2b+1)/20 — exact in millis; observed rates floor-divide),
    so every squared gap is milli² = exact micro and the per-component
    division happens once. The ~0.1% quantization bias is identical in
    both engines and is the price of int64 safety to ~10¹² docs (the
    exact-rational form overflows at corpus scale).

    Scale shape: rides the one-scan quality-score projection; the
    bucket aggregate is 10 rows, everything after is scalar.
    """
    from apitap_spark.operators.textstats import op_text_quality_score

    scored = op_text_quality_score(spark, sf_dir).select(
        F.least(
            F.floor(F.col("quality_score") * 10.0).cast("bigint"), F.lit(9)
        ).alias("bucket"),
        (F.col("n_chars") > 300).cast("int").alias("y"),
    )
    b = scored.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_k"),
        F.sum("y").cast("bigint").alias("c_k"),
    ).localCheckpoint()
    # ^ ≤10 rows; feeds BOTH the global base-rate aggregate and the
    # per-bucket frame — without it the corpus scan runs twice
    g = b.agg(
        F.sum("n_k").cast("bigint").alias("n"),
        F.sum("c_k").cast("bigint").alias("c"),
    )
    milli = b.crossJoin(F.broadcast(g)).select(
        "n_k", "c_k", "n", "c",
        ((2 * F.col("bucket") + 1) * 50).alias("f_milli"),
        F.expr("1000L * c_k div n_k").alias("ok_milli"),
        F.expr("1000L * c div n").alias("o_milli"),
    )
    rel = F.expr(
        "sum(n_k * (f_milli - ok_milli) * (f_milli - ok_milli)) div max(n)"
    )
    res = F.expr(
        "sum(n_k * (ok_milli - o_milli) * (ok_milli - o_milli)) div max(n)"
    )
    unc = F.expr("max(o_milli) * (1000 - max(o_milli))")
    return milli.agg(
        F.max("n").alias("n_docs"),
        F.max("c").alias("n_longform"),
        F.count("*").cast("bigint").alias("n_buckets"),
        rel.cast("bigint").alias("reliability_micro"),
        res.cast("bigint").alias("resolution_micro"),
        unc.cast("bigint").alias("uncertainty_micro"),
        (rel - res + unc).cast("bigint").alias("brier_micro"),
    )


# --- Krippendorff's alpha: multi-rater agreement audit -------------------

KRIPP_LEN_T = 55  # rater A: token count >= corpus median
KRIPP_DIV_T = 455  # rater B: lexical diversity (millis) >= corpus median
KRIPP_CHARS_T = 300  # rater C: the long-form char label

_KRIPP_ORACLE = rf"""
    WITH lab AS (
      SELECT doc_id,
             CASE WHEN LEN(string_split_regex(TRIM(text), '\s+'))
                       >= {KRIPP_LEN_T} THEN 1 ELSE 0 END
             + CASE WHEN LEN(list_distinct(string_split_regex(TRIM(text), '\s+')))
                         * 1000
                         // LEN(string_split_regex(TRIM(text), '\s+'))
                         >= {KRIPP_DIV_T} THEN 1 ELSE 0 END
             + CASE WHEN n_chars > {KRIPP_CHARS_T} THEN 1 ELSE 0 END AS n1
      FROM documents
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
             CAST(SUM(n1) AS BIGINT) AS n_true,
             CAST(SUM(n1 * (3 - n1)) AS BIGINT) AS a_num
      FROM lab
    )
    SELECT n_units, CAST(3 AS BIGINT) AS m_raters, n_true,
           CAST(3 * n_units - n_true AS BIGINT) AS n_false,
           a_num,
           CAST(1.0 - CAST((3 * n_units - 1) * a_num AS DOUBLE)
                      / CAST(2 * n_true * (3 * n_units - n_true) AS DOUBLE)
                AS DOUBLE) AS alpha
    FROM agg
"""


@gate("op_krippendorff_alpha", _KRIPP_ORACLE)
def op_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha across THREE deterministic binary raters —
    token count, lexical diversity, and the long-form char label — the
    multi-rater generalization of op_label_agreement_kappa (Cohen's
    kappa stops at two raters; fusing three or more heuristic labelers
    into one quality signal needs the coincidence-matrix form).  For
    complete binary ratings with m raters over N units the closed form
    is exact: alpha = 1 − (n−1)·Σ_u n1ᵤ(m−n1ᵤ) / ((m−1)·n_t·n_f)
    with n = mN total ratings, n1ᵤ the unit's true-votes, n_t/n_f the
    global vote totals (Krippendorff 2004, ch. 11).

    Exactness: every term is an exact int64 count; alpha is ONE IEEE
    division of two exact integer products (the kappa precedent — no
    pow/log anywhere). int64 bound: (n−1)·a_num holds to ~10⁹ units;
    past that cast the factors to double first.

    Scale shape: one narrow projection (two per-row array ops + one
    char compare), one 3-counter global aggregate with map-side
    combine; single output row at any corpus size.
    """
    from apitap_spark.functions.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    t = tokens("text")
    lab = docs.select(
        F.size(t).cast("bigint").alias("nt"),
        F.size(F.array_distinct(t)).cast("bigint").alias("nd"),
        "n_chars",
    ).select(
        (
            (F.col("nt") >= KRIPP_LEN_T).cast("int")
            + F.expr(f"CAST(nd * 1000 div nt >= {KRIPP_DIV_T} AS INT)")
            + (F.col("n_chars") > KRIPP_CHARS_T).cast("int")
        ).alias("n1")
    )
    agg = lab.agg(
        F.count("*").cast("bigint").alias("n_units"),
        F.sum("n1").cast("bigint").alias("n_true"),
        F.sum(F.col("n1") * (3 - F.col("n1"))).cast("bigint").alias("a_num"),
    )
    return agg.select(
        "n_units",
        F.lit(3).cast("bigint").alias("m_raters"),
        "n_true",
        (3 * F.col("n_units") - F.col("n_true")).cast("bigint").alias("n_false"),
        "a_num",
        F.expr(
            "CAST(1.0 - CAST((3 * n_units - 1) * a_num AS DOUBLE)"
            " / CAST(2 * n_true * (3 * n_units - n_true) AS DOUBLE)"
            " AS DOUBLE)"
        ).alias("alpha"),
    )


# --- Exact 1-D Wasserstein distribution drift (round 10) -------------------

_WASSERSTEIN_ORACLE = """
    WITH vals AS (SELECT DISTINCT n_chars AS v FROM documents),
    srcs AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_source FROM documents
      GROUP BY 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents),
    cnt AS (
      SELECT source, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    grid AS (
      SELECT s.source, s.n_source, vals.v,
             CAST(COALESCE(cnt.c, 0) AS BIGINT) AS c
      FROM srcs s CROSS JOIN vals
      LEFT JOIN cnt ON cnt.source = s.source AND cnt.v = vals.v
    ),
    tot AS (
      SELECT v, CAST(SUM(c) AS BIGINT) AS c_all FROM grid GROUP BY 1
    ),
    cum AS (
      SELECT g.source, g.n_source, g.v,
             CAST(SUM(g.c) OVER (PARTITION BY g.source ORDER BY g.v)
               AS BIGINT) AS cum_s,
             CAST(SUM(t.c_all) OVER (PARTITION BY g.source ORDER BY g.v)
               AS BIGINT) AS cum_all,
             LEAD(g.v) OVER (PARTITION BY g.source ORDER BY g.v) AS v_next
      FROM grid g JOIN tot t USING (v)
    )
    SELECT source, n_source,
           CAST(n.n_total - n_source AS BIGINT) AS n_rest,
           CAST(SUM(ABS(cum_s * (n.n_total - n_source)
                        - (cum_all - cum_s) * n_source)
                    * (v_next - v)) AS BIGINT) AS w1_scaled,
           CAST(SUM(ABS(cum_s * (n.n_total - n_source)
                        - (cum_all - cum_s) * n_source)
                    * (v_next - v)) * 1000
                // (n_source * (n.n_total - n_source)) AS BIGINT)
             AS w1_milli
    FROM cum CROSS JOIN n
    WHERE v_next IS NOT NULL
    GROUP BY 1, 2, 3, n.n_total
"""


@gate("op_drift_wasserstein", _WASSERSTEIN_ORACLE)
def op_drift_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth-mover) distance between each
    source's document-length distribution and the REST of the corpus —
    the unbinned drift metric that complements the binned PSI and
    histogram-L1 gates: W1 integrates |CDF₁−CDF₂| over the value axis,
    so it sees shifts PSI's fixed bins blur and needs no bin tuning.
    The per-source audit a curation pipeline runs to find which ingest
    feed's length profile is drifting from the corpus.

    Exactness: with integer values and integer counts, W1·n_s·n_rest =
    Σ_gaps |cum_s·n_rest − cum_rest·n_s|·Δv is a pure int64 —
    ``w1_scaled`` is exact; ``w1_milli`` divides once (floor, both
    engines, non-negative operands). Int64 budget: |cum diff| ≤
    n_s·n_rest ≤ N²/4, times Σ Δv ≤ value range R: N²R/4 < 2⁶³ binds at
    N ≈ 1.9e8 docs per shard at R=1e3 — beyond that, rescale counts or
    audit per shard (the CDF comparison itself stays exact at any N via
    per-gap doubles if the product overflows).

    Scale shape: one (source, value) count aggregate (map-side
    combined), a dims-sized grid (distinct values × sources — both tiny
    relative to the corpus; the grid cross join never touches row
    data), two cumulative windows partitioned BY SOURCE (each partition
    is value-cardinality), and a per-source reduce. The corpus is read
    once.
    """
    docs = read_table(spark, sf_dir, "documents")
    vals = docs.select(F.col("n_chars").alias("v")).distinct()
    srcs = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_source")
    )
    n_total = docs.count()  # scalar: sizes the fixed-point division
    cnt = docs.groupBy(
        "source", F.col("n_chars").alias("v")
    ).agg(F.count("*").cast("bigint").alias("c"))
    grid = (
        srcs.crossJoin(vals)
        .join(cnt, ["source", "v"], "left")
        .select(
            "source",
            "n_source",
            "v",
            F.coalesce("c", F.lit(0)).cast("bigint").alias("c"),
        )
    )
    tot = grid.groupBy("v").agg(F.sum("c").cast("bigint").alias("c_all"))
    w = Window.partitionBy("source").orderBy("v")
    cum = (
        grid.join(tot, "v")
        .select(
            "source",
            "n_source",
            "v",
            F.sum("c").over(w).cast("bigint").alias("cum_s"),
            F.sum("c_all").over(w).cast("bigint").alias("cum_all"),
            F.lead("v").over(w).alias("v_next"),
        )
        .filter(F.col("v_next").isNotNull())
    )
    term = F.abs(
        F.col("cum_s") * (F.lit(n_total) - F.col("n_source"))
        - (F.col("cum_all") - F.col("cum_s")) * F.col("n_source")
    ) * (F.col("v_next") - F.col("v"))
    return (
        cum.groupBy("source", "n_source")
        .agg(F.sum(term).cast("bigint").alias("w1_scaled"))
        .select(
            "source",
            "n_source",
            (F.lit(n_total) - F.col("n_source"))
            .cast("bigint")
            .alias("n_rest"),
            "w1_scaled",
            F.expr(
                f"w1_scaled * 1000 div (n_source * ({n_total}L - n_source))"
            ).cast("bigint").alias("w1_milli"),
        )
    )
