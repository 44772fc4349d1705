"""Time-series SQL surface: gap-filled resampling and time-bucket OHLC
rollups over the events stream — the hypertable-style operator family
(continuous-aggregate shapes) on top of plain DataFrame ops.

Same contract as relational.py: DataFrame API + DuckDB oracle. Hours are
integer epoch-hours (floor(epoch/3600)) so bucketing is pure integer
arithmetic — no timezone or calendar semantics to diverge between
engines; value sums go through DECIMAL(18,6) so aggregation order cannot
perturb the double result (see plans/relational.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apitap_spark.registry import gate
from apitap_spark.session import read_table


def _epoch_hour(col: str = "ts") -> "F.Column":
    return F.floor(F.col(col).cast("long") / 3600).cast("bigint")


@gate(
    "q_resample_hourly_gapfill",
    """
    WITH bucketed AS (
      SELECT event_type,
             datediff('hour', TIMESTAMP '1970-01-01 00:00:00', ts) AS hour_epoch,
             COUNT(*) AS n_events,
             SUM(CAST(value AS DECIMAL(18,6))) AS v
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT MIN(hour_epoch) AS lo, MAX(hour_epoch) AS hi FROM bucketed
    ),
    grid AS (
      SELECT t.event_type, g.h AS hour_epoch
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS h FROM bounds) g
    )
    SELECT g.event_type, CAST(g.hour_epoch AS BIGINT) AS hour_epoch,
           CAST(COALESCE(b.n_events, 0) AS BIGINT) AS n_events,
           CAST(COALESCE(b.v, 0) AS DOUBLE) AS total_value
    FROM grid g LEFT JOIN bucketed b
      ON g.event_type = b.event_type AND g.hour_epoch = b.hour_epoch
    """,
)
def q_resample_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample with gap filling: per event type, every hour between
    the corpus min and max gets a row; silent hours are zero-filled.

    Scale shape: one partial-agg groupBy on (type, hour) — cardinality is
    types × hours, tiny relative to events — then the dense grid is built
    from a broadcast scalar bounds row and a broadcast distinct-type list;
    the final join is broadcast-left onto the aggregated (not raw) side.
    The raw events table is scanned exactly once.
    """
    ev = read_table(spark, sf_dir, "events")
    bucketed = (
        ev.select(
            "event_type",
            _epoch_hour().alias("hour_epoch"),
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
        .groupBy("event_type", "hour_epoch")
        .agg(F.count("*").alias("n_events"), F.sum("v").alias("v"))
        # types × hours rows — tiny at any scale. Checkpointing it lets
        # bounds, the type list, AND the grid join all read the aggregate
        # instead of re-scanning raw events (one corpus scan total).
        .localCheckpoint()
    )
    bounds = bucketed.agg(
        F.min("hour_epoch").alias("lo"), F.max("hour_epoch").alias("hi")
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("hour_epoch")
    )
    types = bucketed.select("event_type").distinct()
    grid = F.broadcast(types).crossJoin(F.broadcast(hours))
    return grid.join(bucketed, ["event_type", "hour_epoch"], "left").select(
        "event_type",
        F.col("hour_epoch").cast("bigint").alias("hour_epoch"),
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
        F.coalesce("v", F.lit(0)).cast("double").alias("total_value"),
    )


@gate(
    "q_time_bucket_ohlc",
    """
    WITH ranked AS (
      SELECT event_type,
             datediff('hour', TIMESTAMP '1970-01-01 00:00:00', ts) // 6 AS bucket,
             value, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type,
                                datediff('hour', TIMESTAMP '1970-01-01 00:00:00', ts) // 6
                                ORDER BY ts, event_id) AS rn_open,
             ROW_NUMBER() OVER (PARTITION BY event_type,
                                datediff('hour', TIMESTAMP '1970-01-01 00:00:00', ts) // 6
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM events
    )
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           CAST(MAX(CASE WHEN rn_open = 1 THEN value END) AS DOUBLE) AS open,
           CAST(MAX(value) AS DOUBLE) AS high,
           CAST(MIN(value) AS DOUBLE) AS low,
           CAST(MAX(CASE WHEN rn_close = 1 THEN value END) AS DOUBLE) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM ranked GROUP BY 1, 2
    """,
)
def q_time_bucket_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-hour-bucket OHLC rollup per event type: first/last value by
    (ts, event_id) order plus min/max — the candlestick/continuous-
    aggregate shape.

    open/close use ROW_NUMBER over a deterministic composite order (ties
    on ts broken by event_id) rather than min_by/max_by, whose tie rule
    is engine-dependent. One window + one groupBy, both partitioned by
    the same (type, bucket) key — a single shuffle at scale.
    """
    ev = read_table(spark, sf_dir, "events")
    bucket = F.floor(_epoch_hour() / 6).cast("bigint")
    base = ev.select(
        "event_type", bucket.alias("bucket"), "value", "ts", "event_id"
    )
    w_open = Window.partitionBy("event_type", "bucket").orderBy("ts", "event_id")
    w_close = Window.partitionBy("event_type", "bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = base.select(
        "event_type",
        "bucket",
        "value",
        F.row_number().over(w_open).alias("rn_open"),
        F.row_number().over(w_close).alias("rn_close"),
    )
    return ranked.groupBy("event_type", "bucket").agg(
        F.max(F.when(F.col("rn_open") == 1, F.col("value")))
        .cast("double")
        .alias("open"),
        F.max("value").cast("double").alias("high"),
        F.min("value").cast("double").alias("low"),
        F.max(F.when(F.col("rn_close") == 1, F.col("value")))
        .cast("double")
        .alias("close"),
        F.count("*").cast("bigint").alias("n_events"),
    )


@gate(
    "q_interpolate_locf",
    """
    WITH bucketed AS (
      SELECT user_id,
             datediff('hour', TIMESTAMP '1970-01-01 00:00:00', ts) AS hour_epoch,
             MAX(CASE WHEN rn = 1 THEN value END) AS last_value
      FROM (
        SELECT user_id, ts, value,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id,
                              datediff('hour', TIMESTAMP '1970-01-01 00:00:00', ts)
                 ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE user_id <= 50
      ) GROUP BY 1, 2
    ),
    bounds AS (
      SELECT MIN(hour_epoch) AS lo, MAX(hour_epoch) AS hi FROM bucketed
    ),
    grid AS (
      SELECT u.user_id, g.h AS hour_epoch
      FROM (SELECT DISTINCT user_id FROM bucketed) u
      CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS h FROM bounds) g
    ),
    joined AS (
      SELECT g.user_id, g.hour_epoch, b.last_value
      FROM grid g LEFT JOIN bucketed b
        ON g.user_id = b.user_id AND g.hour_epoch = b.hour_epoch
    )
    SELECT user_id, CAST(hour_epoch AS BIGINT) AS hour_epoch,
           CAST(LAST_VALUE(last_value IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY hour_epoch
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS locf_value
    FROM joined
    """,
)
def q_interpolate_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward interpolation onto a dense hourly
    grid (users ≤ 50): hours with no reading inherit the most recent
    value; leading hours before a user's first reading stay NULL.

    The forward fill is ``last(..., ignorenulls)`` over a running frame —
    one window sharing the user partition with the grid join. At scale
    the grid is hours × users; the window partitions by user so no
    global sort exists.
    """
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") <= 50)
    w_rank = Window.partitionBy("user_id", "hour_epoch").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    bucketed = (
        ev.select(
            "user_id",
            _epoch_hour().alias("hour_epoch"),
            "value",
            "ts",
            "event_id",
        )
        .withColumn("rn", F.row_number().over(w_rank))
        .groupBy("user_id", "hour_epoch")
        .agg(F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("last_value"))
        .localCheckpoint()  # bounds + user list + grid join: one raw scan
    )
    bounds = bucketed.agg(
        F.min("hour_epoch").alias("lo"), F.max("hour_epoch").alias("hi")
    )
    hours = bounds.select(F.explode(F.sequence("lo", "hi")).alias("hour_epoch"))
    users = bucketed.select("user_id").distinct()
    grid = users.crossJoin(F.broadcast(hours))
    joined = grid.join(bucketed, ["user_id", "hour_epoch"], "left")
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("hour_epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        F.col("hour_epoch").cast("bigint").alias("hour_epoch"),
        F.last("last_value", ignorenulls=True)
        .over(w_fill)
        .cast("double")
        .alias("locf_value"),
    )


_RECURSIVE_BOM_SQL = """
    WITH RECURSIVE anc(part, ancestor, level) AS (
      SELECT p_partkey, p_partkey, 0 FROM {part} WHERE p_partkey <= 100
      UNION ALL
      SELECT a.part, CAST(FLOOR(a.ancestor / 2.0) AS BIGINT), a.level + 1
      FROM anc a WHERE a.ancestor > 1
    )
    SELECT a.part, a.ancestor, CAST(a.level AS BIGINT) AS level,
           p.p_brand AS ancestor_brand
    FROM anc a JOIN {part} p ON p.p_partkey = a.ancestor
"""


@gate(
    "q_recursive_cte_bom",
    _RECURSIVE_BOM_SQL.format(part="part"),
)
def q_recursive_cte_bom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, Spark 4 UnionLoop): bill-of-
    materials-style ancestor walk — each part's assembly chain under the
    synthetic hierarchy parent(p) = floor(p/2), annotated with the
    ancestor's brand. SURVEY §2.2 Q11 depth the reference's DataFusion
    47 cannot express (no recursive CTEs).

    The identical SQL text runs on both engines. The recursive STEP
    touches no table at all (pure arithmetic on the frontier — the
    halving walk needs ~log2(maxkey) iterations); a step that re-scanned
    a corpus-sized table per iteration would multiply the scan by the
    recursion depth (an 80-iteration month-series variant measured 7x
    slower than its own aggregate for exactly that reason). The one
    corpus join happens once, after the recursion closes.
    """
    part = read_table(spark, sf_dir, "part")
    part.createOrReplaceTempView("_rc_part")
    return spark.sql(_RECURSIVE_BOM_SQL.format(part="_rc_part"))


@gate(
    "q_session_window_native",
    f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN datediff('second', LAG(ts) OVER w, ts) <= {30 * 60}
                  THEN 0 ELSE 1 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native session_window (30-min gap) aggregation per user —
    the engine primitive behind streaming sessionization (the same call
    works under readStream with a watermark; see test_streaming).

    The oracle derives identical sessions from the gap-based window
    formulation — proving Spark's built-in session merge equals the
    textbook LAG/running-sum construction. One shuffle on user_id; the
    session merge is per-key state, no global sort.

    The window's half-open [start, end) end-bound is engine-defined
    (start of a hypothetical next event + gap), so the gate projects
    the deterministic pair (session_start, n_events).
    """
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
        )
    )


@gate(
    "q_window_first_last_nth",
    """
    SELECT event_id, user_id,
           FIRST_VALUE(value) OVER w AS first_val,
           LAST_VALUE(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND UNBOUNDED FOLLOWING) AS last_val,
           NTH_VALUE(value, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND UNBOUNDED FOLLOWING) AS third_val
    FROM events WHERE user_id <= 20
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value window functions with explicit
    full-partition frames (last/nth need UNBOUNDED FOLLOWING — the
    default frame ends at CURRENT ROW, a classic silent-wrong-answer).
    Deterministic composite ordering; one user-keyed shuffle.
    """
    ev = read_table(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w_full).alias("last_val"),
        F.nth_value("value", 3).over(w_full).alias("third_val"),
    )


_GROUP_BY_ALL_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM {orders}
    GROUP BY ALL
    ORDER BY ALL
"""


@gate(
    "q_group_by_all",
    _GROUP_BY_ALL_SQL.format(orders="orders"),
)
def q_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (the DuckDB-originated shorthand Spark
    4 adopted): every non-aggregate select item becomes a grouping key,
    and the result orders by all columns left-to-right. The identical
    SQL text runs on both engines — syntax-surface parity the
    reference's DataFusion 47 lacks. Plain partial-agg groupBy plan.
    """
    orders = read_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_gba_orders")
    return spark.sql(_GROUP_BY_ALL_SQL.format(orders="_gba_orders"))


ANOMALY_BASELINE = 24  # trailing observed buckets forming the baseline
ANOMALY_MIN_N = 12  # minimum baseline size before scoring
ANOMALY_Z = 3.0


@gate(
    "q_timeseries_anomaly",
    f"""
    WITH bucketed AS (
      SELECT event_type,
             datediff('hour', TIMESTAMP '1970-01-01 00:00:00', ts) AS hour_epoch,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, hour_epoch, x,
             COUNT(*) OVER w AS n,
             SUM(x) OVER w AS s,
             SUM(x * x) OVER w AS sxx
      FROM bucketed
      WINDOW w AS (PARTITION BY event_type ORDER BY hour_epoch
                   ROWS BETWEEN {ANOMALY_BASELINE} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, CAST(hour_epoch AS BIGINT) AS hour_epoch, x AS n_events,
           ROUND((x - CAST(s AS DOUBLE) / n)
                 / sqrt(CAST(sxx AS DOUBLE) / n
                        - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)), 6)
             AS zscore,
           ABS((x - CAST(s AS DOUBLE) / n)
               / sqrt(CAST(sxx AS DOUBLE) / n
                      - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)))
             > {ANOMALY_Z} AS is_anomaly
    FROM stats
    WHERE n >= {ANOMALY_MIN_N}
      AND CAST(sxx AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n) > 0
    """,
)
def q_timeseries_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-baseline anomaly detection: each (event_type, hour)
    bucket's count scored as a z-score against the mean/std of its
    previous 24 observed buckets — the monitoring/alerting rollup.

    The baseline moments are INTEGER window sums (counts and squared
    counts) — order-immune and exact — with the z assembled in one fixed
    IEEE-double expression, so the oracle hash-matches despite the
    floats. Zero-variance and short-history buckets are excluded rather
    than scored against a degenerate baseline. One (type)-keyed window
    over the pre-aggregated buckets: the raw scan dominates at scale.
    """
    ev = read_table(spark, sf_dir, "events")
    bucketed = (
        ev.select("event_type", _epoch_hour().alias("hour_epoch"))
        .groupBy("event_type", "hour_epoch")
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_epoch")
        .rowsBetween(-ANOMALY_BASELINE, -1)
    )
    stats = bucketed.select(
        "event_type",
        "hour_epoch",
        "x",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = F.col("sxx").cast("double") / F.col("n") - mean * mean
    z = (F.col("x") - mean) / F.sqrt(var)
    return (
        stats.filter((F.col("n") >= ANOMALY_MIN_N) & (var > 0))
        .select(
            "event_type",
            F.col("hour_epoch").cast("bigint").alias("hour_epoch"),
            F.col("x").alias("n_events"),
            F.round(z, 6).alias("zscore"),
            (F.abs(z) > ANOMALY_Z).alias("is_anomaly"),
        )
    )


# (name, lo, hi): half-open [lo, hi) value tiers — deliberately uneven so
# no CASE shortcut exists and the range join is genuine.
VALUE_TIERS = [
    ("micro", 0.0, 7.5),
    ("small", 7.5, 31.0),
    ("medium", 31.0, 99.9),
    ("large", 99.9, 240.0),
    ("huge", 240.0, 1000.0),
]
RANGE_BUCKET_WIDTH = 16.0

_TIER_VALUES_SQL = ", ".join(
    f"('{n}', {lo}, {hi})" for n, lo, hi in VALUE_TIERS
)


@gate(
    "q_bucketized_range_join",
    f"""
    WITH tiers(tier, lo, hi) AS (VALUES {_TIER_VALUES_SQL})
    SELECT t.tier,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
    GROUP BY t.tier
    """,
)
def q_bucketized_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via bucketization: each range row expands to the fixed-
    width integer buckets it overlaps, each probe value maps to ONE
    bucket, and the range predicate verifies after an EQUI-join on the
    bucket id.

    The naive BETWEEN join is a broadcast nested loop — O(probes ×
    ranges), fatal when the range table is large (IP→geo tables carry
    millions of CIDRs). Bucketizing makes it a hash join whose candidate
    count is probes × (avg ranges per bucket) — the standard interval-
    index trick, expressed in two DataFrame ops. The oracle runs the
    plain BETWEEN join: bucketization must be result-invariant.
    """
    ev = read_table(spark, sf_dir, "events")
    tiers = spark.createDataFrame(VALUE_TIERS, "tier string, lo double, hi double")
    expanded = tiers.select(
        "tier",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / RANGE_BUCKET_WIDTH).cast("long"),
                # hi is exclusive: the bucket containing hi is still
                # reachable by values just below it
                F.floor(
                    (F.col("hi") - F.lit(1e-9)) / RANGE_BUCKET_WIDTH
                ).cast("long"),
            )
        ).alias("bucket"),
    )
    probes = ev.select(
        "value",
        F.floor(F.col("value") / RANGE_BUCKET_WIDTH).cast("long").alias("bucket"),
    )
    joined = probes.join(F.broadcast(expanded), "bucket").filter(
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi"))
    )
    return joined.groupBy("tier").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_value"),
    )


FUNNEL_STAGES = ["view", "click", "purchase"]


@gate(
    "q_event_funnel",
    """
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    ),
    counts AS (
      SELECT (SELECT COUNT(*) FROM s1) AS n1,
             (SELECT COUNT(*) FROM s2) AS n2,
             (SELECT COUNT(*) FROM s3) AS n3
    )
    SELECT 'view' AS stage, CAST(1 AS BIGINT) AS stage_idx,
           CAST(n1 AS BIGINT) AS users,
           1.0 AS conv_from_prev, 1.0 AS conv_overall FROM counts
    UNION ALL
    SELECT 'click', 2, CAST(n2 AS BIGINT),
           CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE),
           CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE) FROM counts
    UNION ALL
    SELECT 'purchase', 3, CAST(n3 AS BIGINT),
           CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE),
           CAST(n3 AS DOUBLE) / CAST(n1 AS DOUBLE) FROM counts
    """,
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event stream: users who
    viewed, then clicked strictly after their first view, then purchased
    strictly after that click — the product-analytics staple (and a
    shape ORDER-dependent enough that naive per-type counts get it
    wrong; each stage anchors on the PREVIOUS stage's first timestamp).

    Scale: each stage is one filtered aggregate joined to the previous
    stage's (user, ts) table — user-keyed shuffles only, no windows over
    the full stream, stage tables shrink monotonically. Counts are
    exact integers; the two conversion ratios divide once at the end.
    """
    ev = read_table(spark, sf_dir, "events")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n1, n2, n3 = s1.count(), s2.count(), s3.count()

    def ratio(a: int, b: int):
        # None (SQL NULL) on an empty denominator — matching the
        # oracle, where DuckDB double division by zero yields NULL
        return float(a) / float(b) if b else None

    rows = [
        ("view", 1, n1, 1.0, 1.0),
        ("click", 2, n2, ratio(n2, n1), ratio(n2, n1)),
        ("purchase", 3, n3, ratio(n3, n2), ratio(n3, n1)),
    ]
    return spark.createDataFrame(
        rows,
        "stage string, stage_idx bigint, users bigint,"
        " conv_from_prev double, conv_overall double",
    )


INCIDENT_MOD = 101  # every 101st error event anchors an incident window
INCIDENT_PAD_SEC = 3600  # +/- 1 hour around the anchor


@gate(
    "q_interval_overlap_incidents",
    f"""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN date_diff('second', LAG(ts) OVER w, ts) <= 1800
                  THEN 0 ELSE 1 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    ),
    sessions AS (
      SELECT user_id, sid, MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM sess GROUP BY user_id, sid
    ),
    incidents AS (
      SELECT event_id,
             ts - INTERVAL {INCIDENT_PAD_SEC} SECOND AS i_start,
             ts + INTERVAL {INCIDENT_PAD_SEC} SECOND AS i_end
      FROM events
      WHERE event_type = 'error' AND event_id % {INCIDENT_MOD} = 0
    )
    SELECT i.event_id AS incident_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS n_users
    FROM incidents i
    JOIN sessions s
      ON s.s_start <= i.i_end AND i.i_start <= s.s_end
    GROUP BY i.event_id
    """,
)
def q_interval_overlap_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: user sessions (gap-based, 30-min idle)
    overlapping incident windows (+/- 1h around sampled error events) —
    'who was active during the outage', the temporal-join shape neither
    an equi-join nor an as-of covers.

    Scale path: both interval sets explode to the HOUR BUCKETS they
    cover and equi-join on the bucket before re-checking the exact
    overlap predicate and deduplicating — the bucket expansion turns an
    O(N x M) theta join into a co-partitioned hash join whose bucket
    fan-out is bounded by interval length (sessions are idle-capped,
    incidents fixed-width). The oracle states the overlap predicate
    directly; the bucketed plan must agree exactly.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = ev.select(
        "user_id",
        "ts",
        F.when(gap <= 1800, 0).otherwise(1).alias("is_start"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = flagged.withColumn("sid", F.sum("is_start").over(w2))
    sessions = sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    incidents = (
        ev.filter(
            (F.col("event_type") == "error")
            & (F.col("event_id") % INCIDENT_MOD == 0)
        )
        .select(
            "event_id",
            (F.col("ts") - F.expr(f"INTERVAL {INCIDENT_PAD_SEC} SECOND")).alias(
                "i_start"
            ),
            (F.col("ts") + F.expr(f"INTERVAL {INCIDENT_PAD_SEC} SECOND")).alias(
                "i_end"
            ),
        )
    )
    bucket_seq = "sequence(date_trunc('hour', {s}), date_trunc('hour', {e}), interval 1 hour)"
    s_b = sessions.withColumn(
        "bucket",
        F.explode(F.expr(bucket_seq.format(s="s_start", e="s_end"))),
    )
    i_b = incidents.withColumn(
        "bucket",
        F.explode(F.expr(bucket_seq.format(s="i_start", e="i_end"))),
    )
    pairs = (
        i_b.join(s_b, "bucket")
        .filter(
            (F.col("s_start") <= F.col("i_end"))
            & (F.col("i_start") <= F.col("s_end"))
        )
        .select("event_id", "user_id", "sid")
        .distinct()
    )
    return pairs.groupBy(F.col("event_id").alias("incident_id")).agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


@gate(
    "q_scd2_user_status",
    """
    WITH changes AS (
      SELECT user_id, ts, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    points AS (
      SELECT user_id, ts, event_type FROM changes
      WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type AS status,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
           (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL)
             AS is_current
    FROM points
    """,
)
def q_scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: collapse each user's
    event stream into status intervals — a row per status CHANGE with
    [valid_from, valid_to) validity and an is_current flag on the open
    interval. The classic warehouse-dimension derivation (the reference
    loads rows; a real deployment wants the dimension table too), and
    the shape MERGE-based SCD pipelines stage before upserting.

    Two windows over the same (user_id, ts) order — one shuffle total;
    consecutive duplicate statuses collapse (change points only), so
    output cardinality is bounded by status volatility, not stream
    length.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    points = changes.filter(
        F.col("prev_type").isNull()
        | (F.col("event_type") != F.col("prev_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts")
    return points.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
    )


# --- EWMA smoothing (exact fixed-point, truncated kernel) ----------------

EWMA_LAGS = 16  # kernel length; alpha = 1/2 so weights are 2^(K-1-i)


def _ewma_oracle() -> str:
    k = EWMA_LAGS
    num = " + ".join(
        f"COALESCE(LAG(v_cents, {i}) OVER w, 0) * {1 << (k - 1 - i)}"
        for i in range(k)
    )
    den = " + ".join(
        f"CASE WHEN LAG(v_cents, {i}) OVER w IS NOT NULL"
        f" THEN {1 << (k - 1 - i)} ELSE 0 END"
        for i in range(k)
    )
    return f"""
    WITH bucketed AS (
      SELECT event_type,
             datediff('hour', TIMESTAMP '1970-01-01 00:00:00', ts) AS hour_epoch,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS v_cents
      FROM events GROUP BY 1, 2
    ),
    weighted AS (
      SELECT event_type, hour_epoch, v_cents,
             CAST({num} AS BIGINT) AS num,
             CAST({den} AS BIGINT) AS den
      FROM bucketed
      WINDOW w AS (PARTITION BY event_type ORDER BY hour_epoch)
    )
    SELECT event_type, CAST(hour_epoch AS BIGINT) AS hour_epoch, v_cents,
           CAST(FLOOR(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) AS BIGINT)
             AS ewma_cents
    FROM weighted
    """


@gate("q_ewma_smoothing", _ewma_oracle())
def q_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing of the hourly per-type value series — the
    monitoring/forecast-baseline primitive (alpha = 1/2), computed
    EXACTLY: alpha = 1/2 makes every kernel weight a power of two, so
    a 16-tap truncated kernel is pure BIGINT arithmetic (weight
    2^(15-i) on lag i, normalized by the sum of weights actually
    present near the series head). The tail beyond 16 taps carries
    weight < 2^-16 — below cent resolution, so truncation loses
    nothing representable. No pow()/exp() anywhere (1-ulp
    engine-specific); the single double division at the end has exact
    integer operands (num < 2^53) and IEEE division is correctly
    rounded in both engines.

    Scale shape: one partial-agg groupBy collapses the raw stream to
    (type, hour) cardinality, then ONE window sort per type computes
    all 16 lags — Catalyst evaluates the whole kernel in a single
    Window operator pass, not 16 self-joins.
    """
    k = EWMA_LAGS
    ev = read_table(spark, sf_dir, "events")
    bucketed = (
        ev.select(
            "event_type",
            _epoch_hour().alias("hour_epoch"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("event_type", "hour_epoch")
        .agg(F.sum("c").cast("bigint").alias("v_cents"))
    )
    w = Window.partitionBy("event_type").orderBy("hour_epoch")
    num = sum(
        (
            F.coalesce(F.lag("v_cents", i).over(w), F.lit(0))
            * F.lit(1 << (k - 1 - i))
            for i in range(k)
        ),
        F.lit(0),
    )
    den = sum(
        (
            F.when(
                F.lag("v_cents", i).over(w).isNotNull(),
                F.lit(1 << (k - 1 - i)),
            ).otherwise(F.lit(0))
            for i in range(k)
        ),
        F.lit(0),
    )
    return bucketed.select(
        "event_type",
        F.col("hour_epoch").cast("bigint").alias("hour_epoch"),
        "v_cents",
        F.floor(
            num.cast("bigint").cast("double")
            / den.cast("bigint").cast("double")
        )
        .cast("bigint")
        .alias("ewma_cents"),
    )


# --- Time-weighted average (TWAP) ----------------------------------------


@gate(
    "q_time_weighted_avg",
    """
    WITH seq AS (
      SELECT event_type,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS v_cents,
             epoch_us(ts) AS us,
             LEAD(epoch_us(ts)) OVER (PARTITION BY event_type
                                      ORDER BY epoch_us(ts), event_id)
               AS next_us
      FROM events
    ),
    held AS (
      SELECT event_type, v_cents, next_us - us AS dur_us
      FROM seq WHERE next_us IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dur_us) AS BIGINT) AS total_dur_us,
           CAST(FLOOR(1000000.0 * CAST(SUM(v_cents * dur_us) AS DOUBLE)
                      / CAST(SUM(dur_us) AS DOUBLE)) AS BIGINT)
             AS twap_cents_micro,
           CAST(FLOOR(1000000.0 * CAST(SUM(v_cents) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
             AS mean_cents_micro
    FROM held GROUP BY event_type
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) per event type — the
    irregular-series aggregate that OHLC/EWMA don't cover: each
    observation is weighted by how long it was the CURRENT value
    (hold-until-next semantics), so a burst of readings no longer
    dominates the mean. Reported next to the unweighted mean, the pair
    quantifies sampling bias in the feed.

    Exactness: timestamps are integer MICROseconds (unix_micros ==
    DuckDB epoch_us — events carry sub-second precision, so
    second-floored casts would alias distinct timestamps and make the
    LEAD ordering ambiguous); values are exact cents; Σ(v·dur) and
    Σdur are order-independent BIGINT sums (≤ max_cents·span_us ≈
    2.4e17, inside int64 at any SF of this corpus); each output ratio
    floors ONCE after one correctly-rounded division.

    Scale shape: ONE window sort per event_type computes the hold
    durations, then a map-side-combined groupBy on the same key — the
    sort partitioning is reused, no second shuffle. Per-key series at
    100 TB partition cleanly by (type, day) with a boundary fix-up row.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    seq = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v_cents"),
        F.unix_micros("ts").alias("us"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    )
    held = seq.filter(F.col("next_us").isNotNull()).select(
        "event_type",
        "v_cents",
        (F.col("next_us") - F.col("us")).alias("dur_us"),
    )
    return held.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_intervals"),
        F.sum("dur_us").cast("bigint").alias("total_dur_us"),
        F.floor(
            F.lit(1000000.0)
            * F.sum(F.col("v_cents") * F.col("dur_us")).cast("double")
            / F.sum("dur_us").cast("double")
        )
        .cast("bigint")
        .alias("twap_cents_micro"),
        F.floor(
            F.lit(1000000.0)
            * F.sum("v_cents").cast("double")
            / F.count("*").cast("double")
        )
        .cast("bigint")
        .alias("mean_cents_micro"),
    )


# --- CUSUM change-point detection (closed form, exact integers) ----------

CUSUM_K = 12  # alarm when S_t exceeds K * (n * mean) in scaled units


@gate(
    "q_cusum_changepoint",
    f"""
    WITH b AS (
      SELECT event_type,
             datediff('hour', TIMESTAMP '1970-01-01 00:00:00', ts) AS h,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS s
      FROM b GROUP BY 1
    ),
    d AS (
      SELECT b.event_type, h, v, s,
             SUM(n * v - s) OVER (PARTITION BY b.event_type ORDER BY h) AS c
      FROM b JOIN st USING (event_type)
    )
    SELECT event_type, CAST(h AS BIGINT) AS hour_epoch, v AS v_cents,
           CAST(c - LEAST(0, MIN(c) OVER (PARTITION BY event_type ORDER BY h
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                AS BIGINT) AS cusum_scaled,
           (CAST(c - LEAST(0, MIN(c) OVER (PARTITION BY event_type ORDER BY h
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                 AS BIGINT) > {CUSUM_K} * s) AS alarm
    FROM d
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point detection over the hourly per-type
    value series — the drift monitor that catches slow upward shifts a
    fixed z-score threshold (q_timeseries_anomaly) misses, because
    deviations ACCUMULATE: S_t = max(0, S_{t-1} + (x_t − mean)).

    The recursion is not window-expressible, but its closed form is:
    S_t = C_t − min(0, min_{j≤t} C_j) with C the running sum of
    deviations (the min INCLUDES the current row — at a new running
    low the statistic resets to 0, exactly the recursion's max(0,·);
    the pure-Python recursive replay in tests pins this) — one running
    SUM plus one running MIN, both exact BIGINT (deviations are scaled
    by n: n·v − Σv avoids the mean division entirely). Alarm when S exceeds K·(n·mean) = K·Σv — scaled units
    keep the whole gate division-free. K=12 fires on real drift hours
    at every SF while most rows stay quiet (non-vacuous both ways).

    Scale shape: hourly pre-aggregation collapses the stream, then two
    window functions share ONE sort per event_type; the per-type
    scalars join broadcast. Same single-shuffle shape as q_ewma.
    """
    ev = read_table(spark, sf_dir, "events")
    b = (
        ev.select(
            "event_type",
            _epoch_hour().alias("h"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("event_type", "h")
        .agg(F.sum("c").cast("bigint").alias("v"))
    )
    st = b.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
    )
    w_sum = Window.partitionBy("event_type").orderBy("h")
    w_min = w_sum.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d = b.join(F.broadcast(st), "event_type").select(
        "event_type",
        "h",
        "v",
        "s",
        F.sum(F.col("n") * F.col("v") - F.col("s")).over(w_sum).alias("c"),
    )
    cusum = (
        F.col("c") - F.least(F.lit(0).cast("bigint"), F.min("c").over(w_min))
    ).cast("bigint")
    return d.select(
        "event_type",
        F.col("h").cast("bigint").alias("hour_epoch"),
        F.col("v").alias("v_cents"),
        cusum.alias("cusum_scaled"),
        (cusum > CUSUM_K * F.col("s")).alias("alarm"),
    )


# --- Seasonal-baseline anomaly (hour-of-day, division-free) --------------

SEASONAL_Z = 3  # flag when (n·v − S)² > Z²·(n·Q − S²)


@gate(
    "q_seasonal_anomaly",
    f"""
    WITH b AS (
      SELECT event_type,
             datediff('hour', TIMESTAMP '1970-01-01 00:00:00', ts) AS h,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type, h % 24 AS hod, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS BIGINT) AS s, CAST(SUM(v * v) AS BIGINT) AS q
      FROM b GROUP BY 1, 2
    )
    SELECT b.event_type, CAST(b.h AS BIGINT) AS hour_epoch,
           CAST(b.h % 24 AS BIGINT) AS hod, b.v AS v_cents,
           CAST((st.n * b.v - st.s) * (st.n * b.v - st.s) AS BIGINT)
             AS dev2_scaled,
           CAST({SEASONAL_Z * SEASONAL_Z} * (st.n * st.q - st.s * st.s)
                AS BIGINT) AS threshold_scaled,
           ((st.n * b.v - st.s) * (st.n * b.v - st.s)
            > {SEASONAL_Z * SEASONAL_Z} * (st.n * st.q - st.s * st.s))
             AS is_anomaly
    FROM b JOIN st
      ON b.event_type = st.event_type AND b.h % 24 = st.hod
    """,
)
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection — each hourly value scored
    against the corpus distribution of its OWN hour-of-day slot (per
    event type): the monitor that catches "3am traffic at 3pm levels"
    which both the trailing window (q_timeseries_anomaly) and the
    cumulative drift (q_cusum_changepoint) treat as normal.

    Fully DIVISION-FREE exactness: the z-score test |v−μ|/σ > Z is
    algebraically cleared to (n·v − S)² > Z²·(n·Q − S²) — four BIGINT
    cross-products and one comparison, no doubles anywhere in the
    gate (dev² ≤ 9e14, threshold ≤ 7e15 at any SF of this corpus —
    inside int64 under ANSI). Z=3 flags a handful of genuine seasonal
    outliers at every SF while 99%+ of rows stay quiet.

    Scale shape: hourly pre-aggregation, then a (type, hod) aggregate
    of 24·|types| rows that joins back BROADCAST onto the hourly
    frame. Two scans of the pre-aggregated series, zero window sorts.
    """
    ev = read_table(spark, sf_dir, "events")
    b = (
        ev.select(
            "event_type",
            _epoch_hour().alias("h"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("event_type", "h")
        .agg(F.sum("c").cast("bigint").alias("v"))
        .localCheckpoint()  # feeds the stats aggregate AND the join probe
    )
    st = b.groupBy(
        "event_type", (F.col("h") % 24).alias("hod")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("q"),
    )
    dev = F.col("n") * F.col("v") - F.col("s")
    thr = F.lit(SEASONAL_Z * SEASONAL_Z) * (
        F.col("n") * F.col("q") - F.col("s") * F.col("s")
    )
    return (
        b.withColumn("hod", (F.col("h") % 24))
        .join(F.broadcast(st), ["event_type", "hod"])
        .select(
            "event_type",
            F.col("h").cast("bigint").alias("hour_epoch"),
            F.col("hod").cast("bigint").alias("hod"),
            F.col("v").alias("v_cents"),
            (dev * dev).cast("bigint").alias("dev2_scaled"),
            thr.cast("bigint").alias("threshold_scaled"),
            (dev * dev > thr).alias("is_anomaly"),
        )
    )


# --- Gaps and islands ----------------------------------------------------


@gate(
    "q_gaps_islands",
    """
    WITH d AS (
      SELECT DISTINCT user_id,
             datediff('day', TIMESTAMP '1970-01-01 00:00:00', ts) AS day
      FROM events
    ),
    g AS (
      SELECT user_id, day,
             day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
      FROM d
    )
    SELECT user_id,
           CAST(MIN(day) AS BIGINT) AS start_day,
           CAST(MAX(day) AS BIGINT) AS end_day,
           CAST(COUNT(*) AS BIGINT) AS len_days,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY MIN(day))
                AS BIGINT) AS island_no
    FROM g GROUP BY user_id, grp
    """,
)
def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands — the canonical SQL pattern for maximal
    consecutive runs (here: each user's unbroken streaks of active
    days), via the classic value-minus-row_number grouping constant.
    Every streak/uptime/retention-run feature starts here; the repo
    already uses the trick inside the BPE merge fold, and this gate
    pins it as a first-class relational surface.

    Scale shape: a distinct projection collapses events to (user, day),
    ONE window sort per user assigns the island constant, and the
    island aggregate + numbering reuse the same user partitioning —
    a single shuffle end to end.
    """
    ev = read_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        F.floor(F.col("ts").cast("long") / 86400).cast("bigint").alias("day"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.withColumn("grp", F.col("day") - F.row_number().over(w))
    isl = g.groupBy("user_id", "grp").agg(
        F.min("day").cast("bigint").alias("start_day"),
        F.max("day").cast("bigint").alias("end_day"),
        F.count("*").cast("bigint").alias("len_days"),
    )
    w2 = Window.partitionBy("user_id").orderBy("start_day")
    return isl.select(
        "user_id",
        "start_day",
        "end_day",
        "len_days",
        F.row_number().over(w2).cast("bigint").alias("island_no"),
    )
