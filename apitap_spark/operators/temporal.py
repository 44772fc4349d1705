"""Temporal join operators: as-of (point-in-time) join.

Neither the reference's embedded DataFusion 47 nor stock Spark SQL
exposes an AS OF join (SURVEY.md §2.2 Q5 note), yet it is the bread and
butter of event attribution and feature backfill. This implements it as
a composition of built-in operators — union + ordered window with
last-ignorenulls — which is the scale-correct formulation:

* ONE shuffle, on the join key (user_id): both streams co-partition.
* Within each key, a running ``last(non-null)`` over (ts, side) order
  carries the most recent build-side row to every probe row — O(1)
  window state, no range-join blowup, no per-row probe.

DuckDB has a native ASOF JOIN, which makes a true SQL oracle for the
semantics (inclusive match: probe.ts >= build.ts, latest build wins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apitap_spark.registry import gate
from apitap_spark.session import read_table


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    probe_ts: str = "ts",
    build_ts: str = "ts",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Left as-of join: attach to each probe row the build row with the
    greatest ``build_ts <= probe_ts`` for the same ``on`` key.

    The build side must be unique per (on, build_ts) — pre-aggregate it
    if not (ASOF is otherwise ambiguous). Payload columns come back
    NULL-filled when no prior build row exists (left semantics).

    Mechanics: tag sides, union, and take ``last(struct(payload),
    ignorenulls)`` over (ts, side) within the key — side=0 (build)
    sorts before side=1 (probe) at equal timestamps, giving the
    inclusive >= match of a native ASOF join.
    """
    payload_cols = payload_cols or [
        c for c in build.columns if c not in (on, build_ts)
    ]
    b = build.select(
        F.col(on).alias("_k"),
        F.col(build_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.struct(
            F.col(build_ts).alias("_match_ts"),
            *[F.col(c) for c in payload_cols],
        ).alias("_payload"),
        *[F.lit(None).cast(probe.schema[c].dataType).alias(c) for c in probe.columns],
    )
    p = probe.select(
        F.col(on).alias("_k"),
        F.col(probe_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None)
        .cast(b.schema["_payload"].dataType)
        .alias("_payload"),
        *[F.col(c) for c in probe.columns],
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = b.unionByName(p).withColumn(
        "_m", F.last("_payload", ignorenulls=True).over(w)
    )
    return matched.filter(F.col("_side") == 1).select(
        *probe.columns,
        F.col("_m._match_ts").alias("match_ts"),
        *[F.col(f"_m.{c}").alias(c) for c in payload_cols],
    )


@gate(
    "op_asof_join_attribution",
    """
    WITH purchases AS (
      SELECT user_id, ts, MAX(value) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ),
    clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id, c.ts,
           p.ts AS match_ts, p.purchase_value
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def op_asof_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click attributed to the user's most recent prior
    (or simultaneous) purchase; clicks with no prior purchase keep NULLs.
    Oracle is DuckDB's native ASOF LEFT JOIN — the Spark side is the
    union + last-ignorenulls composition (see module docstring)."""
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join(clicks, purchases, on="user_id")


@gate(
    "op_feature_snapshot",
    """
    WITH cutoff AS (SELECT MAX(ts) AS c FROM events),
    latest AS (
      SELECT user_id,
             MAX({'ts': ts, 'event_id': event_id, 'et': event_type}) AS last_ev
      FROM events GROUP BY user_id
    )
    SELECT e.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events_total,
           CAST(SUM(CASE WHEN e.ts >= (SELECT c FROM cutoff) - INTERVAL 24 HOUR
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_events_24h,
           CAST(SUM(CASE WHEN e.ts >= (SELECT c FROM cutoff) - INTERVAL 168 HOUR
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_events_7d,
           CAST(SUM(CASE WHEN e.ts >= (SELECT c FROM cutoff) - INTERVAL 24 HOUR
                         THEN CAST(e.value AS DECIMAL(18,6)) END) AS DOUBLE)
             AS value_sum_24h,
           ROUND(CAST(date_diff('second', MAX(e.ts), (SELECT c FROM cutoff))
                      AS DOUBLE) / 3600.0, 6) AS recency_hours,
           MAX(l.last_ev).et AS last_event_type
    FROM events e JOIN latest l USING (user_id)
    GROUP BY e.user_id
    """,
)
def op_feature_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time per-user feature snapshot as of the stream head —
    the feature-store materialization pass (trailing 24h/7d activity
    counts, 24h value sum, recency, last event type) that a training
    job joins to labels without future leakage.

    One scan + one user groupBy: every trailing window is a conditional
    aggregate against the broadcast cutoff scalar (no self-join, no
    per-window pass); the value sum rides DECIMAL(18,6) so aggregation
    order cannot perturb the double output; last_event_type is the
    struct-max trick — max of (ts, event_id, type) tuples is the
    deterministic argmax with a total tie-break, identical in both
    engines. At 100 TB this is the single-shuffle shape of q1.
    """
    ev = read_table(spark, sf_dir, "events")
    cutoff = ev.agg(F.max("ts").alias("c"))
    e = ev.crossJoin(F.broadcast(cutoff))
    in_24h = F.col("ts") >= F.col("c") - F.expr("INTERVAL 24 HOURS")
    in_7d = F.col("ts") >= F.col("c") - F.expr("INTERVAL 168 HOURS")
    return e.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events_total"),
        F.sum(F.when(in_24h, 1).otherwise(0)).cast("bigint").alias("n_events_24h"),
        F.sum(F.when(in_7d, 1).otherwise(0)).cast("bigint").alias("n_events_7d"),
        F.sum(F.when(in_24h, F.col("value").cast("decimal(18,6)")))
        .cast("double")
        .alias("value_sum_24h"),
        F.round(
            (F.max("c").cast("long") - F.max("ts").cast("long")).cast("double")
            / F.lit(3600.0),
            6,
        ).alias("recency_hours"),
        F.max(F.struct("ts", "event_id", "event_type"))["event_type"].alias(
            "last_event_type"
        ),
    )


def asof_join_forward(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    probe_ts: str = "ts",
    build_ts: str = "ts",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """Forward as-of join: attach to each probe row the build row with
    the SMALLEST ``build_ts >= probe_ts`` for the same key — the
    conversion-attribution mirror of :func:`asof_join` (what happens
    NEXT rather than what happened last).

    Same union mechanics, reflected: probe rows (side 0) sort before
    build rows (side 1) at equal timestamps, and ``first(payload,
    ignorenulls)`` over [currentRow, unboundedFollowing) picks the
    earliest at-or-after build row.
    """
    payload_cols = payload_cols or [
        c for c in build.columns if c not in (on, build_ts)
    ]
    b = build.select(
        F.col(on).alias("_k"),
        F.col(build_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(
            F.col(build_ts).alias("_match_ts"),
            *[F.col(c) for c in payload_cols],
        ).alias("_payload"),
        *[F.lit(None).cast(probe.schema[c].dataType).alias(c) for c in probe.columns],
    )
    p = probe.select(
        F.col(on).alias("_k"),
        F.col(probe_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None)
        .cast(b.schema["_payload"].dataType)
        .alias("_payload"),
        *[F.col(c) for c in probe.columns],
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    matched = b.unionByName(p).withColumn(
        "_m", F.first("_payload", ignorenulls=True).over(w)
    )
    return matched.filter(F.col("_side") == 0).select(
        *probe.columns,
        F.col("_m._match_ts").alias("match_ts"),
        *[F.col(f"_m.{c}").alias(c) for c in payload_cols],
    )


@gate(
    "op_asof_join_forward",
    """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, ts, MAX(value) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id, c.ts, n.match_ts, n.purchase_value,
           CAST(date_diff('second', c.ts, n.match_ts) AS BIGINT)
             AS lag_seconds
    FROM clicks c LEFT JOIN LATERAL (
      SELECT p.ts AS match_ts, p.purchase_value
      FROM purchases p
      WHERE p.user_id = c.user_id AND p.ts >= c.ts
      ORDER BY p.ts LIMIT 1
    ) n ON TRUE
    """,
)
def op_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click attributed to the user's NEXT
    purchase at-or-after it, with the conversion lag in seconds —
    time-to-convert is the mirror question of op_asof_join_attribution
    and needs the reflected window (first-following, not
    last-preceding). Clicks that never convert keep NULLs.

    Scale shape identical to the backward as-of: one union + one
    user-keyed ordered window — a single shuffle; no join at all.
    Oracle: a LATERAL top-1 probe per click (the semantics, stated
    directly).
    """
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = asof_join_forward(clicks, purchases, on="user_id")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "match_ts",
        "purchase_value",
        (F.col("match_ts").cast("long") - F.col("ts").cast("long"))
        .cast("bigint")
        .alias("lag_seconds"),
    )


# --- L109: conversation/trace assembly (SFT-style session records) ----------

TRACE_GAP_MIN = 30  # session inactivity gap, minutes (same as q_sessionization)

_TRACE_ORACLE = f"""
    WITH gaps AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN date_diff('second',
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                       ts) > {TRACE_GAP_MIN} * 60
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    sessions AS (
      SELECT user_id, event_id, ts, event_type,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM gaps
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(COUNT(*) AS BIGINT) AS n_turns,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS trace,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_sec,
           CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BOOLEAN)
             AS has_purchase
    FROM sessions
    GROUP BY user_id, session_no
"""


@gate("op_trace_assembly", _TRACE_ORACLE)
def op_trace_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation/trace assembly: turn each gap-based user session
    into ONE ordered training record — the event sequence serialized in
    time order ('view>click>purchase'), its turn count, duration, and
    an outcome label (purchase reached). This is the agent-trace /
    SFT-conversation packing step of an LLM data pipeline: raw event
    logs in, one ordered text record per interaction episode out, ready
    for a quality filter (e.g. keep purchase-terminated traces) and the
    dataset writer.

    Ordering is total — (ts, event_id) — so the serialized trace is
    deterministic under AQE re-partitioning; the assembly is
    array_sort(collect_list(struct)) within one user-keyed shuffle (all
    windows and the rollup share it), the q_sessionization shape plus a
    per-session ordered fold. Session partitions are bounded by
    per-user activity, never corpus size.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_start = F.when(gap.isNull() | (gap > TRACE_GAP_MIN * 60), 1).otherwise(0)
    sessions = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum(is_start)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("session_no"),
    )
    # order by MICROsecond timestamp: the oracle's ORDER BY ts compares
    # full precision, and second-floored keys could invert sub-second ties
    turn = F.struct(F.unix_micros("ts").alias("t"), "event_id", "event_type")
    return sessions.groupBy("user_id", "session_no").agg(
        F.count("*").cast("bigint").alias("n_turns"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(turn)), lambda s: s["event_type"]
            ),
            ">",
        ).alias("trace"),
        (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long")))
        .cast("bigint")
        .alias("duration_sec"),
        F.max((F.col("event_type") == "purchase").cast("int"))
        .cast("boolean")
        .alias("has_purchase"),
    )


# --- First-order Markov journey model ------------------------------------

_MARKOV_ORACLE = """
    WITH seq AS (
      SELECT user_id, event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id)
               AS to_type
      FROM events
    ),
    trans AS (
      SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM trans GROUP BY 1
    )
    SELECT t.from_type, t.to_type, t.n, o.n_from,
           CAST(FLOOR(1000000.0 * CAST(t.n AS DOUBLE)
                      / CAST(o.n_from AS DOUBLE)) AS BIGINT) AS prob_micro,
           CAST(ROW_NUMBER() OVER (PARTITION BY t.from_type
                                   ORDER BY t.n DESC, t.to_type)
                AS BIGINT) AS rk
    FROM trans t JOIN tot o USING (from_type)
"""


@gate("op_markov_transitions", _MARKOV_ORACLE)
def op_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov model of user journeys — the event-type
    transition matrix behind next-action prediction, funnel-dropout
    diagnosis, and journey simulation: consecutive event pairs per
    user (micro-precision ordering with event_id tiebreak — the
    op_trace_assembly convention), row-normalized to transition
    probabilities in exact micro units, ranked per source state.

    Scale shape: ONE window sort per user computes successors (the
    sessionization partitioning, reused); the transition matrix is
    |states|² — the groupBy collapses the stream to a broadcast-sized
    frame and every later join is on that tiny matrix.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    trans = (
        seq.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    tot = trans.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("n_from")
    )
    w_rk = Window.partitionBy("from_type").orderBy(
        F.desc("n"), F.asc("to_type")
    )
    return (
        trans.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            "n_from",
            F.floor(
                F.lit(1000000.0)
                * F.col("n").cast("double")
                / F.col("n_from").cast("double")
            )
            .cast("bigint")
            .alias("prob_micro"),
            F.row_number().over(w_rk).cast("bigint").alias("rk"),
        )
    )


# --- Top-K user journey paths --------------------------------------------

PATH_MAX_EVENTS = 8
PATH_TOP_K = 10

_PATHS_ORACLE = f"""
    WITH ranked AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rk
      FROM events
    ),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rk) AS path
      FROM ranked WHERE rk <= {PATH_MAX_EVENTS} GROUP BY user_id
    ),
    counted AS (
      SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users FROM paths GROUP BY 1
    )
    SELECT path, n_users, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY n_users DESC, path) AS rk
      FROM counted
    ) WHERE rk <= {PATH_TOP_K}
"""


@gate("op_journey_paths", _PATHS_ORACLE)
def op_journey_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K user journey paths — the full-sequence complement to
    op_markov_transitions' one-step matrix: each user's first
    PATH_MAX_EVENTS event types joined in time order (micro-precision
    + event_id tiebreak) into a path string, counted across users,
    top-K reported. This is the journey-mining table behind "most
    common first sessions" product dashboards.

    Scale shape: one window sort per user (WindowGroupLimit prunes at
    rk <= PATH_MAX_EVENTS before the aggregation), an ordered
    array_sort fold per user — NOT collect_list order (never
    guaranteed under AQE) — and a path-cardinality count; the top-K is
    TakeOrdered on the counted frame.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    ranked = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rk"),
    ).filter(F.col("rk") <= PATH_MAX_EVENTS)
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rk", "event_type"))),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    topk = counted.orderBy(F.desc("n_users"), F.asc("path")).limit(PATH_TOP_K)
    w_rk = Window.orderBy(F.desc("n_users"), F.asc("path"))
    return topk.withColumn("rk", F.row_number().over(w_rk).cast("bigint"))


# --- Leakage-free churn label construction -------------------------------

CHURN_HORIZON_DAYS = 3

_CHURN_ORACLE = f"""
    WITH d AS (
      SELECT user_id, event_type,
             datediff('day', TIMESTAMP '1970-01-01 00:00:00', ts) AS day
      FROM events
    ),
    mx AS (SELECT MAX(day) AS maxd FROM d),
    before AS (
      SELECT user_id, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_before,
             CAST(MAX(day) AS BIGINT) AS last_day,
             CAST(MAX(maxd) - {CHURN_HORIZON_DAYS} AS BIGINT) AS cutoff_day
      FROM d CROSS JOIN mx
      WHERE day <= maxd - {CHURN_HORIZON_DAYS}
      GROUP BY 1, 2
    ),
    after AS (
      SELECT DISTINCT user_id, event_type
      FROM d CROSS JOIN mx WHERE day > maxd - {CHURN_HORIZON_DAYS}
    )
    SELECT b.user_id, b.event_type, b.n_before,
           b.cutoff_day - b.last_day AS recency_days,
           (a.user_id IS NULL) AS churned
    FROM before b
    LEFT JOIN after a
      ON a.user_id = b.user_id AND a.event_type = b.event_type
"""


@gate("op_churn_labels", _CHURN_ORACLE)
def op_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free churn label construction — the supervised-label
    side of op_feature_snapshot's point-in-time features: per
    (user, activity type), features come ONLY from events at or before
    the cutoff (corpus max day minus the horizon) and the label ONLY
    from events after it (churned = no such activity in the horizon
    window). Per-activity grain because this corpus's users are active
    daily overall — type-level lapse is where the real signal lives
    (both label classes present at every SF; whole-user churn is
    vacuously zero here and the docstring says so).

    Scale shape: one projection to (user, type, day), a broadcast
    scalar max, one aggregate per side of the cutoff, and a broadcast
    left join of the tiny after-set — the label table costs two
    passes over the pre-projected frame.
    """
    ev = read_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        "event_type",
        F.floor(F.col("ts").cast("long") / 86400).cast("bigint").alias("day"),
    )
    mx = d.agg(F.max("day").alias("maxd"))
    dd = d.crossJoin(F.broadcast(mx))
    cut = F.col("maxd") - CHURN_HORIZON_DAYS
    before = (
        dd.filter(F.col("day") <= cut)
        .groupBy("user_id", "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_before"),
            F.max("day").cast("bigint").alias("last_day"),
            (F.max("maxd") - CHURN_HORIZON_DAYS).cast("bigint").alias(
                "cutoff_day"
            ),
        )
    )
    after = (
        dd.filter(F.col("day") > cut)
        .select("user_id", "event_type")
        .distinct()
        .withColumn("seen_after", F.lit(1))
    )
    return (
        before.join(F.broadcast(after), ["user_id", "event_type"], "left")
        .select(
            "user_id",
            "event_type",
            "n_before",
            (F.col("cutoff_day") - F.col("last_day")).alias("recency_days"),
            F.col("seen_after").isNull().alias("churned"),
        )
    )


# --- Nearest as-of join (third leg of the as-of family) ------------------

_NEAREST_ORACLE = """
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, ts, MAX(value) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id, c.ts, n.match_ts, n.purchase_value,
           n.delta_micros, n.direction
    FROM clicks c LEFT JOIN LATERAL (
      SELECT p.ts AS match_ts, p.purchase_value,
             CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS delta_micros,
             CASE WHEN p.ts <= c.ts THEN 'backward' ELSE 'forward' END
               AS direction
      FROM purchases p WHERE p.user_id = c.user_id
      ORDER BY ABS(epoch_us(p.ts) - epoch_us(c.ts)), epoch_us(p.ts)
      LIMIT 1
    ) n ON TRUE
"""


@gate("op_asof_join_nearest", _NEAREST_ORACLE)
def op_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join — the third leg of the as-of family
    (backward = op_asof_join_attribution, forward =
    op_asof_join_forward): each click matched to the user's CLOSEST
    purchase in either direction, with the signed micro-second delta
    and the direction label; exact-distance ties resolve backward
    (the earlier event — same rule the oracle states as ORDER BY
    |Δ|, ts).

    Mechanics: ONE backward pass + ONE forward pass (each the
    union-sort window, no join), then a row-local argmin of the two
    candidate deltas — nearest semantics without any |Δ|-bounded
    band join. Micro-precision timestamps throughout (events carry
    sub-second ts; second-floored deltas would alias the tiebreak).

    Scale: two user-keyed window sorts — the same single-shuffle shape
    as each one-sided as-of; the combine step is a projection.
    """
    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    back = asof_join(clicks, purchases, on="user_id").select(
        "event_id",
        F.col("match_ts").alias("b_ts"),
        F.col("purchase_value").alias("b_val"),
    )
    fwd = asof_join_forward(clicks, purchases, on="user_id").select(
        "event_id",
        F.col("match_ts").alias("f_ts"),
        F.col("purchase_value").alias("f_val"),
    )
    both = clicks.join(back, "event_id").join(fwd, "event_id")
    d_b = F.unix_micros("ts") - F.unix_micros("b_ts")  # >= 0
    d_f = F.unix_micros("f_ts") - F.unix_micros("ts")  # >= 0
    take_back = F.col("b_ts").isNotNull() & (
        F.col("f_ts").isNull() | (d_b <= d_f)
    )
    match_ts = F.when(take_back, F.col("b_ts")).otherwise(F.col("f_ts"))
    value = F.when(take_back, F.col("b_val")).otherwise(F.col("f_val"))
    return both.select(
        "event_id",
        "user_id",
        "ts",
        match_ts.alias("match_ts"),
        value.alias("purchase_value"),
        (F.unix_micros(match_ts) - F.unix_micros("ts"))
        .cast("bigint")
        .alias("delta_micros"),
        F.when(match_ts.isNull(), F.lit(None).cast("string"))
        .when(match_ts <= F.col("ts"), "backward")
        .otherwise("forward")
        .alias("direction"),
    )


# --- Interval union (merge overlapping windows, exact coverage) ----------

IU_PAD_SEC = 3600  # incident window: error ts +/- 1 hour


_INTERVAL_UNION_ORACLE = f"""
    WITH e AS (
      SELECT user_id,
             epoch_us(ts) - CAST({IU_PAD_SEC} AS BIGINT) * 1000000 AS s,
             epoch_us(ts) + CAST({IU_PAD_SEC} AS BIGINT) * 1000000 AS t,
             event_id
      FROM events WHERE event_type = 'error'
    ),
    m AS (
      SELECT user_id, s, t,
             MAX(t) OVER (PARTITION BY user_id ORDER BY s, t, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max
      FROM e
    ),
    f AS (
      SELECT user_id, s, t,
             CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END
               AS is_new
      FROM m
    ),
    isl AS (
      SELECT user_id, s, t,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, t
                               ROWS UNBOUNDED PRECEDING) AS island
      FROM f
    ),
    per_island AS (
      SELECT user_id, island, MIN(s) AS i_start, MAX(t) AS i_end,
             CAST(COUNT(*) AS BIGINT) AS n_windows
      FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(SUM(n_windows) AS BIGINT) AS n_windows,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(i_end - i_start) AS BIGINT) AS covered_us,
           CAST(SUM(i_end - i_start) // 1000000 AS BIGINT) AS covered_seconds
    FROM per_island GROUP BY user_id
"""


@gate("op_interval_union_coverage", _INTERVAL_UNION_ORACLE)
def op_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union — merge overlapping windows and measure exact
    covered time (the sweep the incident-overlap join and gaps-and-
    islands both stop short of): each user's ±1 h error windows merge
    into maximal islands via the classic running-max-of-end sweep
    (new island ⇔ start > max end of all earlier intervals), and the
    union length is Σ (island_end − island_start) in exact epoch
    seconds. The building block for downtime accounting, dedup of
    padded retrieval windows, and billing coverage.

    Scale shape: one window pass partitioned by the entity key (two
    frames over the same sort), then a two-level aggregate — per-key
    interval counts bound the partition size, no global sort. Integer
    epoch arithmetic end to end.
    """
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "error"
    )
    e = ev.select(
        "user_id",
        (F.unix_micros("ts") - IU_PAD_SEC * 1_000_000).alias("s"),
        (F.unix_micros("ts") + IU_PAD_SEC * 1_000_000).alias("t"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "t", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    f = e.select(
        "user_id",
        "s",
        "t",
        F.when(
            F.max("t").over(w_prev).isNull()
            | (F.col("s") > F.max("t").over(w_prev)),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = f.withColumn("island", F.sum("is_new").over(w_run))
    per_island = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("i_start"),
        F.max("t").alias("i_end"),
        F.count("*").cast("bigint").alias("n_windows"),
    )
    return per_island.groupBy("user_id").agg(
        F.sum("n_windows").cast("bigint").alias("n_windows"),
        F.count("*").cast("bigint").alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start"))
        .cast("bigint")
        .alias("covered_us"),
        F.expr("sum(i_end - i_start) div 1000000L")
        .cast("bigint")
        .alias("covered_seconds"),
    )


# --- Kaplan-Meier survival over user lifetimes ------------------------------

KM_CENSOR_GAP_DAYS = 3  # users active within this window of corpus end


def _km_oracle() -> str:
    return f"""
    WITH RECURSIVE span AS (
      SELECT CAST(MAX(epoch(ts)) AS BIGINT) AS tmax FROM events
    ),
    per_user AS (
      SELECT event_type,
             CAST((CAST(MAX(epoch(ts)) AS BIGINT)
                   - CAST(MIN(epoch(ts)) AS BIGINT)) // 86400 AS BIGINT)
               AS life,
             CASE WHEN (SELECT tmax FROM span)
                       - CAST(MAX(epoch(ts)) AS BIGINT)
                       < {KM_CENSOR_GAP_DAYS} * 86400
                  THEN 1 ELSE 0 END AS censored
      FROM events GROUP BY event_type, user_id
    ),
    steps0 AS (
      SELECT event_type, life,
             CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(1 - censored) AS BIGINT) AS d,
             CAST(SUM(censored) AS BIGINT) AS c
      FROM per_user GROUP BY event_type, life
    ),
    steps AS (
      SELECT event_type, life, m, d, c,
             CAST(SUM(m) OVER (PARTITION BY event_type) -
                  (SUM(m) OVER (PARTITION BY event_type ORDER BY life
                                ROWS UNBOUNDED PRECEDING) - m) AS BIGINT)
               AS n_risk,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY life)
                  AS BIGINT) AS rk
      FROM steps0
    ),
    km AS (
      SELECT event_type, CAST(0 AS BIGINT) AS rk,
             CAST(1000000 AS BIGINT) AS s
      FROM (SELECT DISTINCT event_type FROM steps)
      UNION ALL
      SELECT st.event_type, st.rk, km.s * (st.n_risk - st.d) // st.n_risk
      FROM km JOIN steps st
        ON st.event_type = km.event_type AND st.rk = km.rk + 1
    )
    SELECT st.event_type, st.life AS lifetime_days, st.n_risk,
           st.d AS n_deaths, st.c AS n_censored,
           km.s AS survival_micro
    FROM steps st JOIN km ON km.event_type = st.event_type AND km.rk = st.rk
    """


@gate("op_survival_km", _km_oracle())
def op_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetimes per event type
    (Kaplan & Meier 1958) — the retention/longevity estimate that
    handles RIGHT-CENSORING correctly: users still active near the
    corpus end (last event within {KM_CENSOR_GAP_DAYS} days of the
    global max) leave the risk set without counting as churned, the
    error naive retention curves make.

    Determinism recipe (pagerank family): the survival product floors
    to integer micros at EVERY step — s_k = s_(k-1)·(n_k−d_k) div n_k,
    all non-negative bigints — so the DuckDB recursive CTE replays the
    fold exactly. The exact-rational alternative (Πnum/Πden) overflows
    int64 by step ~10; the step-floored fixed point is the house trade.
    Headroom: s ≤ 1e6, n ≤ users-per-type ⇒ s·n < 1e6·n — int64-safe
    to 10^12 users per type.

    Scale shape: one (event_type, user) aggregate over the events scan;
    steps are (type × ≤31 distinct day-lifetimes) — the risk-set window
    and the collect_list/fold both run on that TINY frame (the fold is
    a JVM `aggregate` HOF over ≤31 structs per type, no Python, no
    driver loop); explode restores per-step rows.
    """
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type", "user_id", F.col("ts").cast("long").alias("e")
    )
    tmax = base.agg(F.max("e").cast("bigint").alias("tmax"))
    per_user = (
        base.groupBy("event_type", "user_id")
        .agg(
            F.min("e").cast("bigint").alias("e_min"),
            F.max("e").cast("bigint").alias("e_max"),
        )
        .crossJoin(F.broadcast(tmax))
        .select(
            "event_type",
            F.expr("(e_max - e_min) div 86400").cast("bigint").alias("life"),
            (
                F.col("tmax") - F.col("e_max")
                < KM_CENSOR_GAP_DAYS * 86400
            )
            .cast("bigint")
            .alias("censored"),
        )
    )
    steps0 = per_user.groupBy("event_type", "life").agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum(1 - F.col("censored")).cast("bigint").alias("d"),
        F.sum("censored").cast("bigint").alias("c"),
    )
    w_type = Window.partitionBy("event_type")
    w_cum = w_type.orderBy("life").rowsBetween(Window.unboundedPreceding, 0)
    steps = steps0.select(
        "event_type",
        "life",
        "m",
        "d",
        "c",
        (
            F.sum("m").over(w_type)
            - (F.sum("m").over(w_cum) - F.col("m"))
        )
        .cast("bigint")
        .alias("n_risk"),
    )
    # fold the survival product per event type over the life-sorted step
    # array: struct field order (life first) makes array_sort chronological
    folded = steps.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.struct("life", "d", "c", "n_risk"))
        ).alias("st")
    ).select(
        "event_type",
        F.expr(
            "arrays_zip(st, slice(aggregate(st,"
            " array(cast(1000000 as bigint)),"
            " (acc, x) -> concat(acc, array("
            "   element_at(acc, -1) * (x.n_risk - x.d) div x.n_risk))),"
            " 2, size(st)))"
        ).alias("z"),
    )
    row = F.explode("z").alias("r")
    out = folded.select("event_type", row)
    return out.select(
        "event_type",
        F.col("r.st.life").cast("bigint").alias("lifetime_days"),
        F.col("r.st.n_risk").cast("bigint").alias("n_risk"),
        F.col("r.st.d").cast("bigint").alias("n_deaths"),
        F.col("r.st.c").cast("bigint").alias("n_censored"),
        F.col("r.1").cast("bigint").alias("survival_micro"),
    )


# --- Hour-of-day seasonality profile + uniformity chi² -------------------

_SEASONALITY_ORACLE = """
    WITH es AS (
      -- FLOOR division: DuckDB's integer // truncates toward zero, so
      -- subtract 1 when the remainder is negative (pre-1970 fractional
      -- seconds) to match Spark's flooring CAST(ts AS LONG)
      SELECT event_type,
             epoch_us(ts) // 1000000
               - CASE WHEN epoch_us(ts) % 1000000 < 0 THEN 1 ELSE 0 END
               AS es
      FROM events
    ),
    b AS (
      SELECT event_type,
             ((es // 3600 - CASE WHEN es % 3600 < 0 THEN 1 ELSE 0 END)
                % 24 + 24) % 24 AS h,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM es GROUP BY 1, 2
    ),
    prof AS (
      SELECT event_type,
             CAST(SUM(o) AS BIGINT) AS n_events,
             CAST(COUNT(*) AS BIGINT) AS n_hours,
             CAST(SUM(o * o) AS BIGINT) AS so2
      FROM b GROUP BY 1
    ),
    pk AS (
      SELECT event_type, h, o FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY event_type ORDER BY o DESC, h) AS rk
        FROM b
      ) WHERE rk = 1
    )
    SELECT p.event_type, p.n_events, p.n_hours,
           CAST(k.h AS BIGINT) AS peak_hour,
           CAST(k.o * 1000000 // p.n_events AS BIGINT) AS peak_share_micro,
           CAST((24 * p.so2 - p.n_events * p.n_events) // p.n_events
                  * 1000000
                + (24 * p.so2 - p.n_events * p.n_events) % p.n_events
                  * 1000000 // p.n_events
                AS BIGINT) AS chi2_uniform_micro
    FROM prof p JOIN pk k USING (event_type)
"""


@gate("op_event_seasonality", _SEASONALITY_ORACLE)
def op_event_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event type: the 24-bin UTC
    load histogram summarized as peak hour / peak share plus Pearson's
    chi-square against the uniform profile — the statistic an
    experimentation or capacity-planning pass reads before trusting a
    time-windowed A/B split (a strongly diurnal event type makes
    hour-confounded variants incomparable) or sizing an ingest fleet.

    Hours are pure epoch arithmetic (floor(epoch_sec / 3600) mod 24,
    floor-division on BOTH engines — Spark's truncating div and
    DuckDB's truncating // each get a negative-remainder correction so
    pre-1970 timestamps bucket identically), never tz-dependent
    EXTRACT.  The chi² statistic
    collapses algebraically to (24·Σo² − n²)/n — exact integers until
    ONE divide-before-scale fixed-point division (quotient·1e6 +
    remainder·1e6 div n, the conformal-gate pattern), so no float
    enters either engine.  Int64 bound: 24·Σo² needs Σo² < 3.8e17 —
    holds to ~6·10⁸ events per type; past that, shard the audit by
    time window (the windows are independent profiles).

    Scale shape: one map-side-combined (type, hour) aggregate over the
    events scan, then all statistics on the ≤ 24·|types| bin frame —
    the peak window and the final join run on broadcast-sized data at
    any corpus size.
    """
    ev = read_table(spark, sf_dir, "events")
    # pmod + floor-corrected div so pre-1970 timestamps land in the
    # true containing hour (Spark div truncates; CAST(ts AS LONG)
    # already floors) — mirrors the oracle's CASE-corrected // exactly
    # (ADVICE r8 #5)
    bins = (
        ev.select(
            "event_type",
            F.expr(
                "pmod(CAST(ts AS LONG) div 3600"
                " - (CASE WHEN CAST(ts AS LONG) % 3600 < 0"
                "    THEN 1 ELSE 0 END), 24)"
            ).cast("int").alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").cast("bigint").alias("o"))
    )
    w_pk = Window.partitionBy("event_type").orderBy(F.desc("o"), F.asc("h"))
    pk = (
        bins.withColumn("rk", F.row_number().over(w_pk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("h").cast("bigint").alias("peak_hour"),
            F.col("o").alias("peak_o"),
        )
    )
    prof = bins.groupBy("event_type").agg(
        F.sum("o").cast("bigint").alias("n_events"),
        F.count("*").cast("bigint").alias("n_hours"),
        F.sum(F.col("o") * F.col("o")).cast("bigint").alias("so2"),
    )
    return prof.join(F.broadcast(pk), "event_type").select(
        "event_type",
        "n_events",
        "n_hours",
        "peak_hour",
        F.expr("peak_o * 1000000L div n_events")
        .cast("bigint")
        .alias("peak_share_micro"),
        F.expr(
            "(24 * so2 - n_events * n_events) div n_events * 1000000L"
            " + (24 * so2 - n_events * n_events) % n_events"
            "   * 1000000L div n_events"
        )
        .cast("bigint")
        .alias("chi2_uniform_micro"),
    )


# --- Inter-event gap quantiles (sessionization-threshold tuning) ---------

_GAP_QUANTILES_ORACLE = """
    WITH e AS (
      -- floor-corrected //: matches Spark's flooring CAST(ts AS LONG)
      -- for pre-1970 fractional seconds (DuckDB // truncates)
      SELECT event_type, user_id,
             epoch_us(ts) // 1000000
               - CASE WHEN epoch_us(ts) % 1000000 < 0 THEN 1 ELSE 0 END
               AS es,
             event_id
      FROM events
    ),
    gaps AS (
      SELECT event_type,
             es - LAG(es) OVER (PARTITION BY event_type, user_id
                                ORDER BY es, event_id) AS g
      FROM e
    ),
    ranked AS (
      SELECT event_type, g,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY g) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM gaps WHERE g IS NOT NULL
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_gaps,
           CAST(MAX(CASE WHEN rk = (n + 1) // 2 THEN g END) AS BIGINT)
             AS p50_sec,
           CAST(MAX(CASE WHEN rk = (9 * n + 9) // 10 THEN g END) AS BIGINT)
             AS p90_sec,
           CAST(MAX(g) AS BIGINT) AS max_sec
    FROM ranked GROUP BY event_type
"""


@gate("op_event_gap_quantiles", _GAP_QUANTILES_ORACLE)
def op_event_gap_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap quantiles per event type (p50 / p90 / max of the
    per-user consecutive-event gap in whole seconds) — the measurement
    a sessionization pass reads BEFORE fixing its inactivity threshold
    (q_sessionization hard-codes one; this gate is where that number
    comes from: the threshold should sit in the p90..max valley between
    within-session and between-session gaps).

    Exactness: gaps are epoch-second differences (Spark's flooring
    CAST(ts AS LONG) vs DuckDB's floor-corrected epoch_us//1e6 — both
    floor, so pre-1970 fractional seconds agree); quantiles are exact
    order statistics (lower-median (n+1) div 2, ceil-p90 (9n+9) div 10)
    — a duplicate gap VALUE at the boundary rank is deterministic
    regardless of tie order, so no tiebreak column is needed.

    Scale shape: one lag window per (type, user) partition over the
    events scan, then one rank window per type over the GAP rows.  The
    per-type global sort is the cost of exact quantiles — run per time
    window at 100 TB (each window is an independent tuning input), or
    swap in approx_percentile when ±1% suffices; this gate is the
    exact-tuning variant.
    """
    ev = read_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type", "user_id",
        F.col("ts").cast("long").alias("es"), "event_id",
    )
    w_lag = Window.partitionBy("event_type", "user_id").orderBy(
        "es", "event_id"
    )
    gaps = e.select(
        "event_type",
        (F.col("es") - F.lag("es").over(w_lag)).alias("g"),
    ).filter(F.col("g").isNotNull())
    w_rk = Window.partitionBy("event_type").orderBy("g")
    w_n = Window.partitionBy("event_type")
    ranked = gaps.select(
        "event_type",
        "g",
        F.row_number().over(w_rk).alias("rk"),
        F.count("*").over(w_n).alias("n"),
    )
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_gaps"),
        F.max(
            F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("g"))
        ).cast("bigint").alias("p50_sec"),
        F.max(
            F.when(F.col("rk") == F.expr("(9 * n + 9) div 10"), F.col("g"))
        ).cast("bigint").alias("p90_sec"),
        F.max("g").cast("bigint").alias("max_sec"),
    )


# --- Event-rate burstiness (Fano factor over hourly buckets) -------------

_BURSTINESS_ORACLE = """
    WITH es AS (
      SELECT event_type,
             epoch_us(ts) // 1000000
               - CASE WHEN epoch_us(ts) % 1000000 < 0 THEN 1 ELSE 0 END
               AS es
      FROM events
    ),
    hb AS (
      SELECT event_type,
             es // 3600 - CASE WHEN es % 3600 < 0 THEN 1 ELSE 0 END AS h,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM es GROUP BY 1, 2
    ),
    agg AS (
      SELECT event_type,
             CAST(MAX(h) - MIN(h) + 1 AS BIGINT) AS n_hours_span,
             CAST(COUNT(*) AS BIGINT) AS occupied_hours,
             CAST(SUM(x) AS BIGINT) AS n_events,
             CAST(SUM(x * x) AS BIGINT) AS sx2
      FROM hb GROUP BY 1
    )
    SELECT event_type, n_hours_span, occupied_hours, n_events,
           CAST((n_hours_span * sx2 - n_events * n_events)
                  // (n_hours_span * n_events) * 1000000
                + (n_hours_span * sx2 - n_events * n_events)
                  % (n_hours_span * n_events)
                  * 1000000 // (n_hours_span * n_events)
                AS BIGINT) AS fano_micro
    FROM agg
"""


@gate("op_event_burstiness", _BURSTINESS_ORACLE)
def op_event_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio) of the per-hour event count
    per event type, empty hours inside the observed span counted as
    zero — the dispersion statistic that separates Poisson-like arrival
    (fano ≈ 1e6 micro) from bursty traffic (≫ 1e6) and from
    metronomic/batched feeds (≪ 1e6). The capacity-planning complement
    of op_event_seasonality: that gate asks WHICH hours load, this one
    asks how VIOLENTLY the load swings — the input to queue sizing and
    to rate-anomaly alert thresholds.

    Exactness: over n span-hours with per-hour counts x (zeros
    included), Var/Mean collapses to (n·Σx² − S²)/(n·S) — empty hours
    contribute nothing to Σx² and S, so only occupied buckets are ever
    materialized. Integers until the one divide-before-scale micro
    division; n·Σx² ≥ S² by Cauchy-Schwarz keeps everything
    non-negative (truncating div == floor on both engines). Int64:
    num ≤ n·S² needs span·events² < 9.2e18, i.e. ~1e6
    events/type over a year of hours; past that shard by time window
    (Fano composes per window for the alerting use case anyway).
    Hour buckets reuse the floor-corrected epoch convention
    (op_event_seasonality), so pre-1970 data buckets identically.

    Scale shape: one map-side-combined (type, hour) count over the
    events scan, then per-type scalars on the bucket frame — identical
    partitioning to the seasonality gate; at 100 TB both share one
    shuffle if computed in the same pass.
    """
    ev = read_table(spark, sf_dir, "events")
    hb = (
        ev.select(
            "event_type",
            F.expr(
                "CAST(ts AS LONG) div 3600"
                " - (CASE WHEN CAST(ts AS LONG) % 3600 < 0"
                "    THEN 1 ELSE 0 END)"
            ).alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    agg = hb.groupBy("event_type").agg(
        (F.max("h") - F.min("h") + 1).cast("bigint").alias("n_hours_span"),
        F.count("*").cast("bigint").alias("occupied_hours"),
        F.sum("x").cast("bigint").alias("n_events"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sx2"),
    )
    return agg.select(
        "event_type",
        "n_hours_span",
        "occupied_hours",
        "n_events",
        F.expr(
            "(n_hours_span * sx2 - n_events * n_events)"
            " div (n_hours_span * n_events) * 1000000L"
            " + (n_hours_span * sx2 - n_events * n_events)"
            "   % (n_hours_span * n_events)"
            "   * 1000000L div (n_hours_span * n_events)"
        )
        .cast("bigint")
        .alias("fano_micro"),
    )


# --- Markov stationarity drift (round 10) ----------------------------------

# Epoch-micros boundary splitting the synthetic corpus's January 2024
# span at mid-month: 2024-01-16T00:00:00Z. A fixed integer (not a
# timestamp literal) so the split is identical under ANY session or
# server timezone — the epoch-floor convention of the seasonality
# gates.
_DRIFT_SPLIT_US = 1_705_363_200_000_000

_MARKOV_DRIFT_ORACLE = f"""
    WITH seq AS (
      SELECT user_id, event_type, epoch_us(ts) AS us,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS prev_type
      FROM events
    ),
    tr AS (
      SELECT CASE WHEN us < {_DRIFT_SPLIT_US} THEN 1 ELSE 2 END AS period,
             prev_type AS from_type, event_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2, 3
    ),
    ft AS (
      SELECT period, from_type, CAST(SUM(n) AS BIGINT) AS tot
      FROM tr GROUP BY 1, 2
    ),
    probs AS (
      SELECT tr.period, tr.from_type, tr.to_type,
             CAST(tr.n * 1000000 // ft.tot AS BIGINT) AS p
      FROM tr JOIN ft USING (period, from_type)
    ),
    cells AS (
      SELECT from_type, to_type,
             CAST(COALESCE(SUM(CASE WHEN period = 1 THEN p END), 0)
                  AS BIGINT) AS p1,
             CAST(COALESCE(SUM(CASE WHEN period = 2 THEN p END), 0)
                  AS BIGINT) AS p2
      FROM probs GROUP BY 1, 2
    ),
    halves AS (
      SELECT a.from_type, a.tot AS pairs_h1, b.tot AS pairs_h2
      FROM ft a JOIN ft b
        ON a.from_type = b.from_type AND a.period = 1 AND b.period = 2
    )
    SELECT c.from_type, halves.pairs_h1, halves.pairs_h2,
           CAST(SUM(ABS(c.p1 - c.p2)) AS BIGINT) AS l1_micro
    FROM cells c JOIN halves USING (from_type)
    GROUP BY 1, 2, 3
"""


@gate("op_markov_stationarity_drift", _MARKOV_DRIFT_ORACLE)
def op_markov_stationarity_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-stationarity audit of user-journey dynamics: the L1 distance
    between each from-state's transition-probability row computed on
    the first half of the time range vs the second half. A stationary
    process drifts only by sampling noise; a large ``l1_micro`` on a
    from-state flags regime change (product launch, bot wave,
    instrumentation break) — the check a sequence-model pipeline runs
    before treating history as one training distribution. Distinct
    from ``op_markov_transitions`` (the matrix itself) and
    ``op_drift_wasserstein`` (length distribution per source): this
    measures drift of the *dynamics* over *time*.

    Exactness: counts are int64; each cell probability is one
    fixed-point floor division (non-negative — Spark ``div`` == DuckDB
    ``//``); the L1 sum is an integer sum of absolute differences of
    those micros. The half-split compares epoch MICROS against a fixed
    integer boundary, so no timestamp literal ever parses under a
    session timezone. From-states are emitted only when they transition
    in BOTH halves (the inner ``both`` join) — a one-sided row has no
    second distribution to compare against.

    Scale shape: ONE user-keyed shuffle for the lag window (the
    sessionization partitioning), then (period, from, to)-keyed
    map-side-combined counts — 2·|types|² cells, so everything past
    the window is dims-sized and the later joins broadcast. The events
    table is read once.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    seq = ev.select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    tr = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.when(F.col("us") < F.lit(_DRIFT_SPLIT_US), F.lit(1))
            .otherwise(F.lit(2))
            .alias("period"),
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    ft = tr.groupBy("period", "from_type").agg(
        F.sum("n").cast("bigint").alias("tot")
    )
    probs = tr.join(F.broadcast(ft), ["period", "from_type"]).select(
        "period",
        "from_type",
        "to_type",
        F.expr("n * 1000000L div tot").cast("bigint").alias("p"),
    )
    cells = probs.groupBy("from_type", "to_type").agg(
        F.coalesce(
            F.sum(F.when(F.col("period") == 1, F.col("p"))), F.lit(0)
        )
        .cast("bigint")
        .alias("p1"),
        F.coalesce(
            F.sum(F.when(F.col("period") == 2, F.col("p"))), F.lit(0)
        )
        .cast("bigint")
        .alias("p2"),
    )
    both = (
        ft.filter(F.col("period") == 1)
        .select("from_type", F.col("tot").alias("pairs_h1"))
        .join(
            ft.filter(F.col("period") == 2).select(
                "from_type", F.col("tot").alias("pairs_h2")
            ),
            "from_type",
        )
    )
    return (
        cells.groupBy("from_type")
        .agg(
            F.sum(F.abs(F.col("p1") - F.col("p2")))
            .cast("bigint")
            .alias("l1_micro")
        )
        .join(F.broadcast(both), "from_type")
        .select("from_type", "pairs_h1", "pairs_h2", "l1_micro")
    )
