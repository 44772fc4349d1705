"""Training-feature engineering operators: target encoding and
resampling-based uncertainty (Poisson bootstrap).

Both are staples of the feature/eval layer of a training-data pipeline
(the reference stops at transform+load — `/root/reference/README.md`
roadmap's "transformations" line — so these extend the beyond-reference
L-family): leave-one-out target encoding turns a categorical column
into a leakage-safe numeric feature, and the deterministic Poisson
bootstrap puts an exact, replayable confidence band on a per-group
mean without a second pass over the data.

Exactness discipline (the repo-wide fixed-point rules): targets are
micro/cent integers from ONE rounding, every sum is an int64, every
division happens once at the end in an identical left-associated IEEE
chain in both engines, and the bootstrap's randomness is the shared
60-bit md5 hash (`conv(substr(md5(x),1,15),16,10)` == DuckDB
`CAST('0x' || ...)`), so the DuckDB oracles are hash-exact replays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apitap_spark.registry import gate
from apitap_spark.session import read_table


# --- Leave-one-out target encoding ---------------------------------------

TE_SMOOTH_M = 20  # pseudo-count weight of the global prior

_TE_ORACLE = f"""
    WITH y AS (
      SELECT o_orderkey, o_orderpriority AS cat,
             CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS y_cents
      FROM orders
    ),
    per_cat AS (
      SELECT cat, CAST(COUNT(*) AS BIGINT) AS n_cat,
             CAST(SUM(y_cents) AS BIGINT) AS s_cat
      FROM y GROUP BY cat
    ),
    gl AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(SUM(y_cents) AS BIGINT) AS g_all
      FROM y
    )
    SELECT y.o_orderkey, y.cat, y.y_cents, p.n_cat,
           CASE WHEN p.n_cat > 1 THEN
             CAST(FLOOR(1000000.0 * CAST(p.s_cat - y.y_cents AS DOUBLE)
                        / CAST(p.n_cat - 1 AS DOUBLE)) AS BIGINT)
           END AS loo_micro,
           CAST(FLOOR(1000000.0
                      * (CAST(p.s_cat - y.y_cents AS DOUBLE)
                         + {TE_SMOOTH_M}.0 * (CAST(g.g_all AS DOUBLE)
                                              / CAST(g.n_all AS DOUBLE)))
                      / CAST(p.n_cat - 1 + {TE_SMOOTH_M} AS DOUBLE))
                AS BIGINT) AS smoothed_micro
    FROM y JOIN per_cat p USING (cat) CROSS JOIN gl g
"""


@gate("op_target_encoding", _TE_ORACLE)
def op_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against order
    value — the leakage-safe way to hand a tree/linear model a
    high-cardinality categorical: each row's code is the mean target of
    its category EXCLUDING the row itself ((S_c − y_i)/(n_c − 1)), plus
    a prior-smoothed variant ((S_c − y_i + m·ȳ)/(n_c − 1 + m), m=20)
    that shrinks rare categories toward the global mean.

    Exact: the target is rounded once to cents, category sums S_c and
    the global sum are int64 aggregates, and each row's code is ONE
    left-associated double chain floored to micros — bit-identical in
    both engines. The n_cat>1 guard keeps singleton categories NULL
    (both engines) instead of dividing by zero.

    Scale shape: one partial-aggregated groupBy over the category key
    (5 rows here, bounded by category cardinality at any scale), a
    broadcast join of those stats back onto the fact scan, and a 1-row
    global aggregate broadcast — encoding 100 TB costs one scan plus
    two kilobyte-scale broadcasts; no shuffle of the fact table.
    """
    o = read_table(spark, sf_dir, "orders")
    y = o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("cat"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("y_cents"),
    )
    per_cat = y.groupBy("cat").agg(
        F.count("*").cast("bigint").alias("n_cat"),
        F.sum("y_cents").cast("bigint").alias("s_cat"),
    )
    glob = y.agg(
        F.count("*").cast("bigint").alias("n_all"),
        F.sum("y_cents").cast("bigint").alias("g_all"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    loo = F.floor(
        F.lit(1000000.0)
        * (F.col("s_cat") - F.col("y_cents")).cast("double")
        / (F.col("n_cat") - F.lit(1)).cast("double")
    ).cast("bigint")
    smoothed = F.floor(
        F.lit(1000000.0)
        * (
            (F.col("s_cat") - F.col("y_cents")).cast("double")
            + F.lit(float(TE_SMOOTH_M)) * (d("g_all") / d("n_all"))
        )
        / (F.col("n_cat") - F.lit(1) + F.lit(TE_SMOOTH_M)).cast("double")
    ).cast("bigint")
    return (
        y.join(F.broadcast(per_cat), "cat")
        .crossJoin(F.broadcast(glob))
        .select(
            "o_orderkey",
            "cat",
            "y_cents",
            "n_cat",
            F.when(F.col("n_cat") > 1, loo).alias("loo_micro"),
            smoothed.alias("smoothed_micro"),
        )
    )


# --- Deterministic Poisson bootstrap CI ----------------------------------

BOOT_B = 24  # resamples; CI band = 2nd..23rd order statistic (~92%)

# Poisson(1) CDF thresholds, shared literally by both engines: weight k
# is assigned when the 60-bit uniform falls in [CDF(k-1), CDF(k)).
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
)
_TWO60 = 1152921504606846976.0  # 2^60 as a double literal


def _boot_weight_sql(u_expr: str) -> str:
    """CASE ladder mapping a uniform [0,1) double to a Poisson(1) draw."""
    arms = " ".join(
        f"WHEN {u_expr} < {c!r} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE {arms} ELSE {len(_POIS_CDF)} END"


def _boot_oracle() -> str:
    u = (
        "CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#' || "
        "CAST(b AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE) / "
        f"{_TWO60!r}"
    )
    return f"""
    WITH w AS (
      SELECT d.source, d.n_chars, t.b,
             CAST({_boot_weight_sql(u)} AS BIGINT) AS w
      FROM documents d CROSS JOIN (SELECT * FROM range(0, {BOOT_B})) t(b)
    ),
    bmeans AS (
      SELECT source, b, CAST(SUM(w) AS BIGINT) AS n_eff,
             CASE WHEN SUM(w) > 0 THEN
               CAST(FLOOR(1000000.0 * CAST(SUM(w * n_chars) AS DOUBLE)
                          / CAST(SUM(w) AS DOUBLE)) AS BIGINT)
             END AS mean_micro
      FROM w GROUP BY source, b
    ),
    ranked AS (
      SELECT source, mean_micro,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY COALESCE(mean_micro, -1), b) AS rn
      FROM bmeans
    ),
    band AS (
      SELECT source,
             MAX(CASE WHEN rn = 2 THEN mean_micro END) AS lo_micro,
             MAX(CASE WHEN rn = {BOOT_B - 1} THEN mean_micro END) AS hi_micro
      FROM ranked GROUP BY source
    ),
    pt AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(FLOOR(1000000.0 * CAST(SUM(n_chars) AS DOUBLE)
                        / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS point_micro
      FROM documents GROUP BY source
    )
    SELECT p.source, p.n_docs, p.point_micro, band.lo_micro, band.hi_micro,
           CAST(band.hi_micro - band.lo_micro AS BIGINT) AS spread_micro
    FROM pt p JOIN band USING (source)
    """


@gate("op_bootstrap_ci_mean", _boot_oracle())
def op_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source confidence band on mean document length via the
    DETERMINISTIC Poisson bootstrap (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams" — the bootstrap that works in
    one distributed pass: each row joins resample b with weight ~
    Poisson(1) instead of materializing B resamples).

    Determinism/exactness: the Poisson draw inverts the shared 60-bit
    md5 uniform through a literal CDF ladder (same constants in both
    engines, compared as doubles), resample sums are int64, and the
    band is the 2nd/23rd order statistic of the B=24 resample means —
    order statistics, not moments, so no further arithmetic can drift.

    Scale shape: a flat ×B row expansion feeding a partial-aggregated
    groupBy(source, b) — the shuffle carries B·|sources| aggregate rows,
    not the corpus; the band is a window over that tiny frame. At 100 TB
    this is exactly one corpus scan with map-side combine.
    """
    docs = read_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit("#"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        .cast("double")
        / F.lit(_TWO60)
    )
    w_col = F.lit(len(_POIS_CDF))
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w_col = F.when(u < F.lit(_POIS_CDF[k]), F.lit(k)).otherwise(w_col)
    expanded = docs.select(
        "source",
        "n_chars",
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    ).select("source", "n_chars", "b", w_col.cast("bigint").alias("w"))
    bmeans = expanded.groupBy("source", "b").agg(
        F.sum("w").cast("bigint").alias("n_eff"),
        F.when(
            F.sum("w") > 0,
            F.floor(
                F.lit(1000000.0)
                * F.sum(F.col("w") * F.col("n_chars")).cast("double")
                / F.sum("w").cast("double")
            ).cast("bigint"),
        ).alias("mean_micro"),
    )
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.coalesce("mean_micro", F.lit(-1)), "b"
        )
    )
    band = (
        bmeans.withColumn("rn", rn)
        .groupBy("source")
        .agg(
            F.max(F.when(F.col("rn") == 2, F.col("mean_micro"))).alias(
                "lo_micro"
            ),
            F.max(
                F.when(F.col("rn") == BOOT_B - 1, F.col("mean_micro"))
            ).alias("hi_micro"),
        )
    )
    pt = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.floor(
            F.lit(1000000.0)
            * F.sum("n_chars").cast("double")
            / F.count("*").cast("double")
        )
        .cast("bigint")
        .alias("point_micro"),
    )
    return pt.join(band, "source").select(
        "source",
        "n_docs",
        "point_micro",
        "lo_micro",
        "hi_micro",
        (F.col("hi_micro") - F.col("lo_micro")).cast("bigint").alias(
            "spread_micro"
        ),
    )


# --- Equal-frequency quantile binning (feature discretization) --------------

QB_BINS = 10
QB_UNIT = 10000  # cents per bin unit: o_totalprice binned on $100 units


def _qb_oracle() -> str:
    return f"""
    WITH o AS (
      SELECT CAST(CAST(o_totalprice * 100 AS BIGINT) // {QB_UNIT} AS BIGINT)
               AS xu,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    dv AS (
      SELECT xu, CAST(COUNT(*) AS BIGINT) AS c, CAST(SUM(y) AS BIGINT) AS p
      FROM o GROUP BY xu
    ),
    cum AS (
      SELECT xu, c, p,
             CAST(SUM(c) OVER (ORDER BY xu ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cc
      FROM dv
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM dv),
    edges AS (
      -- edge_k = smallest unit value whose cumulative count reaches
      -- ceil(k*N/B); values above it fall into bin >= k
      SELECT k, MIN(xu) AS e
      FROM cum CROSS JOIN tot
      CROSS JOIN (SELECT unnest(range(1, {QB_BINS})) AS k)
      WHERE cc * {QB_BINS} >= k * n
      GROUP BY k
    ),
    binned AS (
      SELECT cum.xu, cum.c, cum.p,
             CAST(COALESCE((SELECT COUNT(*) FROM edges
                            WHERE edges.e < cum.xu), 0) AS BIGINT) AS bin
      FROM cum
    )
    SELECT bin,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(SUM(p) AS BIGINT) AS n_flagged,
           CAST(SUM(p) * 1000000 // SUM(c) AS BIGINT) AS flag_rate_micro,
           CAST(MIN(xu) AS BIGINT) AS lo_unit,
           CAST(MAX(xu) AS BIGINT) AS hi_unit
    FROM binned GROUP BY bin
    """


@gate("op_quantile_binning", _qb_oracle())
def op_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (quantile) feature binning with per-bin target
    rates: discretize order value into QB_BINS buckets holding ~equal
    row counts and report each bucket's flagged-order rate — the
    feature-engineering staple behind WoE/IV screening, monotonic-rate
    checks, and calibration-friendly discretization.

    Scale shape: the repo's discrete-quantile pattern (see
    op_length_filter_bounds) — the window runs over the DISTINCT-value
    cumulative counts, never the corpus, and distinct cardinality is
    bounded by the VALUE RANGE because the feature is pre-discretized
    to $100 units (a corpus-sized global NTILE is exactly what
    op_quality_calibration's docstring warns against). Bin edges are a
    (B-1)-row frame; assignment is a non-equi broadcast count.

    Exactness: bin edges are integer rank thresholds (cc*B >= k*N, no
    division), counts/rates are bigint with one integer division — the
    whole gate is engine-exact by construction.
    """
    o = read_table(spark, sf_dir, "orders").select(
        F.expr(f"CAST(CAST(o_totalprice * 100 AS BIGINT) div {QB_UNIT} AS BIGINT)")
        .alias("xu"),
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
    )
    dv = o.groupBy("xu").agg(
        F.count("*").cast("bigint").alias("c"),
        F.sum("y").cast("bigint").alias("p"),
    )
    w = Window.orderBy("xu").rowsBetween(Window.unboundedPreceding, 0)
    cum = dv.withColumn("cc", F.sum("c").over(w).cast("bigint")).localCheckpoint()
    # ^ distinct-value cardinality; feeds the edge derivation AND binning
    tot = cum.agg(F.sum("c").cast("bigint").alias("n"))
    ks = F.explode(F.sequence(F.lit(1), F.lit(QB_BINS - 1))).alias("k")
    edges = (
        cum.crossJoin(F.broadcast(tot))
        .select("xu", "cc", "n", ks)
        .filter(F.col("cc") * QB_BINS >= F.col("k") * F.col("n"))
        .groupBy("k")
        .agg(F.min("xu").alias("e"))
    )
    binned = (
        cum.crossJoin(F.broadcast(edges))
        .groupBy("xu", "c", "p")
        .agg(
            F.sum((F.col("e") < F.col("xu")).cast("int"))
            .cast("bigint")
            .alias("bin")
        )
    )
    return binned.groupBy("bin").agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.sum("p").cast("bigint").alias("n_flagged"),
        F.expr("CAST(sum(p) * 1000000L div sum(c) AS BIGINT)").alias(
            "flag_rate_micro"
        ),
        F.min("xu").cast("bigint").alias("lo_unit"),
        F.max("xu").cast("bigint").alias("hi_unit"),
    )


# --- Deterministic randomization (permutation) test -------------------------

PERM_B = 64  # relabelings
PERM_SALT = "perm_v1:"


def _perm_oracle() -> str:
    return f"""
    WITH per AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS x,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS grp
      FROM documents
    ),
    obs AS (
      SELECT CAST(ABS(SUM(CASE WHEN grp = 1 THEN x ELSE 0 END) * 1000000
                      // SUM(grp)
                    - SUM(CASE WHEN grp = 0 THEN x ELSE 0 END) * 1000000
                      // SUM(1 - grp)) AS BIGINT) AS obs_diff,
             CAST(SUM(grp) AS BIGINT) AS n_a,
             CAST(SUM(1 - grp) AS BIGINT) AS n_b
      FROM per
    ),
    reps AS (
      SELECT CAST(unnest(range(0, {PERM_B})) AS BIGINT) AS b
    ),
    relabeled AS (
      SELECT r.b, p.x,
             CASE WHEN (strpos('0123456789abcdef',
                    substr(md5('{PERM_SALT}' || CAST(r.b AS VARCHAR) || ':'
                               || CAST(p.doc_id AS VARCHAR)), 1, 1)) - 1)
                  < 8 THEN 1 ELSE 0 END AS g
      FROM per p CROSS JOIN reps r
    ),
    perm AS (
      SELECT b,
             CAST(ABS(SUM(CASE WHEN g = 1 THEN x ELSE 0 END) * 1000000
                      // SUM(g)
                    - SUM(CASE WHEN g = 0 THEN x ELSE 0 END) * 1000000
                      // SUM(1 - g)) AS BIGINT) AS d
      FROM relabeled GROUP BY b
    )
    SELECT o.obs_diff AS obs_diff_micro, o.n_a, o.n_b,
           CAST({PERM_B} AS BIGINT) AS n_perms,
           CAST(SUM(CASE WHEN p.d >= o.obs_diff THEN 1 ELSE 0 END) AS BIGINT)
             AS n_extreme,
           CAST(1 + SUM(CASE WHEN p.d >= o.obs_diff THEN 1 ELSE 0 END)
                AS BIGINT) AS p_num,
           CAST({PERM_B} + 1 AS BIGINT) AS p_den
    FROM perm p CROSS JOIN obs o
    GROUP BY o.obs_diff, o.n_a, o.n_b
    """


@gate("op_permutation_test", _perm_oracle())
def op_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic randomization test for a two-group mean difference
    (Fisher's permutation logic, Bernoulli-relabeling variant): is the
    English/non-English mean-length gap larger than chance relabelings
    produce? {PERM_B} md5-derived relabelings rebuild the null
    distribution; p = (1 + #extreme) / (B + 1) ships as an exact
    integer fraction — the add-one form that keeps the test valid at
    finite B. Completes the resampling family next to
    op_bootstrap_ci_mean (CI) and op_ab_test_ks/chi2 (parametric).

    Every relabeling comes from md5(salt|b|doc_id) hex-digit
    arithmetic, so both engines replay the identical null draw; means
    are micro-fixed-point with division on positive counts (B=64
    Bernoulli(1/2) splits of n≥500 never produce an empty side; the
    subtraction precedes abs on integers).

    Scale shape: one per-doc projection crossJoined with the broadcast
    {PERM_B}-row grid, map-side-combined into B rows of partial sums —
    the shuffle carries ≤B rows per partition; observed stats ride a
    broadcast 1-row join. The corpus is scanned once per side.
    """
    docs = read_table(spark, sf_dir, "documents")
    hexd = "0123456789abcdef"
    per = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("x"),
        (F.col("lang") == "en").cast("bigint").alias("grp"),
    )
    obs = per.agg(
        F.expr(
            "abs(sum(case when grp = 1 then x else 0 end) * 1000000"
            " div sum(grp)"
            " - sum(case when grp = 0 then x else 0 end) * 1000000"
            " div sum(1 - grp))"
        )
        .cast("bigint")
        .alias("obs_diff"),
        F.sum("grp").cast("bigint").alias("n_a"),
        F.sum(1 - F.col("grp")).cast("bigint").alias("n_b"),
    )
    reps = spark.range(PERM_B).select(F.col("id").cast("bigint").alias("b"))
    h = F.md5(
        F.concat(
            F.lit(PERM_SALT),
            F.col("b").cast("string"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        )
    )
    g = (F.instr(F.lit(hexd), F.substring(h, 1, 1)) - 1 < 8).cast("bigint")
    relabeled = per.crossJoin(F.broadcast(reps)).select(
        "b", "x", g.alias("g")
    )
    perm = relabeled.groupBy("b").agg(
        F.expr(
            "abs(sum(case when g = 1 then x else 0 end) * 1000000"
            " div sum(g)"
            " - sum(case when g = 0 then x else 0 end) * 1000000"
            " div sum(1 - g))"
        )
        .cast("bigint")
        .alias("d")
    )
    return (
        perm.crossJoin(F.broadcast(obs))
        .groupBy("obs_diff", "n_a", "n_b")
        .agg(
            F.lit(PERM_B).cast("bigint").alias("n_perms"),
            F.sum((F.col("d") >= F.col("obs_diff")).cast("int"))
            .cast("bigint")
            .alias("n_extreme"),
            (1 + F.sum((F.col("d") >= F.col("obs_diff")).cast("int")))
            .cast("bigint")
            .alias("p_num"),
            F.lit(PERM_B + 1).cast("bigint").alias("p_den"),
        )
        .select(
            F.col("obs_diff").alias("obs_diff_micro"),
            "n_a",
            "n_b",
            "n_perms",
            "n_extreme",
            "p_num",
            "p_den",
        )
    )
