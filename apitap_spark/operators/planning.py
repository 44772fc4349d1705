"""Training-run planning audits: token-budget water-filling, padding
waste, retention sweeps, and a randomized-response privacy mechanism.

These close the loop between the corpus bookkeeping passes (corpus.py:
mixing weights, shard plans) and an actual training-run configuration:
given the corpus as measured, how is a fixed token budget split across
sources under epoch caps (UniMax), how much compute does the batching
layout waste on padding, how much data survives each candidate quality
bar, and what does a plausible-deniability release of the metadata cost
in estimator error. Every oracle is exact: integer/rational arithmetic
throughout — divisions only on non-negative operands so Spark's ``div``
(truncate) and DuckDB's ``//`` agree.

Beyond-reference operators sanctioned by the build brief; no counterpart
in /root/reference (SQL-only transform surface, src/pipeline/mod.rs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apitap_spark.functions.text import token_count, tokens
from apitap_spark.registry import gate
from apitap_spark.session import read_table


# --- UniMax-style token-budget allocation (water-filling) ----------------

# Per-source cap = EPOCH_CAP epochs over that source's tokens; budget =
# BUDGET_NUM/BUDGET_DEN of the total capacity (90% of 2 epochs).  An
# almost-full budget is the regime water-filling exists for: the small
# sources hit their epoch cap and the surplus redistributes to the large
# ones — the mixed capped/uncapped fixture the gate needs.
EPOCH_CAP = 2
BUDGET_NUM = 9 * EPOCH_CAP  # 1.8x total tokens
BUDGET_DEN = 10

_BUDGET_ORACLE = rf"""
    WITH per_source AS (
      SELECT source,
             CAST(SUM(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                           ELSE LEN(string_split_regex(TRIM(text), '\s+')) END)
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    capped_src AS (
      SELECT source, n_tokens,
             CAST({EPOCH_CAP} * n_tokens AS BIGINT) AS cap_tokens,
             CAST(ROW_NUMBER() OVER (ORDER BY {EPOCH_CAP} * n_tokens, source)
                  AS BIGINT) AS rnk,
             CAST(SUM({EPOCH_CAP} * n_tokens)
                  OVER (ORDER BY {EPOCH_CAP} * n_tokens, source
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix_cap,
             CAST(COUNT(*) OVER () AS BIGINT) AS n_sources,
             CAST((SUM(n_tokens) OVER ()) * {BUDGET_NUM} // {BUDGET_DEN} AS BIGINT)
               AS budget
      FROM per_source
    ),
    flagged AS (
      SELECT *,
             cap_tokens * (n_sources - rnk) + prefix_cap <= budget AS capped
      FROM capped_src
    ),
    lvl AS (
      SELECT CAST(SUM(CASE WHEN capped THEN cap_tokens ELSE 0 END) AS BIGINT)
               AS sum_capped,
             CAST(SUM(CASE WHEN capped THEN 1 ELSE 0 END) AS BIGINT)
               AS n_capped
      FROM flagged
    )
    SELECT f.source, f.n_tokens, f.cap_tokens, f.rnk, f.budget, f.capped,
           CAST(CASE WHEN f.capped THEN f.cap_tokens
                     ELSE (f.budget - l.sum_capped)
                          // (f.n_sources - l.n_capped) END
                AS BIGINT) AS alloc_tokens,
           CAST((CASE WHEN f.capped THEN f.cap_tokens
                      ELSE (f.budget - l.sum_capped)
                           // (f.n_sources - l.n_capped) END) * 1000000
                // f.n_tokens AS BIGINT) AS epochs_micro
    FROM flagged f CROSS JOIN lvl l
"""


@gate("op_token_budget_epochs", _BUDGET_ORACLE)
def op_token_budget_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax-style token-budget allocation (Chung et al. 2023,
    arXiv:2304.09151): split a fixed training budget across sources by
    water-filling under a per-source epoch cap — every source gets the
    common fill level, except sources whose entire EPOCH_CAP·n_tokens
    capacity sits below it, which contribute all they have.

    The capped set is decided in closed form, no iteration: with
    sources sorted by capacity, source i is capped iff
    ``cap_i · (n − rank_i) + prefix_cap_i ≤ B`` (its capacity is below
    the fill level computed as if everything up to it were capped).
    All comparisons and the fill-level division are on non-negative
    integers, so the oracle is hash-exact. epochs_micro headroom:
    alloc·1e6 ≤ total_tokens·1e6 — int64-safe through ~sf100.

    Scale shape: one map-side-combined groupBy(source); every window
    runs over the SOURCE-cardinality frame (dozens of rows), never the
    corpus; the capped-set aggregate is a 1-row broadcast back. The
    corpus is touched exactly once.
    """
    docs = read_table(spark, sf_dir, "documents")
    per_source = (
        docs.groupBy("source")
        .agg(F.sum(token_count("text")).cast("bigint").alias("n_tokens"))
        .localCheckpoint()  # source-cardinality; feeds two derivations
    )
    w_ord = Window.orderBy(F.col("cap_tokens"), F.col("source"))
    w_all = Window.partitionBy()
    capped_src = per_source.select(
        "source",
        "n_tokens",
        (F.lit(EPOCH_CAP) * F.col("n_tokens")).cast("bigint").alias("cap_tokens"),
    ).select(
        "*",
        F.row_number().over(w_ord).cast("bigint").alias("rnk"),
        F.sum("cap_tokens")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("prefix_cap"),
        F.count("*").over(w_all).cast("bigint").alias("n_sources"),
        F.expr(f"sum(n_tokens) over () * {BUDGET_NUM} div {BUDGET_DEN}")
        .cast("bigint")
        .alias("budget"),
    )
    flagged = capped_src.withColumn(
        "capped",
        F.col("cap_tokens") * (F.col("n_sources") - F.col("rnk"))
        + F.col("prefix_cap")
        <= F.col("budget"),
    ).localCheckpoint()  # source-cardinality; feeds lvl AND the output
    lvl = flagged.agg(
        F.sum(F.when(F.col("capped"), F.col("cap_tokens")).otherwise(0))
        .cast("bigint")
        .alias("sum_capped"),
        F.sum(F.when(F.col("capped"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_capped"),
    )
    fill = F.expr("(budget - sum_capped) div (n_sources - n_capped)")
    alloc = F.when(F.col("capped"), F.col("cap_tokens")).otherwise(fill)
    return flagged.crossJoin(F.broadcast(lvl)).select(
        "source",
        "n_tokens",
        "cap_tokens",
        "rnk",
        "budget",
        "capped",
        alloc.cast("bigint").alias("alloc_tokens"),
        F.expr(
            "(case when capped then cap_tokens "
            " else (budget - sum_capped) div (n_sources - n_capped) end)"
            " * 1000000 div n_tokens"
        )
        .cast("bigint")
        .alias("epochs_micro"),
    )


# --- Padding-waste audit of length-bucketed batching ----------------------

# Power-of-two bucket caps; docs longer than the last cap round up to the
# next multiple of it (total function — waste is never negative).
PAD_CAPS = [32, 64, 128, 256, 512, 1024, 2048, 4096]


def _cap_sql() -> str:
    whens = " ".join(f"WHEN n_tokens <= {c} THEN {c}" for c in PAD_CAPS)
    last = PAD_CAPS[-1]
    return (
        f"CASE {whens} ELSE ((n_tokens + {last - 1}) // {last}) * {last} END"
    )


_PAD_ORACLE = rf"""
    WITH tok AS (
      SELECT CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                       ELSE LEN(string_split_regex(TRIM(text), '\s+')) END
                  AS BIGINT) AS n_tokens
      FROM documents
    ),
    bucketed AS (
      SELECT CAST({_cap_sql()} AS BIGINT) AS bucket_cap, n_tokens FROM tok
    ),
    per_bucket AS (
      SELECT bucket_cap,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
      FROM bucketed GROUP BY bucket_cap
    ),
    gmax AS (
      SELECT CAST(MAX(n_tokens) AS BIGINT) AS global_cap FROM tok
    )
    SELECT b.bucket_cap, b.n_docs, b.sum_tokens,
           CAST(b.n_docs * b.bucket_cap AS BIGINT) AS padded_tokens,
           CAST(b.n_docs * b.bucket_cap - b.sum_tokens AS BIGINT) AS waste_tokens,
           CAST((b.n_docs * b.bucket_cap - b.sum_tokens) * 1000000
                // (b.n_docs * b.bucket_cap) AS BIGINT) AS waste_micro,
           CAST(b.n_docs * g.global_cap - b.sum_tokens AS BIGINT)
             AS unbucketed_waste_tokens
    FROM per_bucket b CROSS JOIN gmax g
"""


@gate("op_pad_waste_audit", _PAD_ORACLE)
def op_pad_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit of length-bucketed batching: assign every
    document to the smallest power-of-two sequence cap that fits it and
    report, per bucket, the tokens a pad-to-cap batcher burns on
    padding vs the tokens the same docs would burn padded to the GLOBAL
    max (the no-bucketing baseline) — the standard justification table
    for bucketed batching / `--group_by_length` in training stacks.

    Everything is integer: bucket caps come from a CASE ladder (docs
    past the last cap round up to its next multiple, so waste is never
    negative), and waste_micro divides non-negative integers.

    Scale shape: one projection + one map-side-combined groupBy on a
    ~dozen-value key; the global max is a 1-row aggregate cross-joined
    back. The corpus is scanned once, shuffled only as partial aggs.
    """
    docs = read_table(spark, sf_dir, "documents")
    per = docs.select(token_count("text").alias("n_tokens"))
    cap = F.when(F.col("n_tokens") <= PAD_CAPS[0], PAD_CAPS[0])
    for c in PAD_CAPS[1:]:
        cap = cap.when(F.col("n_tokens") <= c, c)
    last = PAD_CAPS[-1]
    cap = cap.otherwise(
        F.expr(f"((n_tokens + {last - 1}) div {last}) * {last}")
    )
    bucketed = per.select(
        cap.cast("bigint").alias("bucket_cap"), "n_tokens"
    )
    per_bucket = bucketed.groupBy("bucket_cap").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
    )
    glob = bucketed.agg(F.max("n_tokens").cast("bigint").alias("global_cap"))
    padded = F.col("n_docs") * F.col("bucket_cap")
    return per_bucket.crossJoin(F.broadcast(glob)).select(
        "bucket_cap",
        "n_docs",
        "sum_tokens",
        padded.cast("bigint").alias("padded_tokens"),
        (padded - F.col("sum_tokens")).cast("bigint").alias("waste_tokens"),
        F.expr(
            "(n_docs * bucket_cap - sum_tokens) * 1000000"
            " div (n_docs * bucket_cap)"
        )
        .cast("bigint")
        .alias("waste_micro"),
        (F.col("n_docs") * F.col("global_cap") - F.col("sum_tokens"))
        .cast("bigint")
        .alias("unbucketed_waste_tokens"),
    )


# --- Quality-bar retention sweep ------------------------------------------

# Candidate thresholds on the distinct-token ratio (micro units): the
# sweep a curation run does before committing to a quality bar.
SWEEP_STEP = 100000
SWEEP_THRESHOLDS = list(range(0, 1000000, SWEEP_STEP))  # 0 .. 0.9


_SWEEP_ORACLE = rf"""
    WITH per_doc AS (
      SELECT doc_id,
             CAST(LEN(string_split_regex(TRIM(text), '\s+')) AS BIGINT)
               AS n_tokens,
             CAST(LEN(list_distinct(string_split_regex(TRIM(text), '\s+')))
                  * 1000000
                  // LEN(string_split_regex(TRIM(text), '\s+')) AS BIGINT)
               AS distinct_micro
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    grid AS (
      SELECT CAST(unnest(range(0, 1000000, {SWEEP_STEP})) AS BIGINT)
        AS threshold_micro
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      FROM per_doc
    )
    SELECT g.threshold_micro,
           CAST(COUNT(*) FILTER (WHERE d.distinct_micro >= g.threshold_micro)
                AS BIGINT) AS docs_kept,
           CAST(COALESCE(SUM(d.n_tokens)
                  FILTER (WHERE d.distinct_micro >= g.threshold_micro), 0)
                AS BIGINT) AS tokens_kept,
           CAST(COUNT(*) FILTER (WHERE d.distinct_micro >= g.threshold_micro)
                * 1000000 // t.total_docs AS BIGINT) AS docs_share_micro,
           CAST(COALESCE(SUM(d.n_tokens)
                  FILTER (WHERE d.distinct_micro >= g.threshold_micro), 0)
                * 1000000 // t.total_tokens AS BIGINT) AS tokens_share_micro
    FROM grid g CROSS JOIN per_doc d CROSS JOIN tot t
    GROUP BY g.threshold_micro, t.total_docs, t.total_tokens
"""


@gate("op_quality_retention_sweep", _SWEEP_ORACLE)
def op_quality_retention_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention curve over candidate quality bars: for each threshold
    on the distinct-token ratio (the cheapest repetition-quality
    signal), how many documents and tokens survive — the sweep a
    curation run publishes before committing to a bar, so the data
    budget lost to each candidate filter is known in advance.

    The ratio is kept in exact micro units (distinct·1e6 div total,
    non-negative integer division both engines); thresholds are a
    fixed 10-value grid.

    Scale shape: one per-doc projection, then a broadcast cross join
    against the 10-row grid whose count/sum aggregate is map-side
    combined — the shuffle carries ≤10 rows per partition. Totals are
    a 1-row aggregate broadcast back. No corpus self-join, no window
    over raw rows.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    t = tokens("text")
    per_doc = docs.select(
        token_count("text").alias("n_tokens"),
        (F.size(F.array_distinct(t)).cast("bigint") * F.lit(1000000))
        .cast("bigint")
        .alias("_dnum"),
    ).select(
        "n_tokens",
        F.expr("_dnum div n_tokens").cast("bigint").alias("distinct_micro"),
    ).localCheckpoint()  # feeds the grid join AND the totals aggregate
    grid = spark.range(0, 1000000, SWEEP_STEP).select(
        F.col("id").cast("bigint").alias("threshold_micro")
    )
    tot = per_doc.agg(
        F.count("*").cast("bigint").alias("total_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )
    kept = F.col("distinct_micro") >= F.col("threshold_micro")
    swept = (
        per_doc.crossJoin(F.broadcast(grid))
        .groupBy("threshold_micro")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("docs_kept"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("tokens_kept"),
        )
    )
    return swept.crossJoin(F.broadcast(tot)).select(
        "threshold_micro",
        "docs_kept",
        "tokens_kept",
        F.expr("docs_kept * 1000000 div total_docs")
        .cast("bigint")
        .alias("docs_share_micro"),
        F.expr("tokens_kept * 1000000 div total_tokens")
        .cast("bigint")
        .alias("tokens_share_micro"),
    )


# --- Randomized-response privacy audit ------------------------------------

# Flip probability p = RR_FLIP_NUM/256: each document reports its true
# lang with probability 1-p, otherwise a hash-uniform lang from the K
# observed classes. Both draws come from one md5, so the mechanism is
# deterministic and both engines replay it bit-for-bit.
RR_FLIP_NUM = 64  # p = 64/256 = 1/4
RR_SALT = "rr_v1:"

_RR_ORACLE = rf"""
    WITH langs AS (
      SELECT lang,
             CAST(ROW_NUMBER() OVER (ORDER BY lang) - 1 AS BIGINT) AS lrank
      FROM (SELECT DISTINCT lang FROM documents)
    ),
    k AS (SELECT CAST(COUNT(*) AS BIGINT) AS kk FROM langs),
    hashed AS (
      SELECT d.doc_id, d.lang,
             (strpos('0123456789abcdef',
                     substr(md5('{RR_SALT}' || CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             + strpos('0123456789abcdef',
                      substr(md5('{RR_SALT}' || CAST(d.doc_id AS VARCHAR)), 2, 1)) - 1
               AS flip_bucket,
             (strpos('0123456789abcdef',
                     substr(md5('{RR_SALT}' || CAST(d.doc_id AS VARCHAR)), 3, 1)) - 1) * 16
             + strpos('0123456789abcdef',
                      substr(md5('{RR_SALT}' || CAST(d.doc_id AS VARCHAR)), 4, 1)) - 1
               AS draw_bucket
      FROM documents d
    ),
    reported AS (
      SELECT h.doc_id,
             CASE WHEN h.flip_bucket >= {RR_FLIP_NUM} THEN h.lang
                  ELSE r.lang END AS lang
      FROM hashed h CROSS JOIN k
      JOIN langs r ON r.lrank = h.draw_bucket % k.kk
    ),
    true_counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS true_count
      FROM documents GROUP BY lang
    ),
    obs_counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS observed_count
      FROM reported GROUP BY lang
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents)
    SELECT t.lang, t.true_count,
           CAST(COALESCE(o.observed_count, 0) AS BIGINT) AS observed_count,
           CAST(256 * k.kk * COALESCE(o.observed_count, 0)
                - {RR_FLIP_NUM} * n.nn AS BIGINT) AS est_num,
           CAST((256 - {RR_FLIP_NUM}) * k.kk AS BIGINT) AS est_den,
           CAST(ABS(256 * k.kk * COALESCE(o.observed_count, 0)
                    - {RR_FLIP_NUM} * n.nn
                    - t.true_count * (256 - {RR_FLIP_NUM}) * k.kk) * 1000000
                // (n.nn * (256 - {RR_FLIP_NUM}) * k.kk) AS BIGINT)
             AS abs_err_micro
    FROM true_counts t
    LEFT JOIN obs_counts o ON o.lang = t.lang
    CROSS JOIN k CROSS JOIN n
"""


@gate("op_privacy_randomized_response", _RR_ORACLE)
def op_privacy_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomized response over the lang column (Warner 1965, the
    local-DP mechanism): each document reports its true class with
    probability 1−p, else a uniform draw over the K observed classes;
    the release is the noisy histogram plus the debiased estimate
    n̂ = (obs − p·n/K)/(1−p) and its error against the true count —
    the utility-cost table a privacy review reads before approving a
    metadata release.

    Determinism: both the flip and the replacement draw come from one
    md5(doc_id) (hex-digit position arithmetic, the house trick), so
    the mechanism replays identically cross-engine. The estimate is
    published as an exact integer fraction (est_num/est_den) — no
    signed division anywhere; abs_err divides non-negative integers.

    Scale shape: the lang rank table is K rows (broadcast); the
    mechanism is a projection plus one broadcast join; both histograms
    are map-side-combined groupBys on a K-value key. One corpus scan
    per histogram, no shuffle beyond partial aggs.
    """
    docs = read_table(spark, sf_dir, "documents")
    langs = (
        docs.select("lang")
        .distinct()
        .select(
            "lang",
            (F.row_number().over(Window.orderBy("lang")) - 1)
            .cast("bigint")
            .alias("lrank"),
        )
        .localCheckpoint()  # K rows; feeds the draw join and the K count
    )
    kk = langs.agg(F.count("*").cast("bigint").alias("kk"))
    hexd = "0123456789abcdef"
    h = F.md5(F.concat(F.lit(RR_SALT), F.col("doc_id").cast("string")))

    def _bucket(pos: int):
        return (
            (F.instr(F.lit(hexd), F.substring(h, pos, 1)) - 1) * 16
            + F.instr(F.lit(hexd), F.substring(h, pos + 1, 1))
            - 1
        )

    hashed = docs.select(
        "doc_id",
        "lang",
        _bucket(1).alias("flip_bucket"),
        _bucket(3).alias("draw_bucket"),
    )
    reported = (
        hashed.crossJoin(F.broadcast(kk))
        .withColumn("draw_rank", F.col("draw_bucket") % F.col("kk"))
        .join(
            F.broadcast(langs.select(F.col("lrank"), F.col("lang").alias("rlang"))),
            F.col("draw_rank") == F.col("lrank"),
        )
        .select(
            F.when(F.col("flip_bucket") >= RR_FLIP_NUM, F.col("lang"))
            .otherwise(F.col("rlang"))
            .alias("lang")
        )
    )
    true_counts = docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("true_count")
    )
    obs_counts = reported.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("observed_count")
    )
    n = docs.agg(F.count("*").cast("bigint").alias("nn"))
    joined = (
        true_counts.join(obs_counts, "lang", "left")
        .na.fill({"observed_count": 0})
        .crossJoin(F.broadcast(kk))
        .crossJoin(F.broadcast(n))
    )
    keep_num = 256 - RR_FLIP_NUM
    return joined.select(
        "lang",
        "true_count",
        F.col("observed_count").cast("bigint").alias("observed_count"),
        (256 * F.col("kk") * F.col("observed_count") - RR_FLIP_NUM * F.col("nn"))
        .cast("bigint")
        .alias("est_num"),
        (F.lit(keep_num) * F.col("kk")).cast("bigint").alias("est_den"),
        F.expr(
            f"abs(256 * kk * observed_count - {RR_FLIP_NUM} * nn"
            f" - true_count * {keep_num} * kk) * 1000000"
            f" div (nn * {keep_num} * kk)"
        )
        .cast("bigint")
        .alias("abs_err_micro"),
    )


# --- Curriculum phase assignment -------------------------------------------

CURRICULUM_PHASES = 3


def _curriculum_oracle() -> str:
    return rf"""
    WITH per_doc AS (
      SELECT doc_id,
             CAST(LEN(string_split_regex(TRIM(text), '\s+')) AS BIGINT)
               AS n_tokens,
             CAST(LEN(list_distinct(string_split_regex(TRIM(text), '\s+')))
                  * 1000000
                  // LEN(string_split_regex(TRIM(text), '\s+')) AS BIGINT)
               AS score
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    per_score AS (
      SELECT score, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS tokens
      FROM per_doc GROUP BY score
    ),
    cum AS (
      SELECT score, n_docs, tokens,
             CAST(SUM(tokens) OVER (ORDER BY score DESC
                                    ROWS UNBOUNDED PRECEDING) - tokens
                  AS BIGINT) AS start_tokens,
             CAST(SUM(tokens) OVER () AS BIGINT) AS total_tokens
      FROM per_score
    ),
    phased AS (
      SELECT score, n_docs, tokens,
             CAST(LEAST({CURRICULUM_PHASES - 1},
                        start_tokens * {CURRICULUM_PHASES} // total_tokens)
                  AS BIGINT) AS phase
      FROM cum
    )
    SELECT phase,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS tokens,
           CAST(MIN(score) AS BIGINT) AS min_score,
           CAST(MAX(score) AS BIGINT) AS max_score
    FROM phased GROUP BY phase
    """


@gate("op_curriculum_phases", _curriculum_oracle())
def op_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum phase assignment: order the corpus by a quality score
    (highest first) and cut it into {CURRICULUM_PHASES} phases of
    roughly equal TOKEN mass — the static curriculum schedule
    (clean → noisy) a staged pretraining run consumes, with per-phase
    doc/token totals and score ranges as the published schedule card.

    Phase boundaries land at SCORE-BUCKET granularity: the cumulative
    window runs over DISTINCT score values (hundreds of rows), never
    raw documents, so there is no global corpus sort — same discipline
    as the discrete-quantile gates. A bucket belongs to the phase its
    cumulative START falls in (ties share a phase deterministically).
    All arithmetic integer; divisions on non-negatives.

    Scale shape: one per-doc projection → map-side-combined
    groupBy(score) → one tiny window over score buckets → final
    {CURRICULUM_PHASES}-row aggregate. The corpus is scanned once.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    t = tokens("text")
    per_doc = docs.select(
        token_count("text").alias("n_tokens"),
        (F.size(F.array_distinct(t)).cast("bigint") * F.lit(1000000)).alias(
            "_dnum"
        ),
    ).select(
        "n_tokens",
        F.expr("_dnum div n_tokens").cast("bigint").alias("score"),
    )
    per_score = per_doc.groupBy("score").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("tokens"),
    )
    w_desc = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    cum = per_score.select(
        "score",
        "n_docs",
        "tokens",
        (F.sum("tokens").over(w_desc) - F.col("tokens"))
        .cast("bigint")
        .alias("start_tokens"),
        F.sum("tokens").over(w_all).cast("bigint").alias("total_tokens"),
    )
    phased = cum.select(
        "score",
        "n_docs",
        "tokens",
        F.least(
            F.lit(CURRICULUM_PHASES - 1),
            F.expr(f"start_tokens * {CURRICULUM_PHASES} div total_tokens"),
        )
        .cast("bigint")
        .alias("phase"),
    )
    return phased.groupBy("phase").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("tokens").cast("bigint").alias("tokens"),
        F.min("score").cast("bigint").alias("min_score"),
        F.max("score").cast("bigint").alias("max_score"),
    )


# --- LPT shard-to-worker placement audit (Graham 1969) -------------------

LPT_WORKERS = 8

_LPT_ORACLE = rf"""
    WITH RECURSIVE
    per_source AS (
      SELECT source,
             CAST(SUM(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                           ELSE LEN(string_split_regex(TRIM(text), '\s+')) END)
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    ranked AS (
      SELECT source, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, source) AS rn
      FROM per_source
    ),
    lpt(rn, loads, src, tok, wkr) AS (
      SELECT 0, list_transform(range(1, {LPT_WORKERS} + 1),
                               i -> CAST(0 AS BIGINT)),
             CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
             CAST(NULL AS BIGINT)
      UNION ALL
      SELECT s.rn,
             list_transform(p.loads, (l, i) ->
               CASE WHEN i = list_position(p.loads, list_min(p.loads))
                    THEN l + s.n_tokens ELSE l END),
             s.source, s.n_tokens,
             CAST(list_position(p.loads, list_min(p.loads)) AS BIGINT)
      FROM lpt p JOIN ranked s ON s.rn = p.rn + 1
    ),
    fin AS (
      SELECT CAST(list_max(loads) AS BIGINT) AS makespan
      FROM lpt WHERE rn = (SELECT MAX(rn) FROM lpt)
    ),
    tot AS (
      SELECT GREATEST(
               (SUM(n_tokens) + {LPT_WORKERS} - 1) // {LPT_WORKERS},
               MAX(n_tokens)) AS lb
      FROM per_source
    )
    SELECT CAST(l.rn AS BIGINT) AS rnk, l.src AS source, l.tok AS n_tokens,
           l.wkr AS worker, f.makespan,
           CAST(t.lb AS BIGINT) AS lower_bound,
           CAST(f.makespan * 1000000 // t.lb AS BIGINT) AS ratio_micro
    FROM lpt l CROSS JOIN fin f CROSS JOIN tot t
    WHERE l.rn >= 1
"""


@gate("op_shard_makespan_lpt", _LPT_ORACLE)
def op_shard_makespan_lpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LPT (longest-processing-time-first, Graham 1969) placement of
    source shards onto LPT_WORKERS parallel workers — the greedy that schedules
    a heterogeneous-shard training ingest: sort shards by token count
    descending, assign each to the currently least-loaded worker. The
    audit reports per-shard assignments, the resulting makespan, and
    its ratio to the trivial lower bound max(ceil(total/W), max shard)
    — Graham's bound guarantees ratio ≤ 4/3 − 1/(3W), so a ratio near
    1e6 micro says the placement is as balanced as it can get and a
    large one says one shard dominates (split it before loading).

    Determinism recipe (the survival-KM fold pattern): the greedy is a
    sequential fold over the source-cardinality shard list, run as ONE
    JVM `aggregate` HOF over the ≤|sources| sorted struct array — no
    Python, no driver loop — with ties broken by first-minimum worker
    index and (tokens, source) sort order in both engines; DuckDB
    replays the identical fold as a recursive CTE over a W-element
    load list. All arithmetic is int64.

    Scale shape: one corpus scan to count tokens per source (map-side
    combined); everything after runs on the |sources|-row frame. The
    fold state is W longs — constant — and the assignment table is
    |sources| rows at any corpus size.
    """
    docs = read_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(token_count("text")).cast("bigint").alias("n_tokens")
    )
    folded = per_source.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col("n_tokens")).alias("negtok"),
                    "source",
                    F.col("n_tokens").alias("tok"),
                )
            )
        ).alias("st"),
        F.sum("n_tokens").cast("bigint").alias("total"),
        F.max("n_tokens").cast("bigint").alias("maxtok"),
    )
    # prefix fold: states[k] = worker loads BEFORE step k (1-based rn);
    # Spark transform's index is 0-based while array_position is
    # 1-based, hence the i + 1.
    states = (
        f"aggregate(st, array(array_repeat(cast(0 as bigint),"
        f" {LPT_WORKERS})), (acc, x) -> concat(acc, array("
        "transform(element_at(acc, -1), (l, i) ->"
        " CASE WHEN i + 1 = array_position(element_at(acc, -1),"
        " array_min(element_at(acc, -1))) THEN l + x.tok ELSE l END))))"
    )
    z = folded.select(
        F.expr(
            f"arrays_zip(st, slice({states}, 1, size(st)))"
        ).alias("z"),
        F.expr(f"array_max(element_at({states}, -1))")
        .cast("bigint")
        .alias("makespan"),
        F.greatest(
            F.expr(f"(total + {LPT_WORKERS} - 1) div {LPT_WORKERS}"),
            F.col("maxtok"),
        )
        .cast("bigint")
        .alias("lower_bound"),
    )
    row = F.posexplode("z").alias("pos", "r")
    out = z.select("makespan", "lower_bound", row)
    return out.select(
        (F.col("pos") + 1).cast("bigint").alias("rnk"),
        F.col("r.st.source").alias("source"),
        F.col("r.st.tok").cast("bigint").alias("n_tokens"),
        F.expr("array_position(r.`1`, array_min(r.`1`))")
        .cast("bigint")
        .alias("worker"),
        "makespan",
        "lower_bound",
        F.expr("makespan * 1000000L div lower_bound")
        .cast("bigint")
        .alias("ratio_micro"),
    )


# --- Join-key skew audit (shuffle-planning input) ------------------------

_SKEW_ORACLE = """
    WITH c AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(cnt) AS BIGINT) AS max_key_rows
      FROM c GROUP BY 1
    )
    SELECT s.event_type, s.n_rows, s.n_keys, s.max_key_rows,
           CAST(s.max_key_rows * 1000000 // s.n_rows AS BIGINT)
             AS max_share_micro,
           CAST(SUM(CASE WHEN c.cnt * s.n_keys >= 2 * s.n_rows
                         THEN 1 ELSE 0 END) AS BIGINT) AS hot_keys,
           CAST(s.max_key_rows * s.n_keys // s.n_rows * 1000000
                + s.max_key_rows * s.n_keys % s.n_rows
                  * 1000000 // s.n_rows AS BIGINT) AS skew_micro
    FROM c JOIN s USING (event_type)
    GROUP BY 1, 2, 3, 4, 5, 7
"""


@gate("op_data_skew_audit", _SKEW_ORACLE)
def op_data_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit per event type over the (event_type,
    user_id) shuffle key — the measurement that decides whether a
    downstream keyed join/aggregate needs salting or AQE skew-join
    before it runs at 100 TB: rows per hottest key, its share of the
    stream, the count of 'hot' keys (≥ 2x the mean), and the
    max/mean skew ratio in exact micro units.

    Exactness: the hot-key bar cnt ≥ 2·mean is evaluated as
    cnt·n_keys ≥ 2·n_rows (pure int64 cross-multiplication, no
    division); the skew ratio max/mean = max·n_keys/n_rows uses the
    divide-before-scale fixed point (quotient·1e6 + remainder·1e6 div
    n_rows).  Int64 bounds: cnt·n_keys and max·n_keys must fit —
    holds while max_key_rows · n_keys < 9.2e18 (a corpus where it
    doesn't has a skew ratio too extreme to need six decimals).

    Scale shape: one map-side-combined (type, key) count, a ≤|types|-
    row stats aggregate broadcast back over the per-key frame, one
    final aggregate — no sort, no window over the key table.
    """
    ev = read_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type", "user_id").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    s = c.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_keys"),
        F.max("cnt").cast("bigint").alias("max_key_rows"),
    )
    return (
        c.join(F.broadcast(s), "event_type")
        .groupBy("event_type", "n_rows", "n_keys", "max_key_rows")
        .agg(
            F.sum(
                (F.col("cnt") * F.col("n_keys") >= 2 * F.col("n_rows"))
                .cast("int")
            )
            .cast("bigint")
            .alias("hot_keys")
        )
        .select(
            "event_type",
            "n_rows",
            "n_keys",
            "max_key_rows",
            F.expr("max_key_rows * 1000000L div n_rows")
            .cast("bigint")
            .alias("max_share_micro"),
            "hot_keys",
            F.expr(
                "max_key_rows * n_keys div n_rows * 1000000L"
                " + max_key_rows * n_keys % n_rows * 1000000L div n_rows"
            )
            .cast("bigint")
            .alias("skew_micro"),
        )
    )
