"""Deterministic (hash-based) sampling and dataset splitting.

Training pipelines at corpus scale can't use RNG sampling: splits must
be STABLE under reprocessing, growing corpora, and repartitioning
(``df.sample`` draws per-task and changes membership when partitioning
changes). The standard answer is content-keyed hashing: bucket =
md5(salt || key), assignment by bucket range. Properties:

* No shuffle, no state — a narrow projection decides membership, so the
  sample composes with pushed-down filters and costs nothing at 100 TB.
* Stable — a document keeps its split forever, across runs and engines.
* Re-saltable — a new salt string is a fresh independent split.

Buckets compare as the first two hex chars of the digest (256 buckets,
lexicographic): hex strings order identically in every engine, which
sidesteps hex→int conversion differences. Threshold "g0" sorts above
"ff" and therefore means "keep all". md5 produces identical lowercase
hex in Spark, DuckDB, and Python — these operators are fully
oracle-able.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apitap_spark.registry import gate
from apitap_spark.session import read_table


SPLIT_SALT = "split-v1:"
TRAIN_MAX = "cc"  # 204/256 ~ 79.7%
VALID_MAX = "e6"  # +26/256 ~ 10.2%; rest ~ 10.2% test


def bucket_of(key_col, salt: str = SPLIT_SALT):
    """256-bucket deterministic assignment: first 2 hex chars of
    md5(salt || key)."""
    return F.substring(F.md5(F.concat(F.lit(salt), key_col.cast("string"))), 1, 2)


@gate(
    "op_split_train_valid_test",
    f"""
    SELECT doc_id, bucket,
           CASE WHEN bucket < '{TRAIN_MAX}' THEN 'train'
                WHEN bucket < '{VALID_MAX}' THEN 'valid'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             substring(md5('{SPLIT_SALT}' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
      FROM documents
    ) b
    """,
)
def op_split_train_valid_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable ~80/10/10 train/valid/test assignment keyed on doc_id.
    Pure projection — no shuffle, stable as the corpus grows, identical
    across engines (the CORRECTNESS gate hash-matches every row)."""
    docs = read_table(spark, sf_dir, "documents")
    b = bucket_of(F.col("doc_id"))
    return docs.select(
        "doc_id",
        b.alias("bucket"),
        F.when(b < TRAIN_MAX, "train")
        .when(b < VALID_MAX, "valid")
        .otherwise("test")
        .alias("split"),
    )


# Per-language keep-rate thresholds: rebalance the corpus by
# downsampling overrepresented languages. "g0" > "ff" = keep all.
STRATA_RATES = [
    ("en", "40"),  # 64/256 = 25%
    ("fr", "80"),  # 50%
    ("zh", "c0"),  # 75%
    ("de", "g0"),  # 100%
    ("es", "g0"),  # 100%
]


@gate(
    "op_stratified_sample",
    f"""
    WITH rates(lang, keep_below) AS (
      VALUES {", ".join(f"('{lang}', '{thr}')" for lang, thr in STRATA_RATES)}
    )
    SELECT d.doc_id, d.lang, d.bucket
    FROM (
      SELECT doc_id, lang,
             substring(md5('{SPLIT_SALT}' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
      FROM documents
    ) d
    JOIN rates r ON d.lang = r.lang
    WHERE d.bucket < r.keep_below
    """,
)
def op_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-language keep rates from a
    broadcast VALUES lookup (downsample overrepresented languages). The
    scale shape of ``df.sampleBy`` without its RNG instability — the
    rate table broadcasts, membership is a row-local predicate."""
    docs = read_table(spark, sf_dir, "documents")
    # inline VALUES → LocalRelation (createDataFrame's RDD path costs ~2s)
    rates = spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(f"('{lang}', '{thr}')" for lang, thr in STRATA_RATES)
        + " AS t(lang, keep_below)"
    )
    b = bucket_of(F.col("doc_id"))
    return (
        docs.select("doc_id", "lang", b.alias("bucket"))
        .join(F.broadcast(rates), "lang")
        .filter(F.col("bucket") < F.col("keep_below"))
        .select("doc_id", "lang", "bucket")
    )


BALANCE_SALT = "balance-v1:"


@gate(
    "op_cluster_balanced_sample",
    f"""
    WITH sized AS (
      SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label
    ),
    target AS (SELECT MIN(n) AS t FROM sized),
    ranked AS (
      SELECT vec_id, CAST(label AS BIGINT) AS label,
             ROW_NUMBER() OVER (
               PARTITION BY label
               ORDER BY md5('{BALANCE_SALT}' || CAST(vec_id AS VARCHAR)), vec_id
             ) AS rk
      FROM embeddings
    )
    SELECT vec_id, label, CAST(rk AS BIGINT) AS rk
    FROM ranked CROSS JOIN target WHERE rk <= t
    """,
)
def op_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced downsampling: keep exactly min-stratum-size rows
    per cluster label — the topic-rebalance step before training-set
    assembly (labels stand in for k-means cluster ids; op_kmeans_refine
    produces real ones).

    Selection ranks by a salted content hash, so membership is stable
    under reprocessing and corpus repartitioning (same invariance
    argument as the md5 split above, but exact per-stratum counts via
    ROW_NUMBER instead of approximate bucket-threshold rates — hex
    thresholds cannot hit data-dependent rates exactly). One window
    partitioned by label + one broadcast scalar: the per-label sort is
    the only cost beyond a scan, and it partitions by the stratum key.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    from pyspark.sql import Window

    sized = emb.groupBy("label").agg(F.count("*").alias("n"))
    target = sized.agg(F.min("n").alias("t"))
    w = Window.partitionBy("label").orderBy(
        F.md5(F.concat(F.lit(BALANCE_SALT), F.col("vec_id").cast("string"))),
        "vec_id",
    )
    ranked = emb.select(
        "vec_id",
        F.col("label").cast("bigint").alias("label"),
        F.row_number().over(w).cast("bigint").alias("rk"),
    )
    return ranked.crossJoin(F.broadcast(target)).filter(
        F.col("rk") <= F.col("t")
    ).select("vec_id", "label", "rk")


QUOTA_SALT = "quota-v1:"
QUOTA_PER_SOURCE = 15


@gate(
    "op_source_quota_sample",
    f"""
    SELECT doc_id, source, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5('{QUOTA_SALT}' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    ) r
    WHERE rn <= {QUOTA_PER_SOURCE}
    """,
)
def op_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota sampling: keep at most QUOTA_PER_SOURCE documents
    per source, chosen by a salted-hash order — the "no single crawl
    domain dominates the mix" curation step (the DoReMi/CCNet-style
    per-domain cap), deterministic under re-runs and corpus growth
    *within* the kept prefix.

    One window over the source partition (single shuffle on source);
    WindowGroupLimit prunes each partition to the quota before the
    filter at scale. A skewed mega-source concentrates its rows in one
    partition — at 100 TB pre-aggregate with a per-partition
    rank-and-discard (the op's hash order makes any partial top-k
    mergeable), or raise shuffle partitions; the kept set is identical.
    """
    docs = read_table(spark, sf_dir, "documents")
    order_key = F.md5(F.concat(F.lit(QUOTA_SALT), F.col("doc_id").cast("string")))
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(order_key, F.col("doc_id"))
    return (
        docs.select("doc_id", "source")
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= QUOTA_PER_SOURCE)
    )


LEAK_HEAD_TOKENS = 16  # head-fingerprint width for the leakage key


@gate(
    "op_split_leakage_audit",
    rf"""
    WITH assigned AS (
      SELECT doc_id,
             md5(array_to_string(
               string_split_regex(TRIM(text), '\s+')[1:{LEAK_HEAD_TOKENS}],
               ' ')) AS head_hash,
             CASE WHEN b < '{TRAIN_MAX}' THEN 'train'
                  WHEN b < '{VALID_MAX}' THEN 'valid'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id, text,
               substring(md5('{SPLIT_SALT}' || CAST(doc_id AS VARCHAR)), 1, 2)
                 AS b
        FROM documents WHERE LENGTH(TRIM(text)) > 0
      )
    )
    SELECT head_hash,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits,
           array_to_string(list_sort(list_distinct(list(split))), ',')
             AS splits
    FROM assigned
    GROUP BY head_hash
    HAVING COUNT(DISTINCT split) > 1
    """,
)
def op_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval leakage audit: near-duplicate groups — keyed on the
    md5 of each document's first LEAK_HEAD_TOKENS (16) tokens, the
    head-fingerprint blocking key a passage-dedup pass uses — whose
    members straddle more than one split of the stable doc_id-hash
    assignment. These are the documents a 'held-out' eval set silently
    shares (near-verbatim) with train; doc_id-hash splitting is stable
    but dup-oblivious, so dedup-then-split or this list must be empty
    (cf. the train-test overlap analyses in public LM evals). The head
    fingerprint deliberately catches near-dups that differ only in
    their tails — exact-hash auditing misses them.

    Output: (head_hash, n_docs, n_splits, splits) per leaking group.

    Scale: one projection (both hashes are per-row md5) + one
    head_hash-keyed aggregate — the same single shuffle op_dedup_exact
    pays; the HAVING filter prunes everything non-leaking before the
    result materializes.
    """
    from apitap_spark.functions.text import tokens

    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    b = bucket_of(F.col("doc_id"))
    head = F.md5(F.array_join(F.slice(tokens("text"), 1, LEAK_HEAD_TOKENS), " "))
    assigned = docs.select(
        head.alias("head_hash"),
        F.when(b < TRAIN_MAX, "train")
        .when(b < VALID_MAX, "valid")
        .otherwise("test")
        .alias("split"),
    )
    # collect_set once and derive BOTH n_splits and the csv from it:
    # countDistinct would expand to a two-level aggregate (an extra
    # (head_hash, split) exchange) — one shuffle instead of two.
    return (
        assigned.groupBy("head_hash")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.array_sort(F.collect_set("split")).alias("split_set"),
        )
        .filter(F.size("split_set") > 1)
        .select(
            "head_hash",
            "n_docs",
            F.size("split_set").cast("bigint").alias("n_splits"),
            F.array_join("split_set", ",").alias("splits"),
        )
    )


# --- Preference-pair construction (DPO/RLHF reward-data shaping) ---------

_DPO_ORACLE = r"""
    WITH tok AS (
      SELECT doc_id, lang, source,
             unnest(string_split_regex(TRIM(text), '\s+')) AS w
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    per_doc AS (
      SELECT doc_id, lang, source,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT w) AS BIGINT) AS n_types
      FROM tok GROUP BY doc_id, lang, source
    ),
    scored AS (
      SELECT doc_id, lang, source,
             CAST(FLOOR(1000000.0 * CAST(n_types AS DOUBLE)
                        / CAST(n_tokens AS DOUBLE)) AS BIGINT) AS score_micro
      FROM per_doc
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY lang, source
                                ORDER BY score_micro DESC, doc_id) AS rk_top,
             ROW_NUMBER() OVER (PARTITION BY lang, source
                                ORDER BY score_micro ASC, doc_id DESC) AS rk_bot
      FROM scored
    )
    SELECT t.lang, t.source, t.doc_id AS chosen_doc, b.doc_id AS rejected_doc,
           t.score_micro AS chosen_micro, b.score_micro AS rejected_micro,
           t.score_micro - b.score_micro AS margin_micro
    FROM ranked t
    JOIN ranked b ON t.lang = b.lang AND t.source = b.source
    WHERE t.rk_top = 1 AND b.rk_bot = 1 AND t.score_micro > b.score_micro
"""


@gate("op_sample_dpo_pairs", _DPO_ORACLE)
def op_sample_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction — the data-shaping step of
    DPO/RLHF reward training: within each (lang, source) stratum,
    pair the highest-scoring document (chosen) with the lowest
    (rejected) and carry the score margin. The score here is the
    type-token ratio in exact micro fixed point (FLOOR(1e6·types/
    tokens): one correctly-rounded IEEE division of exact integers —
    bit-identical both engines); production swaps in any reward model
    without touching the pairing plan.

    Determinism: chosen ties break toward the smaller doc_id, rejected
    ties toward the LARGER (opposite ends, so a two-doc tie still
    yields distinct docs); strata where best == worst (no signal, or a
    single doc) emit no pair — a margin-zero pair teaches nothing.

    Scale shape: one token-explode aggregation, then two row_number
    windows over the SAME (lang, source) partitioning — Catalyst
    computes both in one Window sort — and a self-join of two
    1-row-per-stratum sides. Stratum cardinality, not corpus size,
    bounds everything after the first groupBy.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    from apitap_spark.functions.text import tokens

    tok = docs.select(
        "doc_id", "lang", "source", F.explode(tokens("text")).alias("w")
    )
    per_doc = tok.groupBy("doc_id", "lang", "source").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.countDistinct("w").cast("bigint").alias("n_types"),
    )
    scored = per_doc.select(
        "doc_id",
        "lang",
        "source",
        F.floor(
            F.lit(1000000.0)
            * F.col("n_types").cast("double")
            / F.col("n_tokens").cast("double")
        )
        .cast("bigint")
        .alias("score_micro"),
    )
    from pyspark.sql import Window

    part = ["lang", "source"]
    w_top = Window.partitionBy(*part).orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    w_bot = Window.partitionBy(*part).orderBy(
        F.asc("score_micro"), F.desc("doc_id")
    )
    ranked = scored.select(
        "*",
        F.row_number().over(w_top).alias("rk_top"),
        F.row_number().over(w_bot).alias("rk_bot"),
    ).localCheckpoint()  # tiny after the window filters; feeds both sides
    top = ranked.filter(F.col("rk_top") == 1).select(
        "lang",
        "source",
        F.col("doc_id").alias("chosen_doc"),
        F.col("score_micro").alias("chosen_micro"),
    )
    bot = ranked.filter(F.col("rk_bot") == 1).select(
        "lang",
        "source",
        F.col("doc_id").alias("rejected_doc"),
        F.col("score_micro").alias("rejected_micro"),
    )
    return (
        top.join(bot, ["lang", "source"])
        .filter(F.col("chosen_micro") > F.col("rejected_micro"))
        .select(
            "lang",
            "source",
            "chosen_doc",
            "rejected_doc",
            "chosen_micro",
            "rejected_micro",
            (F.col("chosen_micro") - F.col("rejected_micro")).alias(
                "margin_micro"
            ),
        )
    )


# --- stratified k-fold assignment audit -------------------------------------

KFOLD_K = 5
KFOLD_SALT = "kf7"  # re-salting makes a fresh independent fold assignment


_KFOLD_ORACLE = f"""
    WITH f AS (
      SELECT CAST('0x' || substr(md5('{KFOLD_SALT}|' || CAST(doc_id AS VARCHAR)),
                  1, 15) AS BIGINT) % {KFOLD_K} AS fold,
             lang
      FROM documents
    ),
    cell AS (
      SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM f GROUP BY fold, lang
    ),
    w AS (
      SELECT fold, lang, n_docs,
             CAST(SUM(n_docs) OVER (PARTITION BY fold) AS BIGINT) AS fold_total,
             CAST(SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
             CAST(SUM(n_docs) OVER () AS BIGINT) AS n
      FROM cell
    )
    SELECT CAST(fold AS BIGINT) AS fold, lang, n_docs, fold_total,
           CAST(n_docs * 1000000 // fold_total AS BIGINT) AS share_micro,
           CAST(lang_total * 1000000 // n AS BIGINT) AS overall_share_micro,
           CAST(ABS(n_docs * 1000000 // fold_total
                    - lang_total * 1000000 // n) AS BIGINT) AS dev_micro
    FROM w
"""


@gate("op_stratified_kfold_assignment", _KFOLD_ORACLE)
def op_stratified_kfold_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic k-fold CV assignment + stratification audit: every
    document lands in fold md5(salt|doc_id) % 5 — stable under
    reprocessing, corpus growth, and repartitioning, like every split
    in this module — and the audit reports each (fold, lang) cell's
    within-fold share against the language's overall share. Hash folds
    are only *statistically* stratified; this measures the realized
    imbalance (dev_micro) a cross-validation run would actually train
    on, the check done before trusting per-fold metrics on a skewed
    corpus.

    Exactness: fold comes from the cross-engine 60-bit md5 hash; all
    shares are integer micros (bigint // bigint, non-negative) so the
    hash matches bit-for-bit.

    Scale shape: one narrow projection + one (fold, lang) map-side-
    combined aggregate; the share windows run over the k x |lang|
    aggregate rows (25 here), never the corpus. Output cardinality is
    k x |lang| at any corpus size.
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    f = docs.select(
        F.expr(
            f"CAST(conv(substr(md5(concat('{KFOLD_SALT}|', CAST(doc_id AS STRING))),"
            f" 1, 15), 16, 10) AS BIGINT) % {KFOLD_K}"
        ).alias("fold"),
        "lang",
    )
    cell = f.groupBy("fold", "lang").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    wf = Window.partitionBy("fold")
    wl = Window.partitionBy("lang")
    wa = Window.partitionBy()
    w = cell.select(
        F.col("fold").cast("bigint").alias("fold"),
        "lang",
        "n_docs",
        F.sum("n_docs").over(wf).cast("bigint").alias("fold_total"),
        F.sum("n_docs").over(wl).cast("bigint").alias("lang_total"),
        F.sum("n_docs").over(wa).cast("bigint").alias("n"),
    )
    share = F.expr("n_docs * 1000000L div fold_total")
    overall = F.expr("lang_total * 1000000L div n")
    return w.select(
        "fold",
        "lang",
        "n_docs",
        "fold_total",
        share.cast("bigint").alias("share_micro"),
        overall.cast("bigint").alias("overall_share_micro"),
        F.abs(share - overall).cast("bigint").alias("dev_micro"),
    )
