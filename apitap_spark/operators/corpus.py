"""Corpus-level training-data operators: benchmark-contamination checks,
source mixing weights, concat-and-chunk sequence packing, length
histograms, and embedding quantization.

These are the planning/bookkeeping passes of a pretraining-data build:
after per-document filters (textstats/textclean) and dedup (dedup.py),
a run decides WHAT to train on (mixing weights, contamination holdout)
and HOW to batch it (packing, length buckets, quantized embedding
store). Each oracle is exact: integer arithmetic throughout, or IEEE
double ops (+,*,/,abs,max) with identical evaluation shape both engines.

Beyond-reference operators sanctioned by the build brief; no counterpart
in /root/reference (SQL-only transform surface, src/pipeline/mod.rs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apitap_spark.functions.text import shingles, token_count, tokens
from apitap_spark.registry import gate
from apitap_spark.session import read_table


# Word n-gram length for the contamination check. Real evals use 8-13
# word grams; the synthetic corpus draws from a ~40-word vocabulary, so
# 3-grams give the non-degenerate overlap distribution the gate needs.
CONTAM_N = 3
# Every doc_id ≡ 0 (mod 97) plays the held-out benchmark set.
CONTAM_BENCH_MOD = 97


@gate(
    "op_contamination_ngram",
    rf"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, GREATEST(LEN(t) - {CONTAM_N - 1}, 0) + 1),
                           i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
      FROM tok
    ),
    bench AS (
      SELECT DISTINCT unnest(g) AS gram FROM grams
      WHERE doc_id % {CONTAM_BENCH_MOD} = 0
    ),
    corpus AS (
      SELECT doc_id, unnest(g) AS gram FROM grams
      WHERE doc_id % {CONTAM_BENCH_MOD} <> 0
    ),
    hits AS (
      SELECT c.doc_id, COUNT(*) AS n_shared
      FROM corpus c JOIN bench b ON c.gram = b.gram
      GROUP BY c.doc_id
    )
    SELECT g.doc_id,
           CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared_ngrams,
           COALESCE(h.n_shared, 0) > 0 AS contaminated
    FROM grams g LEFT JOIN hits h ON g.doc_id = h.doc_id
    WHERE g.doc_id % {CONTAM_BENCH_MOD} <> 0
    """,
)
def op_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination: count each training document's distinct
    word n-grams that also occur in the held-out benchmark set.

    Scale shape: the benchmark gram set is tiny relative to the corpus
    (evals are MBs, corpora are TBs) → broadcast it; the corpus side is
    one explode + one broadcast-hash semi-ish join + one groupBy on
    doc_id. No corpus-side self-shuffle. Grams are distinct per doc, so
    n_shared counts distinct shared grams.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    grams = docs.select("doc_id", shingles("text", CONTAM_N).alias("g"))
    is_bench = F.col("doc_id") % CONTAM_BENCH_MOD == 0
    bench = (
        grams.filter(is_bench)
        .select(F.explode("g").alias("gram"))
        .distinct()
    )
    corpus = grams.filter(~is_bench)
    hits = (
        corpus.select("doc_id", F.explode("g").alias("gram"))
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        corpus.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared_ngrams"),
            (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
        )
    )


@gate(
    "op_mixing_weights",
    r"""
    WITH per_source AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                           ELSE LEN(string_split_regex(TRIM(text), '\s+')) END)
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT SUM(n_tokens) AS total_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_sources
      FROM per_source
    ),
    shared AS (
      SELECT p.source, p.n_docs, p.n_tokens, t.n_sources,
             CAST(p.n_tokens AS DOUBLE) / t.total_tokens AS token_share,
             CAST(ROUND(sqrt(CAST(p.n_tokens AS DOUBLE) / t.total_tokens)
                        * 1000000.0, 0) AS BIGINT) AS sqrt_u
      FROM per_source p CROSS JOIN tot t
    ),
    tot2 AS (SELECT CAST(SUM(sqrt_u) AS BIGINT) AS tsu FROM shared)
    SELECT source, n_docs, n_tokens, token_share,
           (1.0 / n_sources) / token_share AS sample_weight,
           CAST(sqrt_u AS DOUBLE) / CAST(tsu AS DOUBLE) AS temp_share,
           (CAST(sqrt_u AS DOUBLE) / CAST(tsu AS DOUBLE)) / token_share
             AS temp_weight
    FROM shared CROSS JOIN tot2
    """,
)
def op_mixing_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source mixing weights: per-source token shares plus TWO target
    mixes — uniform (weight = target_share / actual_share; >1 upsamples)
    and sqrt-temperature (temp_share ∝ sqrt(share), the α=0.5
    temperature sampling of multilingual/pretraining mixes à la
    mT5/UNIMAX: flattens dominant sources without going fully uniform).

    sqrt is IEEE-correctly-rounded (bit-exact across engines — unlike
    pow/ln), and the temperature normalizer sums micro-rounded bigints
    (order-independent), so the whole gate stays hash-checked.

    One partial-agg groupBy on source (source cardinality is tiny) plus
    scalar cross joins — the whole pass is map-side at 100 TB.
    """
    docs = read_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(token_count("text")).cast("bigint").alias("n_tokens"),
    ).localCheckpoint()
    # ^ source-cardinality; feeds tot, shared, AND tot2's re-derivation —
    # without the checkpoint the corpus tokenization pass runs 4x.
    tot = per_source.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count("*").cast("bigint").alias("n_sources"),
    )
    share = F.col("n_tokens").cast("double") / F.col("total_tokens")
    shared = per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        "n_sources",
        share.alias("token_share"),
        F.round(F.sqrt(share) * F.lit(1000000.0), 0)
        .cast("bigint")
        .alias("sqrt_u"),
    )
    tot2 = shared.agg(F.sum("sqrt_u").cast("bigint").alias("tsu"))
    temp_share = F.col("sqrt_u").cast("double") / F.col("tsu").cast("double")
    return shared.crossJoin(F.broadcast(tot2)).select(
        "source",
        "n_docs",
        "n_tokens",
        "token_share",
        ((1.0 / F.col("n_sources")) / F.col("token_share")).alias(
            "sample_weight"
        ),
        temp_share.alias("temp_share"),
        (temp_share / F.col("token_share")).alias("temp_weight"),
    )


PACK_CONTEXT = 1024  # tokens per packed training sequence


@gate(
    "op_pack_sequences",
    rf"""
    WITH tok AS (
      SELECT doc_id, lang,
             CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                       ELSE LEN(string_split_regex(TRIM(text), '\s+')) END
                  AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, lang, n_tokens,
             -- CAST: DuckDB SUM(BIGINT) is HUGEINT, and .df() renders
             -- HUGEINT as float64 — the driver's pandas hash then sees
             -- 0.0 vs Spark's int64 0 (round-3 red)
             CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
               AS start_offset
      FROM tok
    )
    SELECT doc_id, lang, n_tokens,
           CAST(start_offset // {PACK_CONTEXT} AS BIGINT) AS chunk_id,
           CAST(start_offset % {PACK_CONTEXT} AS BIGINT) AS chunk_offset
    FROM packed
    """,
)
def op_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: within each shard (lang),
    documents are concatenated in doc_id order and split into
    fixed-length training sequences; each document is assigned the chunk
    containing its first token.

    This is the standard pretraining packing layout. The shard key keeps
    the running-sum window partitioned (one shuffle, no global sort) —
    at 100 TB the shard would be (source, file-split) with thousands of
    partitions; the semantics are per-shard and unchanged.
    """
    docs = read_table(spark, sf_dir, "documents")
    n_tok = token_count("text")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = docs.select("doc_id", "lang", n_tok.alias("n_tokens"))
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_offset")
    packed = d.select("doc_id", "lang", "n_tokens", start)
    return packed.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(F.col("start_offset") / PACK_CONTEXT).alias("chunk_id"),
        (F.col("start_offset") % PACK_CONTEXT).alias("chunk_offset"),
    )


# Power-of-two token-count bucket ladder (CASE, not floor(log2): float
# log at exact powers of two is engine-dependent; integer compares are not).
LENGTH_BUCKETS = [16, 32, 64, 128, 256, 512]


def _bucket_sql() -> str:
    whens = " ".join(
        f"WHEN n_tokens < {b} THEN '<{b}'" for b in LENGTH_BUCKETS
    )
    return f"CASE {whens} ELSE '>={LENGTH_BUCKETS[-1]}' END"


@gate(
    "op_length_histogram",
    rf"""
    WITH tok AS (
      SELECT CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                       ELSE LEN(string_split_regex(TRIM(text), '\s+')) END
                  AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT {_bucket_sql()} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM tok GROUP BY 1
    """,
)
def op_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram over power-of-two buckets — the input to
    packing-efficiency and truncation-loss estimates before a training
    run. Pure partial-agg groupBy on a derived label: map-side at scale."""
    docs = read_table(spark, sf_dir, "documents")
    n_tok = token_count("text")
    bucket = F.when(n_tok < LENGTH_BUCKETS[0], f"<{LENGTH_BUCKETS[0]}")
    for b in LENGTH_BUCKETS[1:]:
        bucket = bucket.when(n_tok < b, f"<{b}")
    bucket = bucket.otherwise(f">={LENGTH_BUCKETS[-1]}")
    return (
        docs.select(bucket.alias("bucket"), n_tok.alias("n_tokens"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            (F.sum("n_tokens").cast("double") / F.count("*")).alias("avg_tokens"),
        )
    )


QUANT_BITS_MAX = 127  # int8 symmetric range


@gate(
    "op_embedding_quantize",
    f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    scaled AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) / {QUANT_BITS_MAX} AS scale
      FROM v
    )
    SELECT vec_id, scale,
           CASE WHEN scale = 0 THEN 0.0
                ELSE list_max(list_transform(e,
                       x -> abs(floor(x / scale + 0.5) * scale - x)))
           END AS max_abs_err,
           CAST(CASE WHEN scale = 0 THEN 0
                ELSE LEN(list_filter(e, x -> floor(x / scale + 0.5) <> 0))
           END AS BIGINT) AS n_nonzero
    FROM scaled
    """,
)
def op_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization audit: per-vector scale
    (max|x|/127), worst-case dequantization error, and nonzero-code
    count — the storage-planning pass for a quantized ANN index.

    Rounding is floor(x/scale + 0.5) (round-half-up): bit-identical in
    IEEE doubles on both engines, unlike round() whose half-even vs
    half-away tie rule differs. max() is order-independent, so the
    oracle is exact with no sum-ordering caveats. Pure projection —
    map-side at any scale.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    d = emb.select("vec_id", e.alias("e"))
    scale = (
        F.array_max(F.transform("e", lambda x: F.abs(x))) / QUANT_BITS_MAX
    ).alias("scale")
    scaled = d.select("vec_id", "e", scale)
    err = F.array_max(
        F.transform(
            "e", lambda x: F.abs(F.floor(x / F.col("scale") + 0.5) * F.col("scale") - x)
        )
    )
    nz = F.size(
        F.filter("e", lambda x: F.floor(x / F.col("scale") + 0.5) != 0)
    )
    return scaled.select(
        "vec_id",
        "scale",
        F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(err).alias("max_abs_err"),
        F.when(F.col("scale") == 0, F.lit(0))
        .otherwise(nz)
        .cast("bigint")
        .alias("n_nonzero"),
    )


@gate(
    "op_source_concentration",
    r"""
    WITH per_source AS (
      SELECT source,
             CAST(SUM(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                           ELSE LEN(string_split_regex(TRIM(text), '\s+')) END)
                  AS BIGINT) AS tok
      FROM documents GROUP BY source
    ),
    ranked AS (
      SELECT source, tok,
             ROW_NUMBER() OVER (ORDER BY tok, source) AS i,
             COUNT(*) OVER () AS n,
             SUM(tok) OVER () AS total
      FROM per_source
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_sources,
           CAST(MAX(total) AS BIGINT) AS total_tokens,
           ROUND(CAST(2 * SUM(i * tok) AS DOUBLE) / (MAX(n) * MAX(total))
                 - CAST(MAX(n) + 1 AS DOUBLE) / MAX(n), 6) AS gini
    FROM ranked
    """,
)
def op_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-concentration Gini coefficient over token contributions —
    the one-number mixing diagnostic (0 = perfectly balanced corpus,
    →1 = one source dominates) computed from the standard rank formula
    G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n over ascending-sorted sources.

    Every sum is integer (token counts, rank products) so the double
    assembly at the end is a fixed IEEE expression — exact oracle. The
    global window runs over ONE row per source (source cardinality),
    never over documents; the corpus-sized work is the same map-side
    token count the mixing-weights op does.
    """
    docs = read_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(token_count("text")).cast("bigint").alias("tok")
    )
    w_rank = Window.orderBy("tok", "source")
    w_all = Window.partitionBy()
    ranked = per_source.select(
        "tok",
        F.row_number().over(w_rank).alias("i"),
        F.count("*").over(w_all).alias("n"),
        F.sum("tok").over(w_all).alias("total"),
    )
    gini = (
        (2 * F.sum(F.col("i") * F.col("tok"))).cast("double")
        / (F.max("n") * F.max("total"))
        - (F.max("n") + 1).cast("double") / F.max("n")
    )
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_sources"),
        F.max("total").cast("bigint").alias("total_tokens"),
        F.round(gini, 6).alias("gini"),
    )


WEIGHTED_SALT = "wsample-v1:"


@gate(
    "op_weighted_sample",
    rf"""
    WITH per_source AS (
      SELECT source,
             CAST(SUM(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                           ELSE LEN(string_split_regex(TRIM(text), '\s+')) END)
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT SUM(n_tokens) AS total_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_sources
      FROM per_source
    ),
    rates AS (
      SELECT source,
             LEAST(1.0, (1.0 / t.n_sources)
                        / (CAST(p.n_tokens AS DOUBLE) / t.total_tokens)) AS rate
      FROM per_source p CROSS JOIN tot t
    ),
    bucketed AS (
      SELECT d.doc_id, d.source, r.rate,
             (strpos('0123456789abcdef',
                     substr(md5('{WEIGHTED_SALT}' || CAST(d.doc_id AS VARCHAR)), 1, 1)) - 1) * 16
             + strpos('0123456789abcdef',
                      substr(md5('{WEIGHTED_SALT}' || CAST(d.doc_id AS VARCHAR)), 2, 1)) - 1
               AS bucket
      FROM documents d JOIN rates r ON d.source = r.source
    )
    SELECT doc_id, source, ROUND(rate, 6) AS keep_rate,
           bucket < FLOOR(rate * 256) AS kept
    FROM bucketed
    """,
)
def op_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted downsampling to the uniform source mix:
    each document keeps with probability min(1, target_share /
    actual_share) — the enforcement half of op_mixing_weights, closing
    the rebalance loop (compute weights → apply them reproducibly).

    Membership is md5-bucket < floor(rate·256): content-keyed (stable
    under reprocessing/repartition, same argument as the split ops), and
    the 256-bucket integer comparison is exact cross-engine — the
    bucket id comes from hex-digit position arithmetic and the
    threshold through FLOOR (never a float→int CAST, whose truncate-vs-
    round rule differs between engines). Zero corpus shuffle: the rate
    table is source-cardinality and broadcasts.
    """
    docs = read_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(token_count("text")).cast("bigint").alias("n_tokens")
    ).localCheckpoint()  # feeds tot AND rates: one tokenization pass, not two
    tot = per_source.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count("*").cast("bigint").alias("n_sources"),
    )
    rates = per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0),
            (1.0 / F.col("n_sources"))
            / (F.col("n_tokens").cast("double") / F.col("total_tokens")),
        ).alias("rate"),
    )
    hexd = "0123456789abcdef"
    h = F.md5(F.concat(F.lit(WEIGHTED_SALT), F.col("doc_id").cast("string")))
    bucket = (
        (F.instr(F.lit(hexd), F.substring(h, 1, 1)) - 1) * 16
        + F.instr(F.lit(hexd), F.substring(h, 2, 1))
        - 1
    )
    return (
        docs.select("doc_id", "source")
        .join(F.broadcast(rates), "source")
        .select(
            "doc_id",
            "source",
            F.round("rate", 6).alias("keep_rate"),
            (bucket < F.floor(F.col("rate") * 256)).alias("kept"),
        )
    )


@gate(
    "op_corpus_summary_card",
    r"""
    WITH base AS (
      SELECT doc_id, text, lang, source,
             CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                  ELSE LEN(string_split_regex(TRIM(text), '\s+')) END AS ntok,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
      FROM documents
    ),
    dup AS (SELECT COUNT(*) - COUNT(DISTINCT h) AS n_dup_docs FROM base)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           CAST(SUM(ntok) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN ntok = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
           CAST(MIN(ntok) AS BIGINT) AS min_tokens,
           CAST(MAX(ntok) AS BIGINT) AS max_tokens,
           ROUND(CAST(SUM(ntok) AS DOUBLE) / COUNT(*), 6) AS avg_tokens,
           CAST((SELECT n_dup_docs FROM dup) AS BIGINT) AS n_exact_dup_docs,
           ROUND(CAST((SELECT n_dup_docs FROM dup) AS DOUBLE) / COUNT(*), 6)
             AS exact_dup_rate
    FROM base
    """,
)
def op_corpus_summary_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus card: the dataset-datasheet header a training run
    records per snapshot — doc/source/language counts, token and char
    volume, empty-doc count, token-length extremes, and the exact-dup
    rate (1 - distinct normalized hashes / docs).

    Single scan, single global aggregate (every statistic is a partial-
    aggregable count/sum/min/max — one tiny row crosses the shuffle;
    the two COUNT(DISTINCT dim) run on dimension-cardinality columns).
    Counts are integers, the two ratios are one exact double division
    each — oracle-exact at any scale.
    """
    from apitap_spark.functions.text import normalize_ws

    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").alias("nchar"),
        token_count("text").alias("ntok"),
        F.md5(normalize_ws("text")).alias("h"),
    )
    n = F.count("*")
    return base.agg(
        n.cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("nchar").cast("bigint").alias("total_chars"),
        F.sum("ntok").cast("bigint").alias("total_tokens"),
        F.sum(F.when(F.col("ntok") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_empty"),
        F.min("ntok").cast("bigint").alias("min_tokens"),
        F.max("ntok").cast("bigint").alias("max_tokens"),
        F.round(F.sum("ntok").cast("double") / n, 6).alias("avg_tokens"),
        (n - F.countDistinct("h")).cast("bigint").alias("n_exact_dup_docs"),
        F.round((n - F.countDistinct("h")).cast("double") / n, 6).alias(
            "exact_dup_rate"
        ),
    )


SHARD_TARGET_TOKENS = 2000  # tokens per output shard (testdata-sized)
SHARD_BUCKETS = 64  # phase-1 buckets; scale knob = shuffle width


@gate(
    "op_shard_plan",
    rf"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                  ELSE LEN(string_split_regex(TRIM(text), '\s+')) END AS ntok,
             md5('shard-v1:' || CAST(doc_id AS VARCHAR)) AS hkey
      FROM documents
    ),
    cum AS (
      SELECT doc_id, ntok, hkey,
             SUM(ntok) OVER (ORDER BY hkey, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM base
    )
    SELECT doc_id, CAST(ntok AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(FLOOR((cum_tokens - ntok) / {SHARD_TARGET_TOKENS}) AS BIGINT)
             AS shard
    FROM cum
    """,
)
def op_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced shard assignment: place documents (in a stable
    salted-hash order) into consecutive shards of ~SHARD_TARGET_TOKENS
    tokens each — the write-planning pass that sizes training-data
    shards evenly instead of by row count.

    The global running token sum is computed as a TWO-PHASE distributed
    prefix sum — the textbook fix for the single-partition global
    window (`OVER (ORDER BY ...)` with no PARTITION BY collapses ALL
    rows into one task; the straggler anti-pattern):

    1. rows hash into SHARD_BUCKETS ordered buckets (first 2 hex chars
       of the order key, zero-padded comparison-safe); per-bucket token
       sums — SHARD_BUCKETS tiny rows — aggregate and broadcast back as
       running bucket OFFSETS;
    2. each bucket computes its LOCAL prefix sum in parallel (window
       partitioned BY bucket) and adds its offset.

    The oracle is the plain global-window formulation — the two-phase
    plan must reproduce it row-for-row. Scale: phase 1 is a
    dimension-sized aggregate; phase 2's widest window partition is
    corpus/SHARD_BUCKETS (the knob grows with the cluster).
    """
    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        token_count("text").alias("ntok"),
        F.md5(F.concat(F.lit("shard-v1:"), F.col("doc_id").cast("string"))).alias(
            "hkey"
        ),
    # bucket = first 2 hex chars: 256 values folded into SHARD_BUCKETS
    # contiguous ranges, preserving hkey order across bucket boundaries
    ).withColumn(
        "bucket",
        (F.conv(F.substring("hkey", 1, 2), 16, 10).cast("int") / (256 // SHARD_BUCKETS))
        .cast("int"),
    ).localCheckpoint()
    # ^ doc-cardinality (id, ntok, hkey, bucket); feeds the phase-1
    # bucket totals AND the phase-2 probe — one tokenization pass, not two
    offsets = (
        base.groupBy("bucket")
        .agg(F.sum("ntok").alias("btok"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("btok").over(
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bucket", "offset")
    )
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("hkey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        base.join(F.broadcast(offsets), "bucket")
        .withColumn("cum_tokens", F.sum("ntok").over(w_local) + F.col("offset"))
    )
    return cum.select(
        "doc_id",
        F.col("ntok").cast("bigint").alias("n_tokens"),
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        F.floor(
            (F.col("cum_tokens") - F.col("ntok")) / SHARD_TARGET_TOKENS
        ).cast("bigint").alias("shard"),
    )


@gate(
    "op_lm_perplexity",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(TRIM(text), '\s+')) AS w
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    vocab AS (SELECT w, COUNT(*) AS cw FROM tok GROUP BY w),
    tot AS (SELECT CAST(SUM(cw) + COUNT(*) AS DOUBLE) AS denom FROM vocab),
    nll AS (
      SELECT w, CAST(ROUND(-ln(CAST(cw + 1 AS DOUBLE) / denom) * 1000000.0, 0)
                 AS BIGINT) AS nll_u
      FROM vocab, tot
    ),
    dw AS (SELECT doc_id, w, COUNT(*) AS cdw FROM tok GROUP BY doc_id, w)
    SELECT doc_id,
           CAST(SUM(cdw) AS BIGINT) AS n_tokens,
           CAST(SUM(cdw * nll_u) AS BIGINT) AS sum_nll_micro,
           CAST(SUM(cdw * nll_u) AS DOUBLE) / 1000000.0
             / CAST(SUM(cdw) AS DOUBLE) AS avg_nll
    FROM dw JOIN nll USING (w) GROUP BY doc_id
    """,
)
def op_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average negative log-likelihood under an add-one-
    smoothed corpus unigram LM — the CCNet-style statistical quality
    filter: documents scoring far above corpus-typical NLL are
    gibberish/boilerplate candidates, far below are degenerate
    repetition. perplexity = exp(avg_nll) is a trivial monotone
    post-projection (``with_perplexity``).

    p(w) = (c(w)+1) / (T+V). The LM "training" is the corpus token
    count table (one groupBy); scoring joins each document's (doc,
    token, count) rows to it on token and reduces per doc — two linear
    shuffles total.

    Fixed-point oracle (round-2 verdict #5 — previously rows-only):
    each token's -ln p(w) is rounded ONCE to integer micro-nats
    (``nll_u``), computed per DISTINCT vocab word; all downstream
    arithmetic (cdw*nll_u products, per-doc sums) is exact bigint, and
    avg_nll divides the bigint sum in IEEE doubles in a fixed op order,
    so every checked cell is bit-identical across engines. Java ln and
    libm ln differ at the last ulp on ~5% of inputs (abs ~1e-15 at
    these magnitudes); against a 1e-6 grid the per-word flake
    probability is ~1e-9 — negligible even cumulated over the vocab.
    exp stays OUT of the checked output per the same policy.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    vocab = tok.groupBy("w").agg(F.count("*").alias("cw")).persist()
    try:
        totals = vocab.agg(
            F.sum("cw").alias("t"), F.count("*").alias("v")
        ).collect()[0]
        denom = float(totals["t"] + totals["v"])
        nll = vocab.select(
            "w",
            F.round(
                -F.log((F.col("cw") + F.lit(1)).cast("double") / F.lit(denom))
                * F.lit(1000000.0),
                0,
            )
            .cast("bigint")
            .alias("nll_u"),
        )
        dw = tok.groupBy("doc_id", "w").agg(F.count("*").alias("cdw"))
        out = dw.join(nll, "w").groupBy("doc_id").agg(
            F.sum("cdw").cast("bigint").alias("n_tokens"),
            F.sum(F.col("cdw") * F.col("nll_u")).cast("bigint").alias(
                "sum_nll_micro"
            ),
            (
                F.sum(F.col("cdw") * F.col("nll_u")).cast("double")
                / F.lit(1000000.0)
                / F.sum("cdw").cast("double")
            ).alias("avg_nll"),
        )
        # materialize before unpersisting the vocab this plan references
        out = out.localCheckpoint()
    finally:
        vocab.unpersist()
    return out


def with_perplexity(df: DataFrame) -> DataFrame:
    """exp(avg_nll) post-projection over :func:`op_lm_perplexity` output
    (kept out of the oracle-checked gate: exp is last-ulp engine-specific)."""
    return df.withColumn("perplexity", F.exp("avg_nll"))


@gate(
    "op_unigram_shift",
    r"""
    WITH tok AS (
      SELECT lang, unnest(string_split_regex(TRIM(text), '\s+')) AS w
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    counts AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY lang, w
    ),
    totals AS (
      SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY lang
    ),
    shared AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b,
             CAST(COUNT(*) AS BIGINT) AS shared_types,
             CAST(SUM(a.c) AS BIGINT) AS s_a,
             CAST(SUM(b.c) AS BIGINT) AS s_b,
             CAST(SUM(ABS(a.c * tb.n - b.c * ta.n)) AS BIGINT) AS cross_num
      FROM counts a
      JOIN counts b ON a.w = b.w AND a.lang < b.lang
      JOIN totals ta ON ta.lang = a.lang
      JOIN totals tb ON tb.lang = b.lang
      GROUP BY a.lang, b.lang
    )
    SELECT s.lang_a, s.lang_b, ta.n AS tokens_a, tb.n AS tokens_b,
           s.shared_types,
           CAST(s.cross_num + (ta.n - s.s_a) * tb.n + (tb.n - s.s_b) * ta.n
                AS DOUBLE)
             / CAST(2 * ta.n * tb.n AS DOUBLE) AS tv_distance
    FROM shared s
    JOIN totals ta ON ta.lang = s.lang_a
    JOIN totals tb ON tb.lang = s.lang_b
    """,
)
def op_unigram_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution shift between language shards: exact total-variation
    distance between unigram distributions, TV = 0.5 * sum_w |p_a(w) -
    p_b(w)| — the mixture-design / domain-shift diagnostic a pretraining
    run checks when re-weighting sources (KL needs log, which is
    engine-specific to the last ulp; TV is the rational alternative and
    an L1 bound on any downstream probability difference).

    All arithmetic is integer until one final division: |c_a*n_b -
    c_b*n_a| sums over SHARED words only, and each side's absent-word
    mass enters in closed form as (n - sum_shared_c) * n_other, so no
    full-outer join is needed — one word-keyed inner join + a
    pair-keyed integer aggregate. At web scale the products stay inside
    int64 while n_a*n_b < 9e18 (i.e. shards under ~3e9 tokens); larger
    shards bucket the vocab and sum per-bucket TVs, or move the
    accumulator to DECIMAL(38,0).

    Output: (lang_a, lang_b, tokens_a, tokens_b, shared_types,
    tv_distance) for every unordered shard pair.
    """
    from apitap_spark.functions.text import tokens

    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    tok = docs.select("lang", F.explode(tokens("text")).alias("w"))
    counts = tok.groupBy("lang", "w").agg(F.count("*").cast("bigint").alias("c"))
    totals = counts.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n"))
    a = counts.select(
        F.col("lang").alias("lang_a"), "w", F.col("c").alias("c_a")
    )
    b = counts.select(
        F.col("lang").alias("lang_b"), "w", F.col("c").alias("c_b")
    )
    ta = totals.select(F.col("lang").alias("lang_a"), F.col("n").alias("n_a"))
    tb = totals.select(F.col("lang").alias("lang_b"), F.col("n").alias("n_b"))
    shared = (
        a.join(b, "w")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .join(F.broadcast(ta), "lang_a")
        .join(F.broadcast(tb), "lang_b")
        .groupBy("lang_a", "lang_b")
        .agg(
            F.count("*").cast("bigint").alias("shared_types"),
            F.sum("c_a").cast("bigint").alias("s_a"),
            F.sum("c_b").cast("bigint").alias("s_b"),
            F.sum(
                F.abs(F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a"))
            )
            .cast("bigint")
            .alias("cross_num"),
        )
    )
    out = shared.join(F.broadcast(ta), "lang_a").join(F.broadcast(tb), "lang_b")
    num = (
        F.col("cross_num")
        + (F.col("n_a") - F.col("s_a")) * F.col("n_b")
        + (F.col("n_b") - F.col("s_b")) * F.col("n_a")
    )
    return out.select(
        "lang_a",
        "lang_b",
        F.col("n_a").alias("tokens_a"),
        F.col("n_b").alias("tokens_b"),
        "shared_types",
        (
            num.cast("double")
            / (F.lit(2) * F.col("n_a") * F.col("n_b")).cast("double")
        ).alias("tv_distance"),
    )


OVERLAP_HEAD_TOKENS = 16  # same head-fingerprint blocking key as leakage


@gate(
    "op_source_overlap_matrix",
    rf"""
    WITH keyed AS (
      SELECT source,
             md5(array_to_string(
               string_split_regex(TRIM(text), '\s+')[1:{OVERLAP_HEAD_TOKENS}],
               ' ')) AS head_hash
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    per_source AS (
      SELECT source, head_hash, CAST(COUNT(*) AS BIGINT) AS c
      FROM keyed GROUP BY source, head_hash
    ),
    totals AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM per_source
      GROUP BY source
    ),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS shared_heads,
             CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS shared_docs
      FROM per_source a
      JOIN per_source b ON a.head_hash = b.head_hash AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT s.source_a, s.source_b, s.shared_heads, s.shared_docs,
           ta.n AS docs_a, tb.n AS docs_b,
           CAST(s.shared_docs AS DOUBLE)
             / CAST(LEAST(ta.n, tb.n) AS DOUBLE) AS overlap_ratio
    FROM shared s
    JOIN totals ta ON ta.source = s.source_a
    JOIN totals tb ON tb.source = s.source_b
    """,
)
def op_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how many
    head-fingerprint groups (and min-matched documents) they share,
    normalized by the smaller source — the mixing-design diagnostic
    that catches mirror sites and re-crawls BEFORE their duplicates
    inflate a source's mixing weight (two 30%-overlapping crawls are
    not two independent sources).

    Scale: per-source fingerprint counts partial-aggregate map-side;
    the pair join keys on head_hash (the same single corpus shuffle the
    dedup rungs pay) and the source-pair aggregate is |sources|^2-
    bounded — tiny. Counts are integers; one final division.
    """
    from apitap_spark.functions.text import tokens

    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    keyed = docs.select(
        "source",
        F.md5(
            F.array_join(F.slice(tokens("text"), 1, OVERLAP_HEAD_TOKENS), " ")
        ).alias("head_hash"),
    )
    per_source = keyed.groupBy("source", "head_hash").agg(
        F.count("*").cast("bigint").alias("c")
    )
    totals = per_source.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    a = per_source.select(
        F.col("source").alias("source_a"), "head_hash", F.col("c").alias("ca")
    )
    b = per_source.select(
        F.col("source").alias("source_b"), "head_hash", F.col("c").alias("cb")
    )
    shared = (
        a.join(b, "head_hash")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("bigint").alias("shared_heads"),
            F.sum(F.least("ca", "cb")).cast("bigint").alias("shared_docs"),
        )
    )
    ta = totals.select(F.col("source").alias("source_a"), F.col("n").alias("docs_a"))
    tb = totals.select(F.col("source").alias("source_b"), F.col("n").alias("docs_b"))
    return (
        shared.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_heads",
            "shared_docs",
            "docs_a",
            "docs_b",
            (
                F.col("shared_docs").cast("double")
                / F.least("docs_a", "docs_b").cast("double")
            ).alias("overlap_ratio"),
        )
    )


# --- Benchmark vocabulary coverage -------------------------------------------

# Same gram order + holdout rule as op_contamination_ngram: this gate is
# its complement. Contamination asks "does training data leak INTO the
# benchmark"; coverage asks "does the corpus SPEAK the benchmark's
# language at all" — the domain-fit audit run before fine-tuning.
COVERAGE_N = CONTAM_N
COVERAGE_BENCH_MOD = CONTAM_BENCH_MOD


def _vocab_coverage_oracle() -> str:
    return rf"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, GREATEST(LEN(t) - {COVERAGE_N - 1}, 0) + 1),
               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS g
      FROM tok
    ),
    bench AS (
      SELECT doc_id, g FROM grams WHERE doc_id % {COVERAGE_BENCH_MOD} = 0
    ),
    corpus_set AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % {COVERAGE_BENCH_MOD} <> 0
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN c.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_covered,
           CAST(SUM(CASE WHEN c.g IS NOT NULL THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS coverage_micro
    FROM bench b LEFT JOIN corpus_set c USING (g)
    GROUP BY b.doc_id
    """


@gate("op_benchmark_vocab_coverage", _vocab_coverage_oracle())
def op_benchmark_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark vocabulary coverage — the complement of
    op_contamination_ngram: for each held-out benchmark document, the
    fraction of its distinct word {COVERAGE_N}-grams the training
    corpus contains at all. Contamination checks leakage INTO the eval;
    coverage checks whether the corpus speaks the eval's language —
    low coverage predicts out-of-domain evals before any training run.

    Scale shape: ONLY bench-bounded state ever moves. The bench gram
    set (evals are MBs, corpora TBs) broadcasts into the corpus gram
    stream, which therefore never shuffles — the surviving "present"
    set is ≤ |bench| and distincts in one tiny aggregate, then
    broadcasts back onto the bench rows. The corpus-distinct gram set
    is never materialized or broadcast (it is corpus-sized); the final
    groupBy is benchmark-doc-cardinality.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    grams = docs.select(
        "doc_id", F.explode(shingles("text", COVERAGE_N)).alias("g")
    )
    bench = grams.filter(
        F.col("doc_id") % COVERAGE_BENCH_MOD == 0
    ).localCheckpoint()  # bench-sized; feeds the set probe AND the output
    bench_set = bench.select("g").distinct()
    present = (
        grams.filter(F.col("doc_id") % COVERAGE_BENCH_MOD != 0)
        .join(F.broadcast(bench_set), "g")
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        bench.join(F.broadcast(present), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_covered"),
            F.expr(
                "sum(coalesce(hit, 0)) * 1000000 div count(*)"
            )
            .cast("bigint")
            .alias("coverage_micro"),
        )
    )


# --- DSIR hashed-ngram importance weights (Xie et al. 2023) --------------

DSIR_SALT = "dsir1"
DSIR_BUCKETS = 4096
DSIR_TARGET_LANG = "en"

_DSIR_BIGRAMS_SQL = (
    r"list_transform(range(1, len({t})), i -> {t}[i] || ' ' || {t}[i+1])"
)
_DSIR_TOKS_SQL = r"string_split_regex(TRIM(text), '\s+')"


def _dsir_oracle() -> str:
    toks = _DSIR_TOKS_SQL
    grams = _DSIR_BIGRAMS_SQL.format(t="toks")
    bucket = (
        f"CAST('0x' || substr(md5('{DSIR_SALT}|' || g), 1, 15) AS BIGINT)"
        f" % {DSIR_BUCKETS}"
    )
    return f"""
    WITH d AS (
      SELECT doc_id, lang, {toks} AS toks FROM documents
      WHERE LEN({toks}) >= 2
    ),
    feat AS (
      SELECT doc_id, lang, {bucket} AS f
      FROM (SELECT doc_id, lang, unnest({grams}) AS g FROM d)
    ),
    raw AS (
      SELECT f, CAST(COUNT(*) AS BIGINT) AS c_r FROM feat GROUP BY f
    ),
    tgt AS (
      SELECT f, CAST(COUNT(*) AS BIGINT) AS c_t FROM feat
      WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY f
    ),
    tot AS (
      SELECT CAST(SUM(c_r) AS BIGINT) AS n_r,
             (SELECT CAST(COALESCE(SUM(c_t), 0) AS BIGINT) FROM tgt) AS n_t
      FROM raw
    ),
    w AS (
      SELECT raw.f,
             CAST(ROUND(ln(
               (CAST(COALESCE(tgt.c_t, 0) + 1 AS DOUBLE)
                  * CAST(tot.n_r + {DSIR_BUCKETS} AS DOUBLE))
               / (CAST(raw.c_r + 1 AS DOUBLE)
                  * CAST(tot.n_t + {DSIR_BUCKETS} AS DOUBLE))
             ) * 1000000.0, 0) AS BIGINT) AS du
      FROM raw LEFT JOIN tgt ON tgt.f = raw.f CROSS JOIN tot
    ),
    per_doc AS (
      SELECT feat.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(w.du) AS BIGINT) AS weight_micro
      FROM feat JOIN w ON w.f = feat.f
      GROUP BY feat.doc_id
    )
    SELECT d.doc_id, d.lang, p.n_grams, p.weight_micro
    FROM d JOIN per_doc p ON p.doc_id = d.doc_id
    """


@gate("op_dsir_importance_weights", _dsir_oracle())
def op_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    per-document log importance ratio Σ_f c_f·(ln p̂_T(f) − ln p̂_R(f))
    between a hashed-bigram unigram-bag model of the TARGET domain
    (the 'en' shard stands in for "looks like my fine-tuning set")
    and the RAW corpus — the data-selection score used to resample a
    web-scale pool toward a target distribution before pretraining.
    High weight = target-like; selection takes the top mass.

    Exactness (the naive-Bayes precedent): both add-one-smoothed log
    ratios collapse into ONE ln per feature bucket over exact int64
    products, rounded ONCE to micro-nats and embedded identically in
    the per-doc integer dot product — the only transcendental is that
    single correctly-rounded-input ln, evaluated on bit-identical
    doubles in both engines.

    Scale shape: features are hashed to DSIR_BUCKETS buckets, so the weight
    table is CONSTANT-size (broadcast join against the per-doc gram
    stream); counting is two map-side-combined aggregates over one
    gram explode; no per-doc vocabulary ever materializes. This is
    DSIR's own trick — the hash cap is what makes the estimator
    streamable at 100 TB.
    """
    from apitap_spark.session import scan_parallel

    toks = F.split(F.trim(F.col("text")), r"\s+")
    # scan_parallel (r11): the gram explode + md5 bucket hash feeding
    # the eager feat checkpoint ran on the single-split scan's ONE
    # task; bucket counts and per-doc int dot products are order-safe.
    d = (
        scan_parallel(read_table(spark, sf_dir, "documents"), spark)
        .select("doc_id", "lang", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
    )
    grams = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
    )
    feat = d.select(
        "doc_id",
        "lang",
        F.explode(grams).alias("g"),
    ).select(
        "doc_id",
        "lang",
        F.expr(
            f"CAST(conv(substr(md5(concat('{DSIR_SALT}|', g)), 1, 15),"
            f" 16, 10) AS BIGINT) % {DSIR_BUCKETS}"
        ).alias("f"),
    ).localCheckpoint()
    # ^ gram-stream cardinality is corpus-sized but the checkpoint is
    # (doc_id, lang, bucket) longs only; it feeds the raw count, the
    # target count, AND the per-doc dot product — three consumers.
    raw = feat.groupBy("f").agg(F.count("*").cast("bigint").alias("c_r"))
    tgt = (
        feat.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("f")
        .agg(F.count("*").cast("bigint").alias("c_t"))
    )
    tot = raw.agg(
        F.sum("c_r").cast("bigint").alias("n_r")
    ).crossJoin(
        tgt.agg(F.coalesce(F.sum("c_t"), F.lit(0)).cast("bigint").alias("n_t"))
    )
    w = (
        raw.join(tgt, "f", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "f",
            F.round(
                F.log(
                    (
                        (F.coalesce(F.col("c_t"), F.lit(0)) + 1).cast("double")
                        * (F.col("n_r") + DSIR_BUCKETS).cast("double")
                    )
                    / (
                        (F.col("c_r") + 1).cast("double")
                        * (F.col("n_t") + DSIR_BUCKETS).cast("double")
                    )
                )
                * 1000000.0,
                0,
            )
            .cast("bigint")
            .alias("du"),
        )
    )
    per_doc = (
        feat.join(F.broadcast(w), "f")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum("du").cast("bigint").alias("weight_micro"),
        )
    )
    return d.select("doc_id", "lang").join(per_doc, "doc_id").select(
        "doc_id", "lang", "n_grams", "weight_micro"
    )


# --- Chi-square token selection (per-language discriminative vocab) ------

CHI2_MIN_DF = 5  # tokens in fewer docs are noise; in N-5+ docs, glue

_CHI2_TOKEN_ORACLE = f"""
    WITH dt AS (
      SELECT doc_id, lang,
             unnest(list_distinct(regexp_extract_all(lower(text), '[a-z]+')))
               AS tok
      FROM documents
    ),
    tl AS (
      SELECT tok, lang, CAST(COUNT(*) AS BIGINT) AS a
      FROM dt GROUP BY 1, 2
    ),
    tt AS (SELECT tok, CAST(SUM(a) AS BIGINT) AS t_docs FROM tl GROUP BY 1),
    lt AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS l_docs
      FROM documents GROUP BY 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    x AS (
      SELECT tl.lang, tl.tok, tl.a, tt.t_docs,
             n.n_docs * (tl.a * (n.n_docs - tt.t_docs - lt.l_docs + tl.a)
               - (tt.t_docs - tl.a) * (lt.l_docs - tl.a))
               * (tl.a * (n.n_docs - tt.t_docs - lt.l_docs + tl.a)
               - (tt.t_docs - tl.a) * (lt.l_docs - tl.a)) AS num,
             tt.t_docs * (n.n_docs - tt.t_docs)
               * lt.l_docs * (n.n_docs - lt.l_docs) AS den
      FROM tl
      JOIN tt USING (tok)
      JOIN lt USING (lang)
      CROSS JOIN n
      WHERE tt.t_docs >= {CHI2_MIN_DF}
        AND tt.t_docs <= n.n_docs - {CHI2_MIN_DF}
        AND lt.l_docs <= n.n_docs - 1
    ),
    scored AS (
      SELECT lang, tok, a AS n_lang_tok_docs, t_docs AS token_docs,
             CAST(num // den * 1000
                  + num % den * 1000 // den AS BIGINT) AS chi2_milli
      FROM x
    )
    SELECT lang, tok, n_lang_tok_docs, token_docs, chi2_milli,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY lang ORDER BY chi2_milli DESC, tok) AS rk
      FROM scored
    ) WHERE rk <= 5
"""


@gate("op_chi2_token_selection", _CHI2_TOKEN_ORACLE)
def op_chi2_token_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 chi-square-selected tokens per language — the classic
    feature-selection pass a lang-ID / quality-classifier training run
    executes to pick its discriminative vocabulary (and, inverted, the
    debugging pass that surfaces label leakage: a token with absurd chi²
    against a supposedly-content-independent label is a pipeline bug).

    Exactness: chi² over the 2x2 presence table collapses to
    N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) — exact integers until ONE
    divide-before-scale fixed-point division (quotient·1e3 + remainder
    ·1e3 div den, the seasonality-gate pattern at milli precision).
    Int64 budget: num = N·(ad−bc)² ≤ N⁵/16 is the binding constraint
    — N⁵/16 < 2⁶³ needs N ≤ ~1.08·10⁴ docs per audit shard (den·1e3 ≤
    N⁴/16·10³ only binds at ~1.96·10⁴). Past that,
    shard the audit by source (each shard is an independent selection)
    or rank in double — the ranking, not the digits, is the product.
    Ubiquitous tokens (df > N−{CHI2_MIN_DF}) and rare ones
    (df < {CHI2_MIN_DF}) are excluded, as is a language that covers the
    whole corpus (l_docs = N): together the two guards keep every den
    factor positive — df bounds the t_docs pair, the l_docs ≤ N−1
    filter the language pair — so den > 0 on any shard, including
    single-language ones.

    Scale shape: one per-doc distinct-token explode (linear scan), one
    token-keyed aggregate, doc-frequency join on the pruned token set,
    broadcast language totals + N, and a per-language top-5 window over
    the vocabulary-sized score frame — no corpus-sized shuffle anywhere.
    """
    docs = read_table(spark, sf_dir, "documents")
    dt = docs.select(
        "lang",
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
            )
        ).alias("tok"),
    )
    tl = dt.groupBy("tok", "lang").agg(F.count("*").cast("bigint").alias("a"))
    tt = tl.groupBy("tok").agg(F.sum("a").cast("bigint").alias("t_docs"))
    lt = docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("l_docs")
    )
    n = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    x = (
        tl.join(tt, "tok")
        .join(F.broadcast(lt), "lang")
        .crossJoin(F.broadcast(n))
        .filter(
            (F.col("t_docs") >= CHI2_MIN_DF)
            & (F.col("t_docs") <= F.col("n_docs") - CHI2_MIN_DF)
            # a language covering the WHOLE corpus zeroes the l_docs
            # factors of den (the df guard only protects the t_docs
            # pair) — DuckDB's // would error and Spark's div would
            # yield NULL on a single-language shard. Such a language
            # has no between-language contrast to score anyway.
            & (F.col("l_docs") <= F.col("n_docs") - 1)
        )
        .withColumn(
            "diff",
            F.expr(
                "a * (n_docs - t_docs - l_docs + a)"
                " - (t_docs - a) * (l_docs - a)"
            ),
        )
        .withColumn("num", F.expr("n_docs * diff * diff"))
        .withColumn(
            "den",
            F.expr("t_docs * (n_docs - t_docs) * l_docs * (n_docs - l_docs)"),
        )
    )
    scored = x.select(
        "lang",
        "tok",
        F.col("a").alias("n_lang_tok_docs"),
        F.col("t_docs").alias("token_docs"),
        F.expr("num div den * 1000 + num % den * 1000 div den")
        .cast("bigint")
        .alias("chi2_milli"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("chi2_milli"), F.asc("tok")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 5)
    )
