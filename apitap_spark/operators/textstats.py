"""Text analysis operators: token stats, quality scoring, language ID,
document fingerprinting.

All pure Catalyst expressions (SURVEY §2.2 Q12 function families applied to
the documents table) — the per-document cost is O(len(text)) with zero
shuffles except the final write, which is exactly what a 100 TB quality-
filtering pass needs.

Ratios divide exact integer counts in double precision, so both engines
produce bit-identical doubles and the oracles hash-match without tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apitap_spark import registry
from apitap_spark.functions.text import (
    normalize_ws,
    shingle_grams,
    token_count,
    tokens,
)
from apitap_spark.registry import gate
from apitap_spark.session import read_table


CHUNK_TOKENS = 64  # tokens per passage chunk
CHUNK_STRIDE = 48  # start-to-start distance (overlap = 64 - 48 = 16)


def _chunk_oracle() -> str:
    c, s = CHUNK_TOKENS, CHUNK_STRIDE
    return rf"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    starts AS (
      SELECT doc_id, t, len(t) AS n, CAST(st AS BIGINT) AS start_tok
      FROM tok, unnest(range(1, len(t) + 1, {s})) AS u(st)
      WHERE st = 1 OR st <= len(t) - {c} + {s}
    )
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start_tok) - 1
                AS BIGINT) AS chunk_id,
           start_tok,
           CAST(LEAST({c}, n - start_tok + 1) AS BIGINT) AS n_tok,
           array_to_string(list_slice(t, CAST(start_tok AS INT),
                                      CAST(LEAST(n, start_tok + {c} - 1) AS INT)),
                           ' ') AS chunk_text
    FROM starts
    """


@gate("op_text_chunk_passages", _chunk_oracle())
def op_text_chunk_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping passage chunking — the RAG/embedding-ingest splitter:
    CHUNK_TOKENS-token windows every CHUNK_STRIDE tokens, so consecutive
    chunks share CHUNK_TOKENS-CHUNK_STRIDE tokens of context. A start
    beyond position 1 is emitted only if its chunk extends past the
    previous chunk's end (no fully-contained trailing fragments); short
    documents yield exactly one chunk.

    Output: (doc_id, chunk_id, start_tok, n_tok, chunk_text) — feed
    chunk_text to an embedder and carry (doc_id, chunk_id) as the
    provenance key. Pure Catalyst projection + explode: zero shuffle,
    O(len) per doc, scales linearly with the corpus.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    return chunk_passages(docs)


def chunk_passages(
    docs: DataFrame, chunk: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Chunk any (doc_id, text) frame — batch OR streaming (the plan is a
    stateless projection + explode, so it runs unchanged under
    writeStream; proven in tests/test_streaming.py).

    Blank/whitespace-only documents are dropped HERE, not by caller
    convention — tokens('') is [''] and would otherwise emit a bogus
    empty chunk into the embedder."""
    c, s = chunk, stride
    docs = docs.filter(F.length(F.trim("text")) > 0)
    base = docs.select("doc_id", tokens("text").alias("t")).select(
        "doc_id",
        "t",
        F.size("t").alias("n"),
        F.posexplode(
            F.expr(
                f"filter(sequence(1, size(t), {s}),"
                f" st -> st = 1 OR st <= size(t) - {c} + {s})"
            )
        ).alias("chunk_id", "start_tok"),
    )
    return base.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.col("start_tok").cast("bigint").alias("start_tok"),
        F.least(F.lit(c), F.col("n") - F.col("start_tok") + 1)
        .cast("bigint")
        .alias("n_tok"),
        F.array_join(F.slice("t", F.col("start_tok"), c), " ").alias(
            "chunk_text"
        ),
    )


STOPWORDS = ["the", "a", "of", "and", "is", "to", "in"]
_SQL_STOP = ", ".join(f"'{w}'" for w in STOPWORDS)

# Marker vocabularies for the n-gram/stopword language-ID heuristic.
LANG_MARKERS = {
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "en": ["the", "a", "of", "and", "is", "to"],
    "es": ["el", "los", "las", "y", "es", "que"],
    "fr": ["le", "la", "les", "et", "est", "une"],
}


@gate(
    "op_text_token_stats",
    r"""
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars,
           CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                     ELSE LEN(string_split_regex(TRIM(text), '\s+')) END AS BIGINT) AS n_tokens,
           CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0.0
                ELSE CAST(list_aggregate(list_transform(string_split_regex(TRIM(text), '\s+'),
                                                        w -> LENGTH(w)), 'sum') AS DOUBLE)
                     / LEN(string_split_regex(TRIM(text), '\s+')) END AS avg_token_len
    FROM documents
    """,
)
def op_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + average token length."""
    docs = read_table(spark, sf_dir, "documents")
    t = tokens("text")
    tok_len_sum = F.aggregate(
        F.transform(t, lambda w: F.length(w)), F.lit(0), lambda acc, v: acc + v
    )
    n_tok = token_count("text")
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        n_tok.alias("n_tokens"),
        F.when(n_tok == 0, F.lit(0.0))
        .otherwise(tok_len_sum.cast("double") / n_tok)
        .alias("avg_token_len"),
    )


@gate(
    "op_text_quality_score",
    rf"""
    WITH feat AS (
      SELECT doc_id,
             CAST(LENGTH(text) AS BIGINT) AS n_chars,
             CAST(LEN(string_split_regex(TRIM(text), '\s+')) AS BIGINT) AS n_tokens,
             CAST(LENGTH(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
               / LENGTH(text) AS alpha_ratio,
             CAST(LEN(list_filter(string_split_regex(TRIM(text), '\s+'),
                                  w -> w IN ({_SQL_STOP}))) AS DOUBLE)
               / LEN(string_split_regex(TRIM(text), '\s+')) AS stopword_ratio
      FROM documents
      WHERE LENGTH(TRIM(text)) > 0
    )
    SELECT doc_id, n_chars, n_tokens, alpha_ratio, stopword_ratio,
           ROUND(0.3 * LEAST(CAST(n_tokens AS DOUBLE) / 100, 1.0)
                 + 0.4 * alpha_ratio
                 + 0.3 * LEAST(stopword_ratio * 5, 1.0), 6) AS quality_score
    FROM feat
    """,
)
def op_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / alphabetic-ratio / stopword-ratio composite
    (the C4/Gopher-style cheap quality gate, as a pure column expression)."""
    docs = read_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    t = tokens("text")
    n_tok = F.size(t).cast("bigint")
    alpha_ratio = (
        F.length(F.regexp_replace("text", "[^a-z]", "")).cast("double")
        / F.length("text")
    )
    stop_ratio = (
        F.size(F.filter(t, lambda w: w.isin(STOPWORDS))).cast("double") / F.size(t)
    )
    score = F.round(
        0.3 * F.least(n_tok.cast("double") / 100, F.lit(1.0))
        + 0.4 * alpha_ratio
        + 0.3 * F.least(stop_ratio * 5, F.lit(1.0)),
        6,
    )
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        n_tok.alias("n_tokens"),
        alpha_ratio.alias("alpha_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


# GPT-2-style pretokenizer, minus lookahead (RE2 has none): contractions,
# space-prefixed letter runs, digit runs, punctuation runs, whitespace runs.
# Same string compiles identically under Java regex (Spark) and RE2 (DuckDB).
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
_BPE_RE_SQL = BPE_PRETOKEN_RE.replace("'", "''")  # escape for the SQL literal


@gate(
    "op_text_bpe_tokens",
    rf"""
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text, '{_BPE_RE_SQL}')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(LEN(list_distinct(regexp_extract_all(text, '{_BPE_RE_SQL}')))
             AS BIGINT) AS n_unique_tokens
    FROM documents
    """,
)
def op_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: the GPT-2 pretokenizer regex (lookahead-free
    variant) over each document — the pretokenization a real BPE encoder
    runs before merges, and the standard train-token budget estimator.
    Pure projection, O(len) per doc, no shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_RE), 0)
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_tokens"),
    )


def _lang_case_sql() -> str:
    counts = {
        lang: (
            f"LEN(list_filter(string_split_regex(TRIM(text), '\\s+'), "
            f"w -> w IN ({', '.join(repr(w) for w in words)})))"
        )
        for lang, words in LANG_MARKERS.items()
    }
    g = "GREATEST(" + ", ".join(counts.values()) + ")"
    whens = " ".join(
        f"WHEN {counts[lang]} = {g} THEN '{lang}'" for lang in sorted(LANG_MARKERS)
    )
    return f"CASE WHEN {g} = 0 THEN 'unknown' {whens} END"


@gate(
    "op_text_lang_id",
    f"""
    SELECT doc_id, lang AS labeled_lang, {_lang_case_sql()} AS predicted_lang
    FROM documents
    """,
)
def op_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via marker-word voting (n-gram heuristic): count marker
    hits per language, argmax with deterministic alphabetic tiebreak,
    'unknown' when nothing matches."""
    docs = read_table(spark, sf_dir, "documents")
    t = tokens("text")
    counts = {
        lang: F.size(F.filter(t, lambda w: w.isin(words)))
        for lang, words in LANG_MARKERS.items()
    }
    g = F.greatest(*counts.values())
    pred = F.when(g == 0, "unknown")
    for lang in sorted(LANG_MARKERS):
        pred = pred.when(counts[lang] == g, lang)
    return docs.select(
        "doc_id", F.col("lang").alias("labeled_lang"), pred.alias("predicted_lang")
    )


@gate(
    "op_text_fingerprint",
    r"""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
           substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16) AS fp64
    FROM documents
    """,
)
def op_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over the whitespace-normalized text plus
    a 64-bit hex prefix (join-key sized)."""
    docs = read_table(spark, sf_dir, "documents")
    fp = F.md5(normalize_ws("text"))
    return docs.select(
        "doc_id", fp.alias("fingerprint"), F.substring(fp, 1, 16).alias("fp64")
    )


WINNOW_K = 8  # char k-gram length
WINNOW_W = 4  # winnowing window (guarantee: any match >= k+w-1 chars shares a print)


@gate(
    "op_text_winnowing",
    rf"""
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i AS pos,
             CAST('0x' || substr(md5(substr(t, CAST(i AS INT), {WINNOW_K})), 1, 15)
                  AS BIGINT) AS h
      FROM norm, unnest(range(1, length(t) - {WINNOW_K - 2})) AS u(i)
      WHERE length(t) >= {WINNOW_K}
    )
    SELECT DISTINCT doc_id,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING)
             AS fingerprint
    FROM grams
    """,
)
def op_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    char k-gram rolling hashes -> minimum per sliding window -> distinct
    fingerprint set per document.

    All JVM-side: explode gram positions (each k-gram hashed exactly
    once), then a ROWS-frame window minimum per document. The naive
    nested-array formulation (array of grams sliced per window) makes
    Catalyst's project-collapse re-evaluate the whole gram array per
    window element — O(n²) hashing; the explode+window shape is O(n·w)
    and shares the doc_id shuffle with any downstream per-doc work.
    Output: distinct (doc_id, fingerprint) pairs — a join on fingerprint
    is the plagiarism/near-dup candidate generator, resilient to local
    edits (guarantee: any shared run of >= k+w-1 chars shares a print).

    Gram hash: the first 60 bits of md5 (15 hex chars → BIGINT). md5 is
    bit-identical across engines, so the window-min is engine-exact and
    the gate is hash-checked against DuckDB (round-2 verdict #5 — this
    gate was previously rows-only under xxhash64). 60 uniform bits keep
    the same collision/selection behavior as a 64-bit hash at corpus
    scale; a production run that prefers cheaper hashing can swap
    xxhash64 back in without touching the window shape.

    scan_parallel (r11, guide §2.5): the md5-per-gram explode — the
    gate's dominant cost (~3.2 of 4.1 s isolated, r10 noop probe) —
    sat below the doc_id window exchange on the single-split scan's
    ONE task. Hashes are per-row and the window-min/distinct are
    order-independent, so the round-robin split is oracle-safe.
    """
    from apitap_spark.session import scan_parallel

    return winnow_fingerprints(
        scan_parallel(read_table(spark, sf_dir, "documents"), spark)
    )


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing fingerprint plan over any (doc_id, text) frame — the
    single definition shared by the gate and the property tests."""
    from pyspark.sql import Window

    norm = docs.select(
        "doc_id",
        F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ").alias("t"),
    ).filter(F.length("t") >= WINNOW_K)
    grams = norm.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length(t) - {WINNOW_K - 1}),"
                f" i -> cast(conv(substr(md5(substr(t, i, {WINNOW_K})), 1, 15),"
                f" 16, 10) as bigint))"
            )
        ).alias("pos", "h"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    return (
        grams.select("doc_id", F.min("h").over(w).alias("fingerprint"))
        .distinct()
    )


HASH_DIM = 64  # feature-hashing buckets


@gate(
    "op_text_hashed_tf",
    rf"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(TRIM(text), '\s+')) AS w
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    bucketed AS (
      SELECT doc_id,
             ((strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 16
              + strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1)
               % {HASH_DIM} AS bucket,
             w
      FROM tok
    )
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS tf,
           CAST(COUNT(DISTINCT w) AS BIGINT) AS n_terms
    FROM bucketed GROUP BY doc_id, bucket
    """,
)
def op_text_hashed_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (hashing trick): sparse hashed term-frequency
    vectors, one (doc, bucket, tf) row per nonzero coordinate — the
    vocabulary-free text-featurization primitive (TF-IDF / linear
    probes / n-gram classifiers) that needs no global dictionary build.

    The bucket is two md5 hex digits re-read as an integer — md5 hex is
    byte-identical across Spark/DuckDB/Python, and the digit-position
    arithmetic sidesteps engine hex-cast differences, so even the HASH
    FUNCTION is oracle-checked. Integer counts only: no float sum order
    to diverge. One explode + one (doc, bucket) groupBy — the same
    shuffle shape as exact dedup, linear at any scale.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    hexd = "0123456789abcdef"
    h = F.md5("w")
    bucket = (
        (F.instr(F.lit(hexd), F.substring(h, 1, 1)) - 1) * 16
        + F.instr(F.lit(hexd), F.substring(h, 2, 1))
        - 1
    ) % HASH_DIM
    return (
        tok.select("doc_id", bucket.cast("bigint").alias("bucket"), "w")
        .groupBy("doc_id", "bucket")
        .agg(
            F.count("*").cast("bigint").alias("tf"),
            F.countDistinct("w").cast("bigint").alias("n_terms"),
        )
    )


POSTINGS_MIN_DF = 5  # index only terms seen in >= 5 docs (noise floor)
POSTINGS_CAP = 200  # max doc ids stored per term (stopword row-size guard)


@gate(
    "op_text_inverted_index",
    rf"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split_regex(TRIM(text), '\s+')) AS w
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    )
    SELECT w AS term,
           CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string(list(doc_id ORDER BY doc_id)[1:{POSTINGS_CAP}], ',')
             AS postings,
           COUNT(*) > {POSTINGS_CAP} AS truncated
    FROM tok GROUP BY w HAVING COUNT(*) >= {POSTINGS_MIN_DF}
    """,
)
def op_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build: term → document frequency + sorted posting
    list — the retrieval-side primitive (keyword search, candidate
    generation for RAG corpora) built as one explode + one term groupBy.

    The gate output serializes the posting list as a comma-joined string
    (the external driver canonicalizes via pandas ``sort_values``, which
    cannot hash list cells); library callers wanting the raw
    ``array<bigint>`` use :func:`inverted_index_frame`. At 100 TB the
    term groupBy is the classic indexing shuffle, and an uncapped
    stopword posting would concentrate billions of ids into ONE row
    (past Spark's 2 GB row limit) — so lists are hard-capped at
    POSTINGS_CAP ids with a ``truncated`` marker (df still reports the
    true count); production shards truncated terms into (term, shard)
    rows. The df floor trims the noise tail.
    """
    return inverted_index_frame(spark, sf_dir).withColumn(
        "postings", F.array_join("postings", ",")
    )


def inverted_index_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-array form of :func:`op_text_inverted_index` (``postings`` as
    ``array<bigint>``) for pipeline callers that consume the index
    programmatically rather than through the hash gate."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("w")).distinct()
    # Cap BEFORE the list aggregate: rank within term (ordered by doc_id)
    # and count the true df with windows sharing the same term partition
    # — one exchange total — then collect at most POSTINGS_CAP ids, so
    # the aggregation state (not just the output row) is bounded even
    # for stopwords.
    w_rank = Window.partitionBy("w").orderBy("doc_id")
    w_term = Window.partitionBy("w")
    ranked = tok.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "dfull", F.count("*").over(w_term)
    )
    return (
        ranked.filter(F.col("rn") <= POSTINGS_CAP)
        .groupBy(F.col("w").alias("term"))
        .agg(
            F.max("dfull").cast("bigint").alias("df"),
            F.sort_array(F.collect_list("doc_id")).alias("postings"),
            (F.max("dfull") > POSTINGS_CAP).alias("truncated"),
        )
        .filter(F.col("df") >= POSTINGS_MIN_DF)
    )


LM_TOP_K = 30  # per n-gram order


@gate(
    "op_text_ngram_lm_counts",
    rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    grams AS (
      SELECT 1 AS n, unnest(t) AS gram FROM toks
      UNION ALL
      SELECT 2, unnest(list_transform(range(1, GREATEST(len(t) - 1, 0) + 1),
                                      i -> t[i] || ' ' || t[i+1])) FROM toks
      UNION ALL
      SELECT 3, unnest(list_transform(range(1, GREATEST(len(t) - 2, 0) + 1),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) FROM toks
    ),
    counted AS (
      SELECT n, gram, CAST(COUNT(*) AS BIGINT) AS cnt FROM grams GROUP BY n, gram
    )
    SELECT n, gram, cnt, CAST(rk AS BIGINT) AS rk FROM (
      SELECT n, gram, cnt,
             ROW_NUMBER() OVER (PARTITION BY n ORDER BY cnt DESC, gram) AS rk
      FROM counted
    ) WHERE rk <= {LM_TOP_K}
    """,
)
def op_text_ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram count tables (orders 1–3), top-K per order — the
    count-collection pass of statistical LM training / KenLM-style
    estimation and the vocabulary report of a corpus card.

    One pass builds all three orders (union of per-doc gram arrays via
    the zip_with chain), one (n, gram) groupBy counts them, and a
    WindowGroupLimit keeps the heads. Counts are integers: exact oracle.
    At scale the (n, gram) shuffle is the only cost; the per-order heads
    travel as K rows each.
    """
    from apitap_spark.functions.text import shingle_grams as _sg

    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    parts = []
    for n in (1, 2, 3):
        arr = tokens("text") if n == 1 else _sg("text", n)
        parts.append(
            docs.select(F.lit(n).alias("n"), F.explode(arr).alias("gram"))
        )
    grams = parts[0].unionAll(parts[1]).unionAll(parts[2])
    counted = grams.groupBy("n", "gram").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("n").orderBy(F.desc("cnt"), F.asc("gram"))
    return (
        counted.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= LM_TOP_K)
    )


TFIDF_TOP_K = 5


@gate(
    "op_text_tfidf_topterms",
    rf"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(TRIM(text), '\s+')) AS w
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    tf AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, w
    ),
    df AS (
      SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY w
    ),
    n AS (
      SELECT COUNT(*) AS n_docs FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    scored AS (
      SELECT tf.doc_id, tf.w AS term, tf.tf, df.df,
             tf.tf * (CAST(n.n_docs + 1 AS DOUBLE) / (df.df + 1)) AS score
      FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, ROUND(score, 6) AS score,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rk
      FROM scored
    ) WHERE rk <= {TFIDF_TOP_K}
    """,
)
def op_text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-style distinctive terms: top-5 terms per document by
    tf x rarity — the per-document keyword extraction pass of corpus
    cards, search indexing, and topic drift monitoring.

    The rarity weight is the LINEAR idf (N+1)/(df+1), not ln of it:
    division of exact integers is correctly-rounded IEEE in every
    engine, while Java's Math.log differs from libm's ln by 1 ulp on
    ~5% of inputs (measured) — a log-idf gate would flake. Production
    can swap ln in freely (per-term monotone transform; only relative
    term weighting changes, the plan shape doesn't).

    Scale: one explode, a (doc, term) count, a term-df count, and a
    broadcast of the scalar N. The df join shuffles on term; the top-k
    is a WindowGroupLimit over the doc partition. All linear.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    n_docs = docs.count()
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    tf = tok.groupBy("doc_id", "w").agg(F.count("*").cast("bigint").alias("tf"))
    df = tok.groupBy("w").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    scored = tf.join(df, "w").select(
        "doc_id",
        F.col("w").alias("term"),
        "tf",
        "df",
        (
            F.col("tf")
            * (F.lit(float(n_docs + 1)) / (F.col("df") + F.lit(1)))
        ).alias("score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", F.round("score", 6).alias("score"), "rk")
    )


@gate(
    "op_text_lexical_diversity",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(TRIM(text), '\s+')) AS w
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    counts AS (
      SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS ttr,
           ROUND(1.0 - CAST(SUM(c * c) AS DOUBLE) / (SUM(c) * SUM(c)), 6)
             AS simpson_diversity
    FROM counts GROUP BY doc_id
    """,
)
def op_text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per document: type-token ratio and the
    Gini-Simpson index (1 - sum(p^2)) — the repetition/quality signals a
    pretraining filter thresholds on (template spam and boilerplate
    score near 0 diversity; natural prose near 1).

    Entropy is the textbook choice but needs ln, whose last-ulp value
    is engine-dependent (see op_text_tfidf_topterms); Gini-Simpson
    carries the same signal as a RATIONAL in the token counts —
    integer sums + one exact double division per doc, bit-identical in
    both engines. Two chained integer groupBys, both on doc-local keys:
    at 100 TB this is one shuffle of (doc, type) rows then a doc-local
    combine.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    counts = tok.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    n = F.sum("c")
    types = F.count("*")
    sumsq = F.sum(F.col("c") * F.col("c"))
    return counts.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_tokens"),
        types.cast("bigint").alias("n_types"),
        F.round(types.cast("double") / n, 6).alias("ttr"),
        F.round(F.lit(1.0) - sumsq.cast("double") / (n * n), 6).alias(
            "simpson_diversity"
        ),
    )


NOVELTY_N = 3  # shingle order for cross-doc novelty


@gate(
    "op_doc_novelty",
    rf"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    grams AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(range(1, GREATEST(LEN(t) - {NOVELTY_N - 1}, 0) + 1),
                              i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])))
               AS gram
      FROM tok
    ),
    with_df AS (
      SELECT doc_id, gram, COUNT(*) OVER (PARTITION BY gram) AS df
      FROM grams
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           CAST(COUNT(*) - SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS novelty_ratio
    FROM with_df GROUP BY doc_id
    """,
)
def op_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct 3-gram shingles that appear in NO other document —
    the memorization-risk / boilerplate profile (documents full of
    shared grams are templates or near-dups; high-novelty documents
    carry the marginal information, cf. the dedup rationale in Lee et
    al. 2022, arXiv:2107.06499). Documents with fewer than 3 tokens
    contribute no grams and are excluded.

    Scale: one explode + ONE gram-keyed shuffle (the window computes
    document frequency in place of a groupBy + self-join back), then a
    doc-local aggregate. The gram df table is the same shuffle an
    inverted index build pays; novelty is exact integer counts with one
    fixed-chain division at the end (hash-exact cross-engine).
    """
    from pyspark.sql import Window

    from apitap_spark.functions.text import shingles

    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    grams = docs.select(
        "doc_id",
        F.explode(shingles("text", NOVELTY_N)).alias("gram"),
    )
    with_df = grams.withColumn(
        "df", F.count("*").over(Window.partitionBy("gram"))
    )
    n_grams = F.count("*")
    n_shared = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
    return with_df.groupBy("doc_id").agg(
        n_grams.cast("bigint").alias("n_grams"),
        n_shared.cast("bigint").alias("n_shared"),
        ((n_grams - n_shared).cast("double") / n_grams.cast("double")).alias(
            "novelty_ratio"
        ),
    )


# Engine-portable ASCII character classes (explicit ranges — Java regex
# and RE2 agree on these; \s and \p{Punct} shorthands differ between
# engines and are avoided).
_SCRIPT_CLASSES = [
    ("latin", "[A-Za-z]"),
    ("digit", "[0-9]"),
    ("space", "[ \\t\\n\\r]"),
    ("punct", "[!-/:-@\\x5b-\\x60\\x7b-\\x7e]"),
]


def _script_oracle() -> str:
    cls_sums = ",\n           ".join(
        f"CAST(SUM(LENGTH(text) - LENGTH(regexp_replace(text, '{pat}', '', 'g')))"
        f" AS BIGINT) AS n_{name}"
        for name, pat in _SCRIPT_CLASSES
    )
    ratios = ",\n           ".join(
        f"CAST(n_{name} AS DOUBLE) / CAST(n_chars AS DOUBLE) AS {name}_ratio"
        for name, _ in _SCRIPT_CLASSES
    )
    other = " - ".join(["n_chars"] + [f"n_{n}" for n, _ in _SCRIPT_CLASSES])
    return rf"""
    WITH per_lang AS (
      SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars,
           {cls_sums}
      FROM documents WHERE LENGTH(TRIM(text)) > 0
      GROUP BY lang
    )
    SELECT lang, n_docs, n_chars,
           {ratios},
           CAST({other} AS DOUBLE) / CAST(n_chars AS DOUBLE) AS other_ratio
    FROM per_lang
    """


@gate("op_text_script_profile", _script_oracle())
def op_text_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-class profile: the script/encoding audit a
    multilingual crawl runs before tokenizer training (a 'lang=en' shard
    that is 40% non-Latin bytes is mislabeled or mojibake — fertility
    and quality stats computed from it would lie). Counts Latin letters,
    digits, whitespace and ASCII punctuation per shard via
    regexp-strip length deltas; everything else (all non-ASCII) lands
    in other_ratio.

    Scale: pure per-row Catalyst expressions + one lang-keyed integer
    aggregate (map-side combined). Integer counts divide once at the
    end, so the gate hash-checks cross-engine. The class list is
    explicit ASCII ranges — \\s / \\p{{Punct}} shorthands differ between
    Java regex and RE2 and would silently skew counts.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    cls_counts = [
        F.sum(
            F.length("text") - F.length(F.regexp_replace("text", pat, ""))
        ).cast("bigint").alias(f"n_{name}")
        for name, pat in _SCRIPT_CLASSES
    ]
    agg = docs.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
        *cls_counts,
    )
    ratios = [
        (F.col(f"n_{name}").cast("double") / F.col("n_chars").cast("double")).alias(
            f"{name}_ratio"
        )
        for name, _ in _SCRIPT_CLASSES
    ]
    other = F.col("n_chars")
    for name, _ in _SCRIPT_CLASSES:
        other = other - F.col(f"n_{name}")
    return agg.select(
        "lang",
        "n_docs",
        "n_chars",
        *ratios,
        (other.cast("double") / F.col("n_chars").cast("double")).alias(
            "other_ratio"
        ),
    )


GROWTH_MAX_CHECKPOINTS = 24  # powers of 2 cover any corpus the id space holds


def _growth_oracle() -> str:
    cps = ", ".join(str(1 << k) for k in range(1, GROWTH_MAX_CHECKPOINTS + 1))
    return rf"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(TRIM(text), '\s+')) AS w
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    firsts AS (
      SELECT w, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM tok GROUP BY w
    ),
    per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok FROM tok GROUP BY doc_id
    ),
    cps AS (
      SELECT cp FROM (SELECT unnest([{cps}]) AS cp)
      WHERE cp <= 2 * (SELECT MAX(doc_id) FROM per_doc)
    )
    SELECT CAST(cp AS BIGINT) AS checkpoint,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM per_doc WHERE doc_id < cp)
             AS n_docs,
           (SELECT CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM per_doc
            WHERE doc_id < cp) AS n_tokens,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM firsts WHERE first_doc < cp)
             AS n_types
    FROM cps
    WHERE (SELECT COUNT(*) FROM per_doc WHERE doc_id < cp) > 0
    """


@gate("op_corpus_growth_curve", _growth_oracle())
def op_corpus_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law): distinct word types and
    cumulative tokens for doc_id-prefix checkpoints at powers of two —
    the curve a corpus datasheet plots to show lexical saturation (a
    flattening curve means new data adds volume, not vocabulary; a
    steep one means the domain is still being explored).

    Scale: the trick is that growth at a checkpoint only needs each
    type's FIRST document (min doc_id per type — one word-keyed
    aggregate), so NO global ordering or running window ever touches
    the corpus: log2(N) checkpoint thresholds cross-join against the
    per-type firsts and the per-doc token counts, both already tiny or
    partial-aggregated. Counts are exact integers.
    """
    from pyspark.sql import functions as F  # noqa: F811

    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    firsts = tok.groupBy("w").agg(F.min("doc_id").cast("bigint").alias("first_doc"))
    per_doc = tok.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_tok"))
    max_id = per_doc.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    # <=: when max_id is itself a power of two, the next power (==
    # 2*max_id) is the checkpoint that finally covers doc_id == max_id
    cps = [1 << k for k in range(1, GROWTH_MAX_CHECKPOINTS + 1)
           if (1 << k) <= 2 * max_id]
    cp_df = F.broadcast(
        docs.sparkSession.createDataFrame([(c,) for c in cps], "checkpoint bigint")
    )
    doc_stats = (
        per_doc.crossJoin(cp_df)
        .filter(F.col("doc_id") < F.col("checkpoint"))
        .groupBy("checkpoint")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
    type_stats = (
        firsts.crossJoin(cp_df)
        .filter(F.col("first_doc") < F.col("checkpoint"))
        .groupBy("checkpoint")
        .agg(F.count("*").cast("bigint").alias("n_types"))
    )
    return doc_stats.join(type_stats, "checkpoint").select(
        "checkpoint", "n_docs", "n_tokens", "n_types"
    )


def _lang_confusion_oracle() -> str:
    # composes the registered lang-id oracle as a CTE (single source of
    # truth with the per-doc gate)
    return f"""
    WITH preds AS ({registry.ORACLES["op_text_lang_id"]})
    SELECT labeled_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM preds GROUP BY labeled_lang, predicted_lang
    """


@gate("op_lang_confusion_matrix", _lang_confusion_oracle())
def op_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: labeled shard language vs the
    marker-vote prediction, counted — the classifier-quality report
    that decides whether the cheap lang-ID is safe to route filtering
    on (a row whose mass sits off-diagonal means that shard's language
    heuristics are misrouting real documents). Composes the per-doc
    gate; one tiny (|langs|^2)-ary aggregate on top of the projection.
    """
    return (
        op_text_lang_id(spark, sf_dir)
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


RAKE_TOP_K = 30


def _rake_oracle() -> str:
    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    return rf"""
    WITH tok AS (
      SELECT doc_id, i AS pos, t[i] AS w,
             t[i] IN ({stops}) AS is_stop
      FROM (
        SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t
        FROM documents WHERE LENGTH(TRIM(text)) > 0
      ), unnest(range(1, len(t) + 1)) AS u(i)
    ),
    content AS (
      SELECT doc_id, pos, w,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS island
      FROM tok WHERE NOT is_stop
    ),
    phrases AS (
      SELECT doc_id, island,
             array_to_string(list(w ORDER BY pos), ' ') AS phrase,
             CAST(COUNT(*) AS BIGINT) AS plen
      FROM content GROUP BY doc_id, island
    ),
    pw AS (
      SELECT c.doc_id, c.island, c.w, p.plen
      FROM content c JOIN phrases p
        ON p.doc_id = c.doc_id AND p.island = c.island
    ),
    wstats AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(plen) AS BIGINT) AS degree
      FROM pw GROUP BY w
    ),
    wscore AS (
      SELECT w, CAST(ROUND((CAST(degree AS DOUBLE) / CAST(freq AS DOUBLE))
                           * 1000000.0, 0) AS BIGINT) AS s_u
      FROM wstats
    ),
    pscore AS (
      SELECT pw.doc_id, pw.island, CAST(SUM(ws.s_u) AS BIGINT) AS score_u
      FROM pw JOIN wscore ws ON ws.w = pw.w
      GROUP BY pw.doc_id, pw.island
    )
    SELECT phrase, n_words, n_occurrences, score_micro,
           CAST(score_micro AS DOUBLE) / 1000000.0 AS score
    FROM (
      SELECT p.phrase,
             CAST(MAX(p.plen) AS BIGINT) AS n_words,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             CAST(MAX(s.score_u) AS BIGINT) AS score_micro,
             ROW_NUMBER() OVER (ORDER BY MAX(s.score_u) DESC, p.phrase)
               AS rk
      FROM phrases p
      JOIN pscore s ON s.doc_id = p.doc_id AND s.island = p.island
      GROUP BY p.phrase
    ) WHERE rk <= {RAKE_TOP_K}
    """


@gate("op_text_keywords_rake", _rake_oracle())
def op_text_keywords_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, the public
    co-occurrence degree/frequency method): candidate phrases are
    maximal stopword-free token runs (gaps-and-islands); each word
    scores degree/frequency over the candidate universe, each phrase
    sums its words' scores; the corpus's top-K phrases come back with
    occurrence counts — the metadata-enrichment rung (search facets,
    topic labels) a curation pass derives without any model.

    Determinism: degree and frequency are integers, the one division
    micro-rounds per WORD (order-free bigint phrase sums — a float
    per-phrase sum would be association-order dependent), and the
    final top-K orders by (score_micro DESC, phrase). Shuffles: one
    per-doc window for islands, one word-keyed aggregate, one
    phrase-keyed aggregate — all partial-aggregated; the global top-K
    sorts only the distinct-phrase aggregate.
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    tok = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "w")
    ).withColumn("is_stop", F.col("w").isin(STOPWORDS))
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    content = (
        tok.filter(~F.col("is_stop"))
        .withColumn("island", F.col("pos") - F.row_number().over(w_doc))
    )
    phrases = content.groupBy("doc_id", "island").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("phrase"),
        F.count("*").cast("bigint").alias("plen"),
    )
    pw = content.select("doc_id", "island", "w").join(
        phrases.select("doc_id", "island", "plen"), ["doc_id", "island"]
    )
    wstats = pw.groupBy("w").agg(
        F.count("*").cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("degree"),
    )
    wscore = wstats.select(
        "w",
        F.round(
            (F.col("degree").cast("double") / F.col("freq").cast("double"))
            * F.lit(1000000.0),
            0,
        )
        .cast("bigint")
        .alias("s_u"),
    )
    pscore = (
        pw.join(F.broadcast(wscore), "w")
        .groupBy("doc_id", "island")
        .agg(F.sum("s_u").cast("bigint").alias("score_u"))
    )
    agg = (
        phrases.join(pscore, ["doc_id", "island"])
        .groupBy("phrase")
        .agg(
            F.max("plen").cast("bigint").alias("n_words"),
            F.count("*").cast("bigint").alias("n_occurrences"),
            F.max("score_u").cast("bigint").alias("score_micro"),
        )
    )
    w_rank = Window.orderBy(F.desc("score_micro"), F.asc("phrase"))
    return (
        agg.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= RAKE_TOP_K)
        .select(
            "phrase",
            "n_words",
            "n_occurrences",
            "score_micro",
            (F.col("score_micro").cast("double") / F.lit(1000000.0)).alias(
                "score"
            ),
        )
    )


ZIPF_MAX_POW = 20  # vocab-size checkpoints: 2^1 .. 2^20 words


@gate(
    "op_vocab_coverage_curve",
    rf"""
    WITH counts AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT unnest(string_split_regex(TRIM(text), '\s+')) AS w
        FROM documents WHERE LENGTH(TRIM(text)) > 0
      ) GROUP BY w
    ),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk FROM counts
    ),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM ranked
    ),
    cps AS (
      SELECT cp FROM (SELECT unnest([{", ".join(str(1 << k) for k in range(1, ZIPF_MAX_POW + 1))}]) AS cp),
           tot
      WHERE cp <= 2 * tot.n_types
    )
    SELECT CAST(cp AS BIGINT) AS vocab_size,
           (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM ranked
            WHERE rk <= cp) AS covered_tokens,
           t.total AS total_tokens,
           CAST((SELECT COALESCE(SUM(c), 0) FROM ranked WHERE rk <= cp)
                AS DOUBLE) / CAST(t.total AS DOUBLE) AS coverage
    FROM cps CROSS JOIN tot t
    """,
)
def op_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf coverage curve: the fraction of token OCCURRENCES covered by
    the top-k most frequent word types, at power-of-two vocabulary
    checkpoints — the curve that sizes a tokenizer vocabulary (where it
    flattens is where additional vocab entries stop paying for their
    embedding rows) and quantifies how Zipfian the corpus is.

    Scale: one word-keyed count aggregate; the rank is a window over
    the TYPE table (vocabulary-sized, not corpus-sized — the only
    global-ordered structure, and it is orders of magnitude smaller
    than the corpus at any scale); checkpoints cross-join against the
    ranked types with a partial-aggregated sum. Integer counts, one
    division.
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    counts = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    ranked = counts.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("w")))
    )
    tot_row = ranked.agg(
        F.sum("c").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_types"),
    ).collect()[0]
    total, n_types = tot_row["total"], tot_row["n_types"]
    cps = [1 << k for k in range(1, ZIPF_MAX_POW + 1) if (1 << k) <= 2 * n_types]
    cp_df = F.broadcast(
        docs.sparkSession.createDataFrame(
            [(c,) for c in cps], "vocab_size bigint"
        )
    )
    cov = (
        ranked.crossJoin(cp_df)
        .filter(F.col("rk") <= F.col("vocab_size"))
        .groupBy("vocab_size")
        .agg(F.sum("c").cast("bigint").alias("covered_tokens"))
    )
    # checkpoints beyond the vocabulary still cover everything; emit
    # them (coalesce handles a checkpoint smaller than any rank only
    # in degenerate empty corpora)
    return (
        cp_df.join(cov, "vocab_size", "left")
        .select(
            "vocab_size",
            F.coalesce("covered_tokens", F.lit(0)).cast("bigint").alias(
                "covered_tokens"
            ),
            F.lit(total).cast("bigint").alias("total_tokens"),
            (
                F.coalesce("covered_tokens", F.lit(0)).cast("double")
                / F.lit(float(total))
            ).alias("coverage"),
        )
    )


# --- L103: collocation mining (lift-based, log-free PMI analogue) -----------

COLLOC_MIN_SUPPORT = 5
COLLOC_TOPK = 20

_COLLOC_ORACLE = rf"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w
      FROM tok, UNNEST(t) AS u(w) GROUP BY w
    ),
    bi AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM tok,
           UNNEST(list_transform(range(1, GREATEST(LEN(t) - 1, 0) + 1),
                                 i -> t[i] || ' ' || t[i + 1])) AS u(g)
      GROUP BY g
    ),
    totals AS (
      SELECT (SELECT CAST(SUM(n_w) AS BIGINT) FROM uni) AS n_uni,
             (SELECT CAST(SUM(n_ab) AS BIGINT) FROM bi) AS n_bi
    ),
    scored AS (
      SELECT string_split(b.g, ' ')[1] AS w1,
             string_split(b.g, ' ')[2] AS w2,
             b.n_ab, a.n_w AS n_a, c.n_w AS n_b,
             CAST(b.n_ab * t.n_uni * t.n_uni AS DOUBLE)
               / CAST(t.n_bi * a.n_w * c.n_w AS DOUBLE) AS lift_raw
      FROM bi b
      JOIN uni a ON a.w = string_split(b.g, ' ')[1]
      JOIN uni c ON c.w = string_split(b.g, ' ')[2]
      CROSS JOIN totals t
      WHERE b.n_ab >= {COLLOC_MIN_SUPPORT}
    ),
    top AS (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY lift_raw DESC, w1, w2)
                     AS BIGINT) AS rnk
      FROM scored ORDER BY lift_raw DESC, w1, w2 LIMIT {COLLOC_TOPK}
    )
    SELECT rnk, w1, w2, n_ab, n_a, n_b, ROUND(lift_raw, 6) AS lift
    FROM top
"""


@gate("op_text_collocations_lift", _COLLOC_ORACLE)
def op_text_collocations_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-K adjacent word pairs by LIFT
    ``P(ab) / (P(a)·P(b)) = n_ab·N_uni² / (N_bi·n_a·n_b)`` with a
    minimum-support floor — the PMI collocation ranking with the log
    dropped (log is monotone, so the ranking is identical, and the
    score stays a single exactly-reproducible IEEE division of two
    exact bigint products; ln/exp are engine-specific at the last ulp
    and banned from oracle-checked outputs).

    Scale shape: unigram and bigram counts are map-side-combined
    groupBys (two linear shuffles over the token stream); the pair
    table joins the vocab-sized unigram counts twice (vocab, not
    corpus, sized); totals ride a broadcast crossJoin; and the top-K is
    a distributed sort+limit (TakeOrdered), NOT a global window — the
    rank is stamped on the K surviving rows only.
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    uni = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("n_w"))
        .localCheckpoint()  # vocab-cardinality; feeds totals + TWO joins —
        # without it the corpus token explode runs three times
    )
    bi_counts = (
        docs.select(F.explode(shingle_grams("text", 2)).alias("g"))
        .groupBy("g")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
        .localCheckpoint()  # one bigram scan feeds both totals and pairs
    )
    bi = bi_counts.filter(F.col("n_ab") >= COLLOC_MIN_SUPPORT).select(
        F.split("g", " ").getItem(0).alias("w1"),
        F.split("g", " ").getItem(1).alias("w2"),
        "n_ab",
    )
    totals = uni.agg(
        F.sum("n_w").cast("bigint").alias("n_uni")
    ).crossJoin(
        bi_counts.agg(F.sum("n_ab").cast("bigint").alias("n_bi"))
    )
    scored = (
        bi.join(uni.withColumnRenamed("w", "w1").withColumnRenamed("n_w", "n_a"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("n_w", "n_b"), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "n_ab",
            "n_a",
            "n_b",
            (
                (F.col("n_ab") * F.col("n_uni") * F.col("n_uni")).cast("double")
                / (F.col("n_bi") * F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift_raw"),
        )
    )
    top = scored.orderBy(F.desc("lift_raw"), "w1", "w2").limit(COLLOC_TOPK)
    w = Window.orderBy(F.desc("lift_raw"), "w1", "w2")
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint")).select(
        "rnk",
        "w1",
        "w2",
        "n_ab",
        "n_a",
        "n_b",
        F.round("lift_raw", 6).alias("lift"),
    )


# --- L104: count-min-sketch heavy-hitter audit ------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_TOPK = 15

def _cms_cell(d: int, word_col: str):
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{d}|"), F.col(word_col))), 1, 15),
            16,
            10,
        ).cast("long")
        % CMS_WIDTH
    )


def _cms_depth_cells(word_col: str):
    return F.array(
        *[
            F.struct(F.lit(d).alias("d"), _cms_cell(d, word_col).alias("cell"))
            for d in range(CMS_DEPTH)
        ]
    )


def cms_cells(words: DataFrame, weight_col: str | None = None) -> DataFrame:
    """Build the d x w count-min sketch table from a word frame.

    ``words``: a frame with column ``w`` (one row per word occurrence,
    or per distinct word when ``weight_col`` carries its count). Returns
    (d, cell, cell_cnt) — at most CMS_DEPTH * CMS_WIDTH rows, the
    fixed-size mergeable sketch. Cell-wise addition merges sketches
    across shards/days/micro-batches; the streaming test proves the
    SAME function accumulates identically under readStream.
    """
    wcol = F.col(weight_col) if weight_col else F.lit(1)
    return (
        words.select(F.explode(_cms_depth_cells("w")).alias("dc"), wcol.alias("_n"))
        .groupBy(F.col("dc.d").alias("d"), F.col("dc.cell").alias("cell"))
        .agg(F.sum("_n").cast("bigint").alias("cell_cnt"))
    )


_CMS_ORACLE = rf"""
    WITH tok AS (
      SELECT string_split_regex(TRIM(text), '\s+') AS t
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w
      FROM tok, UNNEST(t) AS u(w) GROUP BY w
    ),
    depths AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(d)),
    cells AS (
      SELECT d,
             CAST('0x' || substr(md5(CAST(d AS VARCHAR) || '|' || w), 1, 15)
                  AS BIGINT) % {CMS_WIDTH} AS cell,
             CAST(SUM(n_w) AS BIGINT) AS cell_cnt
      FROM uni CROSS JOIN depths
      GROUP BY 1, 2
    ),
    top AS (
      SELECT w, n_w,
             CAST(ROW_NUMBER() OVER (ORDER BY n_w DESC, w) AS BIGINT) AS rnk
      FROM uni ORDER BY n_w DESC, w LIMIT {CMS_TOPK}
    )
    SELECT t.rnk, t.w AS token, t.n_w AS exact_cnt,
           MIN(c.cell_cnt) AS cms_est,
           MIN(c.cell_cnt) - t.n_w AS overestimate
    FROM top t
    CROSS JOIN depths dd
    JOIN cells c
      ON c.d = dd.d
     AND c.cell = CAST('0x' || substr(md5(CAST(dd.d AS VARCHAR) || '|' || t.w),
                                      1, 15) AS BIGINT) % {CMS_WIDTH}
    GROUP BY t.rnk, t.w, t.n_w
"""


@gate("op_text_heavy_hitters_cms", _CMS_ORACLE)
def op_text_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy-hitter audit: build a depth-4 x
    width-1024 CMS over the corpus token stream (md5-derived row
    hashes, identical arithmetic in the oracle), then report the
    exact top-K tokens next to their CMS estimate and the collision
    overestimate (CMS never underestimates — ``cms_est >= exact_cnt``
    by construction, proven corpus-wide by the pytest).

    This is the mergeable-sketch pattern for streaming/sharded
    frequency: the sketch is a FIXED d·w-cell table (4096 rows here)
    regardless of corpus size, each cell a map-side-combined SUM — at
    100 TB every executor folds its partition into 4096 partials, the
    reduce is tiny, and sketches from different days/shards merge by
    cell-wise addition. The probe side touches only the K audited
    tokens against the 4096-row broadcast sketch.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    uni = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("n_w"))
    )

    cells = cms_cells(uni, weight_col="n_w")
    top = uni.orderBy(F.desc("n_w"), "w").limit(CMS_TOPK)
    from pyspark.sql import Window

    wdw = Window.orderBy(F.desc("n_w"), "w")
    ranked = top.withColumn("rnk", F.row_number().over(wdw).cast("bigint"))
    probes = ranked.select(
        "rnk", "w", "n_w", F.explode(_cms_depth_cells("w")).alias("dc")
    ).select("rnk", "w", "n_w", F.col("dc.d").alias("d"), F.col("dc.cell").alias("cell"))
    return (
        probes.join(F.broadcast(cells), ["d", "cell"])
        .groupBy("rnk", "w", "n_w")
        .agg(F.min("cell_cnt").alias("cms_est"))
        .select(
            "rnk",
            F.col("w").alias("token"),
            F.col("n_w").alias("exact_cnt"),
            "cms_est",
            (F.col("cms_est") - F.col("n_w")).alias("overestimate"),
        )
    )


# --- BM25 ranked retrieval (exact fixed-point, linear idf) ---------------

BM25_QUERY_TERMS = ("spark", "join", "window")
BM25_TOP_K = 10


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)
    return rf"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(TRIM(text), '\s+')) AS w
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_len
      FROM dl
    ),
    tf AS (
      SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE w IN ({terms}) GROUP BY doc_id, w
    ),
    df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id,
             CAST(FLOOR(
               1000000.0
               * CAST((2 * (s.n_docs - df.df) + 1)
                      * (22 * tf.tf * s.total_len) AS DOUBLE)
               / CAST(2 * df.df + 1 AS DOUBLE)
               / CAST(10 * tf.tf * s.total_len + 3 * s.total_len
                      + 9 * dl.dl * s.n_docs AS DOUBLE)
             ) AS BIGINT) AS term_micro
      FROM tf
      JOIN dl USING (doc_id)
      JOIN df USING (term)
      CROSS JOIN stats s
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(term_micro) AS BIGINT) AS score_micro
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, n_terms, score_micro, CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rk
      FROM agg
    ) WHERE rk <= {BM25_TOP_K}
    """


@gate("op_text_bm25_topk", _bm25_oracle())
def op_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Okapi k1=1.2, b=0.75) for a fixed term
    query — the sparse half of every retrieval/RAG stack, next to
    op_hybrid_retrieval_rrf's fusion and op_text_inverted_index's
    postings.

    Engine-exact by construction: with k1=6/5 and b=3/4 the per-term
    score is a ratio of exact BIGINT polynomials —
    tf-side  22*tf*L / (10*tf*L + 3*L + 9*dl*N)  (multiplied through
    by 10*L, L = total corpus tokens) — times the LINEAR idf
    (N-df+1/2)/(df+1/2) = (2(N-df)+1)/(2df+1) (no log: Math.log is
    1-ulp engine-specific; linear idf is the repo-wide convention from
    op_text_tfidf_topterms). Each term score is floored ONCE to micro
    units in an identical left-associated IEEE chain, then summed as
    BIGINT — order-independent, hash-exact.

    Scale shape: the IN-list filter prunes the exploded token stream
    to query terms before any shuffle; df/dl/stats are one aggregation
    each; the global top-k is TakeOrderedAndProject (per-partition
    heads, driver merge of k rows) with the row_number ranking applied
    only to the k survivors — no global-partition window ever sees the
    full scored corpus.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    dl = tok.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("dl"))
    n_docs, total_len = dl.agg(
        F.count("*").cast("bigint"), F.sum("dl").cast("bigint")
    ).first()
    tf = (
        tok.filter(F.col("w").isin(*BM25_QUERY_TERMS))
        .groupBy("doc_id", F.col("w").alias("term"))
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    df = tf.groupBy("term").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    N, L = F.lit(n_docs), F.lit(total_len)
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            F.floor(
                F.lit(1000000.0)
                * (
                    (F.lit(2) * (N - F.col("df")) + F.lit(1))
                    * (F.lit(22) * F.col("tf") * L)
                ).cast("double")
                / (F.lit(2) * F.col("df") + F.lit(1)).cast("double")
                / (
                    F.lit(10) * F.col("tf") * L
                    + F.lit(3) * L
                    + F.lit(9) * F.col("dl") * N
                ).cast("double")
            )
            .cast("bigint")
            .alias("term_micro"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum("term_micro").cast("bigint").alias("score_micro"),
    )
    # Distributed top-k FIRST (TakeOrderedAndProject: per-partition heads
    # merged on the driver — a global-partition window would funnel every
    # scored doc through one task), then rank the k survivors.
    topk = agg.orderBy(F.desc("score_micro"), F.asc("doc_id")).limit(
        BM25_TOP_K
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return topk.withColumn("rk", F.row_number().over(w).cast("bigint"))


# --- Readability scoring (Flesch / Flesch-Kincaid, rational form) --------

_READABILITY_ORACLE = r"""
    WITH c AS (
      SELECT doc_id,
             CAST(LEN(string_split_regex(TRIM(text), '\s+')) AS BIGINT)
               AS n_words,
             CAST(LENGTH(regexp_replace(LOWER(text), '[aeiouy]+', '#', 'g'))
                  - LENGTH(regexp_replace(LOWER(text), '[aeiouy]+', '', 'g'))
                  AS BIGINT) AS n_syllables,
             GREATEST(CAST(LENGTH(text)
                  - LENGTH(regexp_replace(text, '[.!?]', '', 'g'))
                  AS BIGINT), 1) AS n_sentences
      FROM documents
    )
    SELECT doc_id, n_words, n_syllables, n_sentences,
           CASE WHEN n_words > 0 THEN
             CAST(FLOOR(1000.0 * ((206.835
                    - (1.015 * (CAST(n_words AS DOUBLE)
                                / CAST(n_sentences AS DOUBLE))))
                    - (84.6 * (CAST(n_syllables AS DOUBLE)
                               / CAST(n_words AS DOUBLE)))))
                  AS BIGINT)
           END AS flesch_milli,
           CASE WHEN n_words > 0 THEN
             CAST(FLOOR(1000.0 * (((0.39 * (CAST(n_words AS DOUBLE)
                                    / CAST(n_sentences AS DOUBLE)))
                    + (11.8 * (CAST(n_syllables AS DOUBLE)
                               / CAST(n_words AS DOUBLE)))) - 15.59))
                  AS BIGINT)
           END AS fk_grade_milli
    FROM c
"""


@gate("op_text_readability", _READABILITY_ORACLE)
def op_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease and Flesch–Kincaid grade per document — the
    classic readability rung of a quality-filter ladder (alongside
    op_text_quality_score's ratio heuristics): both formulas are purely
    RATIONAL (literal coefficients, two ratios), so unlike
    entropy-based scores they survive the no-log/no-exp oracle
    discipline bit-exactly.

    Syllables are approximated as vowel-group runs ([aeiouy]+), counted
    without extracting: len(runs→'#') − len(runs→'') = run count, two
    regexp_replace passes that Java regex and RE2 agree on. Sentences
    are terminal-punctuation counts floored at 1 (this corpus has
    none — every doc scores as one long sentence, which the audit
    rightly flags as low readability). The scoring chain is one
    explicitly-parenthesized IEEE double expression, identical in both
    engines.

    Scale shape: a single narrow projection over the corpus scan — no
    shuffle, no UDF; whole-stage codegen end to end.
    """
    docs = read_table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    w = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint")
    syl = (
        F.length(F.regexp_replace(low, "[aeiouy]+", "#"))
        - F.length(F.regexp_replace(low, "[aeiouy]+", ""))
    ).cast("bigint")
    sent = F.greatest(
        (
            F.length(F.col("text"))
            - F.length(F.regexp_replace(F.col("text"), "[.!?]", ""))
        ).cast("bigint"),
        F.lit(1).cast("bigint"),
    )
    c = docs.select(
        "doc_id",
        w.alias("n_words"),
        syl.alias("n_syllables"),
        sent.alias("n_sentences"),
    )
    d = lambda col: F.col(col).cast("double")  # noqa: E731
    wps = d("n_words") / d("n_sentences")
    spw = d("n_syllables") / d("n_words")
    return c.select(
        "doc_id",
        "n_words",
        "n_syllables",
        "n_sentences",
        F.when(
            F.col("n_words") > 0,
            F.floor(
                F.lit(1000.0)
                * (
                    (F.lit(206.835) - (F.lit(1.015) * wps))
                    - (F.lit(84.6) * spw)
                )
            ).cast("bigint"),
        ).alias("flesch_milli"),
        F.when(
            F.col("n_words") > 0,
            F.floor(
                F.lit(1000.0)
                * (
                    ((F.lit(0.39) * wps) + (F.lit(11.8) * spw))
                    - F.lit(15.59)
                )
            ).cast("bigint"),
        ).alias("fk_grade_milli"),
    )


# --- L16x round 8: Zipf-law fit audit ----------------------------------------

ZIPF_TOP = 100  # fit over the top-R vocabulary ranks (all 31 on this corpus)

_ZIPF_ORACLE = rf"""
    WITH tok AS (
      SELECT unnest(string_split_regex(TRIM(text), '\s+')) AS w
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w),
    ranked AS (
      SELECT w, c,
             CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w) AS BIGINT) AS rnk
      FROM vocab
    ),
    pts AS (
      -- ln(rank), ln(count) each rounded ONCE to integer micros; the
      -- regression then runs entirely in exact bigint sums
      SELECT rnk, c,
             CAST(ROUND(ln(CAST(rnk AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS x_u,
             CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS y_u
      FROM ranked WHERE rnk <= {ZIPF_TOP}
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x_u) AS BIGINT) AS sx,
             CAST(SUM(y_u) AS BIGINT) AS sy,
             CAST(SUM(x_u * x_u) AS BIGINT) AS sxx,
             CAST(SUM(x_u * y_u) AS BIGINT) AS sxy,
             CAST(SUM(y_u * y_u) AS BIGINT) AS syy,
             CAST(MAX(c) AS BIGINT) AS top_count
      FROM pts
    )
    SELECT n AS n_terms, top_count,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
           (CAST(sy AS DOUBLE)
            - (CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
             / (CAST(n AS DOUBLE) * 1000000.0) AS intercept,
           CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)) AS r2
    FROM s
"""


@gate("op_text_zipf_fit", _ZIPF_ORACLE)
def op_text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus unigram distribution: least-squares
    slope/intercept/R^2 of ln(frequency) against ln(rank) over the top
    ZIPF_TOP vocabulary ranks — the corpus-health audit next to
    op_vocab_coverage_curve: natural text fits slope near -1 (Zipf
    1949; Piantadosi 2014 review), while template floods, boilerplate
    and synthetic spam bend the curve (this closed-vocabulary corpus
    reads nearly flat — exactly the deviation the audit flags).

    Exactness: ranks and counts are exact; ln(rank) and ln(count) are
    each rounded ONCE to integer micros (op_lm_perplexity ln policy),
    the normal-equation sums (n, Sx, Sy, Sxx, Sxy, Syy) accumulate in
    exact bigint (budget: |y_u| < 1.8e7 at any corpus SF, so Syy <
    R * 3.3e14 — 4 orders inside int64), and slope / intercept / R^2
    are fixed double chains over those exact integers — bit-identical
    across engines (multiply and divide only, no pow).

    Scale shape: one token-count aggregate (map-side combined), one
    top-R rank window over the vocabulary aggregate (WindowGroupLimit
    at fleet scale: partial top-R per partition), then a single-row
    regression aggregate. The whole fit costs one scan + one
    vocab-sized shuffle.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    tok = docs.select(F.explode(tokens("text")).alias("w"))
    vocab = tok.groupBy("w").agg(F.count("*").cast("bigint").alias("c"))
    from pyspark.sql import Window

    rw = Window.orderBy(F.desc("c"), F.asc("w"))
    pts = (
        vocab.withColumn("rnk", F.row_number().over(rw).cast("bigint"))
        .filter(F.col("rnk") <= ZIPF_TOP)
        .select(
            "c",
            F.round(F.log(F.col("rnk").cast("double")) * 1000000.0, 0)
            .cast("bigint")
            .alias("x_u"),
            F.round(F.log(F.col("c").cast("double")) * 1000000.0, 0)
            .cast("bigint")
            .alias("y_u"),
        )
    )
    s = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x_u").cast("bigint").alias("sx"),
        F.sum("y_u").cast("bigint").alias("sy"),
        F.sum(F.col("x_u") * F.col("x_u")).cast("bigint").alias("sxx"),
        F.sum(F.col("x_u") * F.col("y_u")).cast("bigint").alias("sxy"),
        F.sum(F.col("y_u") * F.col("y_u")).cast("bigint").alias("syy"),
        F.max("c").cast("bigint").alias("top_count"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = num / dx
    return s.select(
        F.col("n").alias("n_terms"),
        "top_count",
        slope.alias("slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / (F.col("n").cast("double") * F.lit(1000000.0))
        ).alias("intercept"),
        (num * num / (dx * dy)).alias("r2"),
    )


# --- L16x round 8: boilerplate-prefix template-flood audit --------------------

BOILER_PREFIX_TOKENS = 5  # leading-token fingerprint length

_BOILER_ORACLE = rf"""
    WITH d AS (
      SELECT doc_id, source, string_split_regex(TRIM(text), '\s+') AS ws
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    pref AS (
      SELECT source,
             array_to_string(list_slice(ws, 1, {BOILER_PREFIX_TOKENS}), ' ')
               AS prefix
      FROM d WHERE LEN(ws) >= {BOILER_PREFIX_TOKENS}
    ),
    counts AS (
      SELECT source, prefix, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM pref GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, CAST(SUM(n_docs) AS BIGINT) AS n_src FROM counts
      GROUP BY 1
    ),
    top AS (
      SELECT source, prefix, n_docs FROM (
        SELECT source, prefix, n_docs,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_docs DESC, prefix) AS rk
        FROM counts
      ) WHERE rk = 1
    )
    SELECT top.source, top.prefix, top.n_docs, tot.n_src,
           top.n_docs * 1000000 // tot.n_src AS share_micro
    FROM top JOIN tot USING (source)
"""


@gate("op_text_boilerplate_prefix", _BOILER_ORACLE)
def op_text_boilerplate_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-flood detector: per source, the most common leading
    BOILER_PREFIX_TOKENS-token prefix and its share of the source's
    documents — the curation audit that catches boilerplate headers,
    scraped navigation chrome and form-letter floods (C4 and Gopher
    both strip repeated leading lines; a source where one prefix
    covers a large share is a template dump, not prose, however good
    its per-document quality scores look).

    Exactness: prefixes are exact strings (same whitespace split +
    join in both engines), counts and the micro share are exact
    bigint (integer division); top-1 tiebreaks (count DESC, prefix).

    Scale shape: one narrow projection per document (array slice +
    join — no explode), one map-side-combined (source, prefix) count,
    a WindowGroupLimit top-1 over the aggregate, and a source-sized
    totals join. The shuffle is the distinct-prefix count aggregate,
    linear in distinct prefixes, never in tokens.
    """
    d = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    ws = tokens("text")
    pref = d.select(
        "source",
        F.array_join(F.slice(ws, 1, BOILER_PREFIX_TOKENS), " ").alias(
            "prefix"
        ),
        F.size(ws).alias("ntok"),
    ).filter(F.col("ntok") >= BOILER_PREFIX_TOKENS)
    counts = (
        pref.groupBy("source", "prefix")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .localCheckpoint()  # feeds both the top-1 window and the totals
    )
    tot = counts.groupBy("source").agg(
        F.sum("n_docs").cast("bigint").alias("n_src")
    )
    from pyspark.sql import Window

    wr = Window.partitionBy("source").orderBy(F.desc("n_docs"), F.asc("prefix"))
    top = (
        counts.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    return top.join(tot, "source").select(
        "source",
        "prefix",
        "n_docs",
        "n_src",
        F.expr("n_docs * 1000000L div n_src").alias("share_micro"),
    )


# --- ROUGE-2 overlap between adjacent same-language documents ------------

_ROUGE_OVERLAP_ORACLE = r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t
      FROM documents
    ),
    bgs AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i + 1])) AS bg
      FROM tok WHERE len(t) >= 2
    ),
    cnt AS (
      SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS c
      FROM bgs GROUP BY 1, 2
    ),
    tot AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
    p AS (
      SELECT lang, ref_id, cand_id FROM (
        SELECT lang, doc_id AS ref_id,
               LEAD(doc_id) OVER (PARTITION BY lang ORDER BY doc_id)
                 AS cand_id
        FROM documents
      ) WHERE cand_id IS NOT NULL
    ),
    ov AS (
      SELECT p.ref_id, p.cand_id,
             CAST(SUM(LEAST(r.c, q.c)) AS BIGINT) AS overlap
      FROM p
      JOIN cnt r ON r.doc_id = p.ref_id
      JOIN cnt q ON q.doc_id = p.cand_id AND q.bg = r.bg
      GROUP BY 1, 2
    )
    SELECT p.lang, p.ref_id, p.cand_id,
           tr.n AS ref_bigrams, tq.n AS cand_bigrams,
           COALESCE(ov.overlap, 0) AS overlap,
           CAST(COALESCE(ov.overlap, 0) * 1000000 // tr.n AS BIGINT)
             AS rouge2_recall_micro,
           CAST(COALESCE(ov.overlap, 0) * 1000000 // tq.n AS BIGINT)
             AS rouge2_precision_micro
    FROM p
    JOIN tot tr ON tr.doc_id = p.ref_id
    JOIN tot tq ON tq.doc_id = p.cand_id
    LEFT JOIN ov ON ov.ref_id = p.ref_id AND ov.cand_id = p.cand_id
"""


@gate("op_text_rouge_overlap", _ROUGE_OVERLAP_ORACLE)
def op_text_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 clipped-bigram recall/precision between each document and
    its same-language doc_id successor — the n-gram-overlap eval metric
    (Lin 2004) a summarization / paraphrase-mining pass computes per
    (reference, candidate) pair; the adjacent-id pairing is the eval
    harness's deterministic stand-in for a real alignment table (swap
    the ``p`` frame for one to productionize).

    Exactness: clipped counts Σ min(c_ref, c_cand) are pure integers;
    recall/precision are one fixed-point division each (overlap·1e6 div
    total, both engines truncating non-negatives identically). Pairs
    where either side has <2 tokens (no bigrams) drop via the totals
    inner join on BOTH engines.

    Scale shape: bigram counts are one doc-keyed aggregate over the
    corpus scan; each doc joins at most two pairs (its predecessor's
    and its own), so the overlap join is linear in corpus size and
    keyed by (pair, gram) — never all-pairs. A real alignment table
    keeps the same plan with pair fan-out bounded by the alignment.
    """
    docs = read_table(spark, sf_dir, "documents")
    bgs = docs.select(
        "doc_id", F.explode(shingle_grams("text", 2)).alias("bg")
    )
    cnt = bgs.groupBy("doc_id", "bg").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = cnt.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("n"))
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("doc_id")
    p = (
        docs.select(
            "lang",
            F.col("doc_id").alias("ref_id"),
            F.lead("doc_id").over(w).alias("cand_id"),
        )
        .filter(F.col("cand_id").isNotNull())
    )
    r = cnt.select(
        F.col("doc_id").alias("ref_id"), "bg", F.col("c").alias("c_ref")
    )
    q = cnt.select(
        F.col("doc_id").alias("cand_id"), "bg", F.col("c").alias("c_cand")
    )
    ov = (
        p.join(r, "ref_id")
        .join(q, ["cand_id", "bg"])
        .groupBy("ref_id", "cand_id")
        .agg(F.sum(F.least("c_ref", "c_cand")).cast("bigint").alias("overlap"))
    )
    tr = tot.select(F.col("doc_id").alias("ref_id"), F.col("n").alias("ref_bigrams"))
    tq = tot.select(
        F.col("doc_id").alias("cand_id"), F.col("n").alias("cand_bigrams")
    )
    return (
        p.join(tr, "ref_id")
        .join(tq, "cand_id")
        .join(ov, ["ref_id", "cand_id"], "left")
        .withColumn("overlap", F.coalesce("overlap", F.lit(0)).cast("bigint"))
        .select(
            "lang",
            "ref_id",
            "cand_id",
            "ref_bigrams",
            "cand_bigrams",
            "overlap",
            F.expr("overlap * 1000000L div ref_bigrams")
            .cast("bigint")
            .alias("rouge2_recall_micro"),
            F.expr("overlap * 1000000L div cand_bigrams")
            .cast("bigint")
            .alias("rouge2_precision_micro"),
        )
    )


# --- Bigram predictability (Simpson collision, conditioned on prev) ------

_BIGRAM_PREDICT_ORACLE = r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> {'p': t[i], 'w': t[i + 1]})) AS u
      FROM tok WHERE len(t) >= 2
    ),
    c AS (
      SELECT doc_id, u.p AS p, u.w AS w, CAST(COUNT(*) AS BIGINT) AS c
      FROM bg GROUP BY 1, 2, 3
    ),
    prev AS (
      SELECT doc_id, p, CAST(SUM(c) AS BIGINT) AS np,
             CAST(SUM(c * c) AS BIGINT) AS sc2
      FROM c GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(np) AS BIGINT) AS n_bigrams,
           CAST(COUNT(*) AS BIGINT) AS n_prev_types,
           CAST(SUM(sc2) * 1000000 // SUM(np * np) AS BIGINT)
             AS predictability_micro
    FROM prev GROUP BY doc_id
"""


@gate("op_text_bigram_predictability", _BIGRAM_PREDICT_ORACLE)
def op_text_bigram_predictability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document next-token predictability: the Simpson collision
    probability that two bigram occurrences drawn from the SAME
    preceding token share their next token — a rational-arithmetic
    stand-in for conditional bigram entropy (log-free on purpose:
    ln/exp are last-ulp engine-specific, so an entropy column could
    never hash-match across engines). High values flag templated /
    machine-generated text whose continuations are near-deterministic;
    low values flag incoherent token soup — both ends are what a
    pretraining quality filter trims.

    Exactness: collisions = Σ_{prev,next} c², base = Σ_prev n_prev²,
    score = collisions·1e6 div base — all integer, one truncating
    division of non-negatives (identical both engines). Int64: a doc of
    T tokens bounds base ≤ T²; T·1e3-token docs leave 1e6 headroom
    after the 1e6 scale.

    Scale shape: one (doc, prev, next) aggregate then one (doc, prev)
    aggregate, both map-side-combinable and keyed under doc_id — linear
    in corpus size, no window, no self-join.
    """
    docs = read_table(spark, sf_dir, "documents")
    bg = docs.select(
        "doc_id", F.explode(shingle_grams("text", 2)).alias("bg")
    ).select(
        "doc_id",
        F.substring_index("bg", " ", 1).alias("p"),
        F.substring_index("bg", " ", -1).alias("w"),
    )
    c = bg.groupBy("doc_id", "p", "w").agg(
        F.count("*").cast("bigint").alias("c")
    )
    prev = c.groupBy("doc_id", "p").agg(
        F.sum("c").cast("bigint").alias("np"),
        F.sum(F.expr("c * c")).cast("bigint").alias("sc2"),
    )
    return prev.groupBy("doc_id").agg(
        F.sum("np").cast("bigint").alias("n_bigrams"),
        F.count("*").cast("bigint").alias("n_prev_types"),
        F.expr("sum(sc2) * 1000000L div sum(np * np)")
        .cast("bigint")
        .alias("predictability_micro"),
    )
