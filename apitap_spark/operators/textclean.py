"""Text cleaning operators: PII redaction, markup stripping, repetition
signals (the Gopher/C4-style filters a pretraining corpus pass applies
before tokenization).

All pure Catalyst expressions — per-document O(len) or O(len·distinct)
work, ZERO shuffles, so a 100 TB pass is a single map stage whose cost
is the scan itself. Regex patterns are written in the common
Java-regex/RE2 subset (no lookahead/backrefs) so the DuckDB oracles run
the byte-identical pattern.

Beyond-reference operators sanctioned by the build brief (training-data
pipeline suite); no counterpart in /root/reference (its transform surface
is SQL-only, src/pipeline/mod.rs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apitap_spark.functions.text import shingle_grams, tokens
from apitap_spark.registry import gate
from apitap_spark.session import read_table


# Lookahead-free patterns, valid under both Java regex (Spark) and RE2
# (DuckDB). Replacement order matters: emails before phones (an email's
# local part can contain digit runs), IPs before phones (an IP is a
# digit-and-dot run a loose phone pattern would eat).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\+?[0-9][0-9()\s.-]{6,}[0-9]"


def scrub_pii(col) -> "F.Column":
    """Redact emails → <EMAIL>, IPv4s → <IP>, phone-like runs → <PHONE>."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, IPV4_RE, "<IP>")
    return F.regexp_replace(c, PHONE_RE, "<PHONE>")


@gate(
    "op_text_pii_scrub",
    rf"""
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(LEN(regexp_extract_all(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                                       '{IPV4_RE}')) AS BIGINT) AS n_ips,
           CAST(LEN(regexp_extract_all(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                                                      '{IPV4_RE}', '<IP>', 'g'),
                                       '{PHONE_RE}')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                                         '{IPV4_RE}', '<IP>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM documents
    """,
)
def op_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: emails / IPv4s / phone-number-like runs replaced with
    typed placeholder tokens, with per-type match counts.

    Counts are taken stage-by-stage on the already-partially-redacted
    text (same as the replacement pipeline sees), so count and redaction
    can never disagree about overlapping matches.
    """
    docs = read_table(spark, sf_dir, "documents")
    after_email = F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, IPV4_RE, "<IP>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(EMAIL_RE), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(after_email, F.lit(IPV4_RE), 0))
        .cast("bigint")
        .alias("n_ips"),
        F.size(F.regexp_extract_all(after_ip, F.lit(PHONE_RE), 0))
        .cast("bigint")
        .alias("n_phones"),
        F.regexp_replace(after_ip, PHONE_RE, "<PHONE>").alias("redacted"),
    )


TAG_RE = r"<[^>]+>"
# Minimal HTML entity ladder; '&amp;' must decode LAST so '&amp;lt;'
# becomes '&lt;' (literal), not '<' (double-decode).
ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]


@gate(
    "op_text_strip_markup",
    rf"""
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text, '{TAG_RE}')) AS BIGINT) AS n_tags,
           trim(regexp_replace(
                replace(replace(replace(replace(replace(
                    regexp_replace(text, '{TAG_RE}', ' ', 'g'),
                    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                    '&#39;', CHR(39)), '&amp;', '&'),
                '\s+', ' ', 'g')) AS clean_text
    FROM documents
    """,
)
def op_text_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup stripping: drop <...> tags (replaced by a space so adjacent
    words don't fuse), decode the common HTML entities, collapse
    whitespace. The boilerplate-removal step before quality filtering."""
    docs = read_table(spark, sf_dir, "documents")
    c = F.regexp_replace(F.col("text"), TAG_RE, " ")
    for ent, ch in ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    clean = F.trim(F.regexp_replace(c, r"\s+", " "))
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(TAG_RE), 0))
        .cast("bigint")
        .alias("n_tags"),
        clean.alias("clean_text"),
    )


@gate(
    "op_text_repetition",
    r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    grams AS (
      SELECT doc_id, t,
             list_transform(range(1, GREATEST(LEN(t) - 1, 0) + 1),
                            i -> t[i] || ' ' || t[i + 1]) AS b
      FROM tok
    )
    SELECT doc_id,
           CAST(LEN(t) AS BIGINT) AS n_tokens,
           1.0 - CAST(LEN(list_distinct(t)) AS DOUBLE) / LEN(t) AS dup_word_frac,
           CAST(list_max(list_transform(list_distinct(t),
                 w -> LEN(list_filter(t, x -> x = w)))) AS DOUBLE)
             / LEN(t) AS top_word_share,
           CASE WHEN LEN(b) = 0 THEN 0.0
                ELSE CAST(list_max(list_transform(list_distinct(b),
                       g -> LEN(list_filter(b, x -> x = g)))) AS DOUBLE) / LEN(b)
           END AS top_bigram_share
    FROM grams
    """,
)
def op_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals (Gopher-rule family): duplicate-word fraction,
    most-frequent-word share, most-frequent-bigram share.

    Computed per document with array expressions — O(len·distinct) per
    doc (documents are bounded-length), zero shuffle. The alternative
    explode→groupBy(doc, gram) formulation shuffles every gram of the
    corpus twice; for a filter pass over 100 TB the shuffle-free shape
    wins outright.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    t = tokens("text")
    d = docs.select(
        "doc_id", t.alias("t"), shingle_grams("text", 2).alias("b")
    )

    def top_share(arr):
        counts = F.transform(
            F.array_distinct(arr),
            lambda w: F.size(F.filter(arr, lambda x: x == w)),
        )
        return F.array_max(counts).cast("double") / F.size(arr)

    return d.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        (1.0 - F.size(F.array_distinct("t")).cast("double") / F.size("t")).alias(
            "dup_word_frac"
        ),
        top_share(F.col("t")).alias("top_word_share"),
        F.when(F.size("b") == 0, F.lit(0.0))
        .otherwise(top_share(F.col("b")))
        .alias("top_bigram_share"),
    )


# --- L100: Gopher-rule document filter -------------------------------------

GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 90
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 8.0
GOPHER_MIN_STOPWORDS = 2
GOPHER_MIN_ALPHA_FRAC = 0.8

_GOPHER_STOP = ["the", "a", "of", "and", "is", "to", "in"]
_GOPHER_STOP_SQL = ", ".join(f"'{w}'" for w in _GOPHER_STOP)

_GOPHER_ORACLE = rf"""
    WITH tok AS (
      SELECT doc_id,
             string_split_regex(TRIM(text), '\s+') AS t
      FROM documents
      WHERE LENGTH(TRIM(text)) > 0
    ),
    m AS (
      SELECT doc_id,
             CAST(LEN(t) AS BIGINT) AS n_words,
             CAST(list_aggregate(list_transform(t, w -> LENGTH(w)), 'sum')
                  AS DOUBLE) / LEN(t) AS mean_len,
             CAST(LEN(list_filter(t, w -> list_contains([{_GOPHER_STOP_SQL}], w)))
                  AS BIGINT) AS n_stop,
             CAST(LEN(list_filter(t, w -> regexp_matches(w, '^[a-z]+$')))
                  AS DOUBLE) / LEN(t) AS alpha_frac
      FROM tok
    )
    SELECT doc_id, n_words,
           ROUND(mean_len, 6) AS mean_word_len,
           n_stop AS n_stopwords,
           ROUND(alpha_frac, 6) AS alpha_word_frac,
           (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}) AS r_word_count,
           (mean_len BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN}) AS r_mean_word_len,
           (n_stop >= {GOPHER_MIN_STOPWORDS}) AS r_stopwords,
           (alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}) AS r_alpha_words,
           ((n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
            AND (mean_len BETWEEN {GOPHER_MIN_MEAN_LEN} AND {GOPHER_MAX_MEAN_LEN})
            AND (n_stop >= {GOPHER_MIN_STOPWORDS})
            AND (alpha_frac >= {GOPHER_MIN_ALPHA_FRAC})) AS pass_gopher
    FROM m
"""


@gate("op_text_gopher_rules", _GOPHER_ORACLE)
def op_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based document filter (Rae et al. 2021 §A1.1):
    per-document named rule flags — word-count bounds, mean-word-length
    bounds, minimum stop-word count, minimum alphabetic-word fraction —
    plus the conjunctive pass verdict. Unlike ``op_text_quality_score``
    (a weighted composite), this emits each rule's boolean so a curation
    run can report per-rule rejection rates, the way the Gopher paper
    tables them. Thresholds are module constants tuned to the synthetic
    corpus's 10-99-word documents.

    Pure per-document Catalyst array expressions — zero shuffle; a
    100 TB filter pass costs exactly the scan, and the rule columns are
    computed once per doc inside a single projection (whole-stage
    codegen, no Python).
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    t = tokens("text")
    d = docs.select("doc_id", t.alias("t"))
    n_words = F.size("t").cast("bigint")
    mean_len = (
        F.aggregate("t", F.lit(0), lambda acc, w: acc + F.length(w)).cast("double")
        / F.size("t")
    )
    n_stop = F.size(
        F.filter("t", lambda w: w.isin(_GOPHER_STOP))
    ).cast("bigint")
    alpha_frac = (
        F.size(F.filter("t", lambda w: w.rlike("^[a-z]+$"))).cast("double")
        / F.size("t")
    )
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_len.alias("mean_len"),
        n_stop.alias("n_stop"),
        alpha_frac.alias("alpha_frac"),
    )
    r_wc = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    r_ml = F.col("mean_len").between(GOPHER_MIN_MEAN_LEN, GOPHER_MAX_MEAN_LEN)
    r_sw = F.col("n_stop") >= GOPHER_MIN_STOPWORDS
    r_al = F.col("alpha_frac") >= GOPHER_MIN_ALPHA_FRAC
    return m.select(
        "doc_id",
        "n_words",
        F.round("mean_len", 6).alias("mean_word_len"),
        F.col("n_stop").alias("n_stopwords"),
        F.round("alpha_frac", 6).alias("alpha_word_frac"),
        r_wc.alias("r_word_count"),
        r_ml.alias("r_mean_word_len"),
        r_sw.alias("r_stopwords"),
        r_al.alias("r_alpha_words"),
        (r_wc & r_ml & r_sw & r_al).alias("pass_gopher"),
    )
