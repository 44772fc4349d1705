"""Corpus curation: the composed training-data pipeline (quality gate +
language ID + exact dedup → keep/drop decision per document).

This is the operator a 100 TB pretraining-data run actually executes —
one pass computing every per-document signal (pure Catalyst expressions,
no shuffle) plus one hash shuffle for the dedup group, then the keep
decision. The full decision table is oracle-verified: the DuckDB SQL
composes the same fragments the individual operators use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apitap_spark.functions.text import normalize_ws, tokens
from apitap_spark.operators.textstats import LANG_MARKERS, STOPWORDS, _lang_case_sql
from apitap_spark.registry import gate
from apitap_spark.session import read_table

QUALITY_KEEP_THRESHOLD = 0.55
_SQL_STOP = ", ".join(f"'{w}'" for w in STOPWORDS)


@gate(
    "op_corpus_curation",
    rf"""
    WITH feat AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash,
             CAST(LEN(string_split_regex(TRIM(text), '\s+')) AS BIGINT) AS n_tokens,
             ROUND(0.3 * LEAST(CAST(LEN(string_split_regex(TRIM(text), '\s+')) AS DOUBLE) / 100, 1.0)
                   + 0.4 * (CAST(LENGTH(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / LENGTH(text))
                   + 0.3 * LEAST(CAST(LEN(list_filter(string_split_regex(TRIM(text), '\s+'),
                                                      w -> w IN ({_SQL_STOP}))) AS DOUBLE)
                                 / LEN(string_split_regex(TRIM(text), '\s+')) * 5, 1.0), 6) AS quality_score,
             {_lang_case_sql()} AS predicted_lang
      FROM documents
      WHERE LENGTH(TRIM(text)) > 0
    ),
    canon AS (
      SELECT text_hash, MIN(doc_id) AS keep_doc_id FROM feat GROUP BY text_hash
    )
    SELECT f.doc_id AS doc_id, f.n_tokens AS n_tokens,
           f.quality_score AS quality_score, f.predicted_lang AS predicted_lang,
           (f.doc_id <> c.keep_doc_id) AS is_exact_dup,
           (f.quality_score >= {QUALITY_KEEP_THRESHOLD} AND f.doc_id = c.keep_doc_id) AS keep
    FROM feat f JOIN canon c ON f.text_hash = c.text_hash
    """,
)
def op_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation decision: quality >= 0.55 AND not an exact
    duplicate. Signals computed in one projection; dedup adds the single
    digest shuffle; the output is the keep/drop manifest a downstream
    tokenizer consumes."""
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
    counts = {
        lang: F.size(F.filter(t, lambda w: w.isin(words)))
        for lang, words in LANG_MARKERS.items()
    }
    g = F.greatest(*counts.values())
    pred = F.when(g == 0, "unknown")
    for lang in sorted(LANG_MARKERS):
        pred = pred.when(counts[lang] == g, lang)

    feat = docs.select(
        "doc_id",
        F.md5(normalize_ws("text")).alias("text_hash"),
        n_tok.alias("n_tokens"),
        score.alias("quality_score"),
        pred.alias("predicted_lang"),
    )
    keep_doc = F.min("doc_id").over(Window.partitionBy("text_hash"))
    return (
        feat.withColumn("keep_doc_id", keep_doc)
        .select(
            "doc_id",
            "n_tokens",
            "quality_score",
            "predicted_lang",
            (F.col("doc_id") != F.col("keep_doc_id")).alias("is_exact_dup"),
            (
                (F.col("quality_score") >= QUALITY_KEEP_THRESHOLD)
                & (F.col("doc_id") == F.col("keep_doc_id"))
            ).alias("keep"),
        )
    )
