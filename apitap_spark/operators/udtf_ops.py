"""User-defined function surface (SURVEY §2.2 Q14).

The reference registers zero UDFs/UDAFs/UDTFs (DataFusion supports them;
apitap adds none) — this module exercises the full Spark Python UDF
surface so the capability is demonstrably present:

* a Python UDTF (table function) emitting shingles per document — its
  output is verified against the same SQL oracle as the relational
  shingle pipeline, proving the UDF path agrees with the codegen path;
* an Arrow-optimized scalar pandas UDF;
* an approximate-aggregate query (HLL / KLL sketches) — the built-in
  approx family that replaces exact distinct/percentile at 100 TB.

UDFs remain the slow path (ser/de across the Python boundary) — every
production operator in this engine uses built-ins; this module is the
capability proof, not the hot path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf
from pyspark.sql.types import DoubleType

from apitap_spark.registry import gate
from apitap_spark.session import read_table


@udtf(returnType="doc_id: bigint, shingle: string")
class ShingleUDTF:
    """Emit distinct 3-word shingles per document (lateral-join table fn)."""

    def eval(self, doc_id: int, text: str):  # noqa: A002
        if text is None:
            return
        words = text.strip().split()
        seen = set()
        for i in range(len(words) - 2):
            s = " ".join(words[i : i + 3])
            if s not in seen:
                seen.add(s)
                yield (doc_id, s)


@gate(
    "op_udtf_shingles",
    r"""
    SELECT doc_id, UNNEST(list_distinct(
             list_transform(range(1, len(ws) - 1),
                            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
           )) AS shingle
    FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents) t
    WHERE doc_id < 100
    """,
)
def op_udtf_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF vs the relational oracle: the table function must emit
    exactly the rows the codegen shingle pipeline produces.

    Note: text.split() and the oracle's regex split agree because the
    corpus uses single-space separators; the engine's production shingles
    (functions/text.py) handle arbitrary whitespace JVM-side.
    """
    spark.udtf.register("shingle_udtf", ShingleUDTF)
    read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100
    ).createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT s.doc_id, s.shingle
        FROM _udtf_docs d, LATERAL shingle_udtf(d.doc_id, d.text) s
        """
    )


@gate(
    "op_pandas_udf_zscore",
    """
    SELECT vec_id,
           ROUND((CAST(label AS DOUBLE) - mu) / sigma, 6) AS label_z
    FROM embeddings,
         (SELECT AVG(CAST(label AS DOUBLE)) AS mu,
                 stddev_pop(CAST(label AS DOUBLE)) AS sigma
          FROM embeddings) stats
    """,
)
def op_pandas_udf_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched scalar pandas UDF (vectorized z-score) checked against
    the pure-SQL oracle. The mean/std come from an exact aggregate; only
    the normalization runs in Python (Arrow transfer, no per-row cost)."""
    emb = read_table(spark, sf_dir, "embeddings")
    stats = emb.agg(
        F.avg(F.col("label").cast("double")).alias("mu"),
        F.stddev_pop(F.col("label").cast("double")).alias("sigma"),
    ).collect()[0]
    mu, sigma = float(stats["mu"]), float(stats["sigma"])

    @F.pandas_udf(DoubleType())
    def zscore(label: pd.Series) -> pd.Series:
        return ((label.astype("float64") - mu) / sigma).round(6)

    return emb.select("vec_id", zscore(F.col("label")).alias("label_z"))


@gate("op_approx_aggregates")  # sketch results are engine-specific
def op_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approx_count_distinct + KLL-style approx_percentile — the
    sketches that replace exact distinct/percentile at 100 TB (mergeable,
    bounded memory). Engine-specific estimates → rows-only check; the
    accuracy bound is asserted in tests against exact values."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_p50"),
        F.count("*").alias("n_rows"),
    )


ZLIB_LEVEL = 6


@gate("op_text_compression_ratio")  # zlib not in SQL → rows-only gate
def op_text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression ratio — the Kolmogorov-style
    quality signal pretraining filters use to catch templated/repetitive
    text (highly compressible => low-entropy boilerplate; near-1 ratios
    => random noise).

    This is the JUSTIFIED Python-UDF case: a byte-level codec with no
    Catalyst equivalent, run as an Arrow-batched scalar pandas UDF
    (one Python roundtrip per ~10k-row batch, zero per-row overhead).
    zlib at a fixed level is bit-deterministic across runs/platforms
    (same zlib algorithm), so the output is stable; the driver gate is
    rows-only (DuckDB has no zlib) and pytest reproduces the exact
    ratios with direct Python zlib calls.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(DoubleType())
    def comp_ratio(texts: pd.Series) -> pd.Series:
        import zlib

        def ratio(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return None
            return len(zlib.compress(raw, ZLIB_LEVEL)) / len(raw)

        return texts.map(ratio)

    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.round(comp_ratio("text"), 6).alias("compression_ratio"),
    )
