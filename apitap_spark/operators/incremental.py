"""Incremental dedup: a NEW batch of documents against an EXISTING corpus.

The ingestion-time shape of dedup. A training-data pipeline never
re-deduplicates 100 TB from scratch when a crawl delivers a new slice;
it keeps a *signature store* (one row per distinct canonical document)
and answers, per new document: already in the corpus? a duplicate
inside the batch itself? or genuinely new?

Scale shape — the whole point of the incremental formulation:

* Work is proportional to the BATCH, not the corpus. The corpus enters
  only through its signature store (text_hash -> canonical doc_id; one
  row per *distinct* text, typically orders of magnitude smaller than
  the raw corpus, and never re-derived per batch).
* The store should live as a bucketed dataset on its hash column
  (apitap_spark.sinks.dataset.DatasetSpec(bucket_by=(N, "text_hash"))):
  then the store side of the join reads pre-partitioned with ZERO
  exchange and only the (small) batch shuffles. The gate below derives
  the store from the documents table because driver gates are
  read-only single-table; build_signature_store + incremental_exact
  are the production pieces.
* The near-dup rung reuses the SAME MinHash banding as the full-batch
  operator (dedup.minhash_band_buckets), so a stored bucket table is
  join-compatible across runs: new-batch buckets hash-join the store's
  buckets, candidates verify with exact Jaccard (false positives
  impossible, miss probability < 1e-7 at j=0.8 — identical guarantees
  to op_dedup_minhash_lsh).

No reference counterpart (the reference syncs API pages, it has no
corpus semantics); this extends SURVEY §2's dedup ladder to the
incremental axis. The gate's old/new split is doc_id % 10 (80/20),
mirrored exactly in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apitap_spark.functions.text import normalize_ws
from apitap_spark.operators.dedup import (
    _SQL_SHINGLES,
    _candidate_doc_shingles,
    _jaccard_pairs,
)
from apitap_spark.registry import gate
from apitap_spark.session import read_table


# ---- production API ------------------------------------------------------


def build_signature_store(docs: DataFrame) -> DataFrame:
    """(text_hash, canonical_doc_id): one row per distinct normalized
    text — the persistent state of incremental exact dedup. Write it
    bucketed on text_hash (sinks.dataset) so every future batch joins
    it shuffle-free on the store side."""
    return docs.groupBy(F.md5(normalize_ws("text")).alias("text_hash")).agg(
        F.min("doc_id").alias("canonical_doc_id")
    )


def incremental_exact(batch: DataFrame, store: DataFrame) -> DataFrame:
    """Classify each batch document against the corpus signature store.

    Returns (doc_id, status, canonical_doc_id) where status is
    'corpus_dup' (hash exists in the store), 'batch_dup' (first seen
    inside this batch, but not by this row), or 'unique'. The canonical
    id is the store's doc for corpus dups, else the smallest batch doc
    sharing the hash. One groupBy over the batch + one join per side;
    the corpus never rescans."""
    hashed = batch.select(
        "doc_id", F.md5(normalize_ws("text")).alias("text_hash")
    )
    batch_canon = hashed.groupBy("text_hash").agg(
        F.min("doc_id").alias("batch_canonical")
    )
    joined = (
        hashed.join(batch_canon, "text_hash")
        .join(
            store.withColumnRenamed("canonical_doc_id", "store_canonical"),
            "text_hash",
            "left",
        )
    )
    status = (
        F.when(F.col("store_canonical").isNotNull(), "corpus_dup")
        .when(F.col("doc_id") != F.col("batch_canonical"), "batch_dup")
        .otherwise("unique")
    )
    return joined.select(
        "doc_id",
        status.alias("status"),
        F.coalesce("store_canonical", "batch_canonical").alias(
            "canonical_doc_id"
        ),
    )


# ---- driver gates --------------------------------------------------------

_OLD_PRED = "doc_id % 10 < 8"  # 80% corpus
_NEW_PRED = "doc_id % 10 >= 8"  # 20% incoming batch


@gate(
    "op_dedup_incremental",
    rf"""
    WITH hashed AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
      FROM documents
    ),
    store AS (
      SELECT h, MIN(doc_id) AS store_canonical
      FROM hashed WHERE {_OLD_PRED} GROUP BY h
    ),
    batch AS (SELECT * FROM hashed WHERE {_NEW_PRED}),
    batch_canon AS (
      SELECT h, MIN(doc_id) AS batch_canonical FROM batch GROUP BY h
    )
    SELECT b.doc_id AS doc_id,
           CASE WHEN s.store_canonical IS NOT NULL THEN 'corpus_dup'
                WHEN b.doc_id <> c.batch_canonical THEN 'batch_dup'
                ELSE 'unique' END AS status,
           COALESCE(s.store_canonical, c.batch_canonical) AS canonical_doc_id
    FROM batch b
    JOIN batch_canon c ON b.h = c.h
    LEFT JOIN store s ON b.h = s.h
    """,
)
def op_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact incremental dedup gate: documents split 80/20 into corpus
    and incoming batch by ``doc_id % 10``; every batch doc classified
    via incremental_exact against build_signature_store(corpus)."""
    docs = read_table(spark, sf_dir, "documents")
    store = build_signature_store(docs.filter(F.expr(_OLD_PRED)))
    batch = docs.filter(F.expr(_NEW_PRED))
    return incremental_exact(batch, store)


@gate(
    "op_dedup_incremental_minhash",
    rf"""
    WITH sh AS ({_SQL_SHINGLES}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS corpus_doc_id, b.doc_id AS batch_doc_id,
             COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle
      WHERE a.doc_id % 10 < 8 AND b.doc_id % 10 >= 8
      GROUP BY 1, 2
    )
    SELECT corpus_doc_id, batch_doc_id,
           ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes s1 ON s1.doc_id = corpus_doc_id
    JOIN sizes s2 ON s2.doc_id = batch_doc_id
    WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= 0.8
    """,
)
def op_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup incremental dedup: which incoming docs are >= 0.8-Jaccard
    near-duplicates of some corpus doc. Corpus band buckets are the
    persistent store (same banding as op_dedup_minhash_lsh, so one
    stored bucket table serves both); batch buckets hash-join them,
    candidates verify with exact Jaccard — identical false-positive /
    miss guarantees to the full-batch rung, which is why this gate
    shares the exact cross-set Jaccard oracle.

    Note the oracle's WHERE is the *exact* cross-set Jaccard (old x new
    all-pairs); the Spark side only ever computes it on LSH candidates —
    the gate hash-matching proves the candidate set loses nothing at
    the 0.8 threshold (miss probability < 1e-7).
    """
    from apitap_spark.operators.dedup import minhash_buckets_cached

    # Pinned memo shared with the full-batch LSH rung: one signature
    # aggregate per (session, sf_dir) instead of one per gate (round-10;
    # the bucket table IS the persistent store of this module's design).
    buckets = minhash_buckets_cached(spark, sf_dir)
    is_old = F.col("doc_id") % 10 < 8
    store = buckets.filter(is_old)  # production: read bucketed dataset
    batch = buckets.filter(~is_old)
    o, b = store.alias("o"), batch.alias("b")
    candidates = (
        o.join(
            b,
            (F.col("o.band") == F.col("b.band"))
            & (F.col("o.sig") == F.col("b.sig")),
        )
        .select(
            F.col("o.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .distinct()
        # run the (bucket-join side of the) signature aggregate once —
        # see op_dedup_minhash_lsh
        .localCheckpoint()
    )
    sh_cand = _candidate_doc_shingles(spark, sf_dir, candidates)
    return _jaccard_pairs(sh_cand, candidates, 0.8).select(
        F.col("d1").alias("corpus_doc_id"),
        F.col("d2").alias("batch_doc_id"),
        "jaccard",
    )


EMB_INCR_POOL = 1000
EMB_INCR_THRESHOLD = 0.4


def _emb_incr_oracle() -> str:
    from apitap_spark.operators.similarity import _SQL_DOT, _SQL_NORM2

    dot = _SQL_DOT.format(a="o.embedding", b="b.embedding")
    na = _SQL_NORM2.format(a="o.embedding")
    nb = _SQL_NORM2.format(a="b.embedding")
    return f"""
    WITH pool AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {EMB_INCR_POOL}
    ),
    corpus AS (SELECT * FROM pool WHERE vec_id % 10 < 8),
    batch AS (SELECT * FROM pool WHERE vec_id % 10 >= 8)
    SELECT o.vec_id AS corpus_vec_id, b.vec_id AS batch_vec_id,
           ROUND({dot} / (sqrt({na}) * sqrt({nb})), 6) AS cosine
    FROM corpus o JOIN batch b ON TRUE
    WHERE {dot} / (sqrt({na}) * sqrt({nb})) >= {EMB_INCR_THRESHOLD}
    """


@gate("op_dedup_incremental_embedding", _emb_incr_oracle())
def op_dedup_incremental_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic incremental dedup: which INCOMING embeddings are cosine
    near-duplicates (>= 0.4) of the EXISTING corpus — the embedding-space
    twin of op_dedup_incremental_minhash, catching paraphrase re-crawls
    that share no n-grams with their stored original.

    Exact rung over a bounded pool (vec_id < 1000), corpus x batch only
    (an 80/20 split of the pool by vec_id % 10 — no batch-internal or
    corpus-internal pairs): per-side norm precompute, dot-only pair
    kernel, identical d/(na*nb) doubles to the oracle. At corpus scale
    the same corpus/batch split rides the LSH (op_ann_lsh_bucketed
    tables) or IVF candidate streams instead of the cross join, exactly
    as the minhash rung swaps its all-pairs oracle for band buckets.
    """
    from apitap_spark.functions.vectors import cosine_from_norms, l2_norm

    emb = read_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < EMB_INCR_POOL
    )
    pool = emb.select("vec_id", "embedding", l2_norm("embedding").alias("nrm"))
    is_old = F.col("vec_id") % 10 < 8
    corpus = pool.filter(is_old).select(
        F.col("vec_id").alias("corpus_vec_id"),
        F.col("embedding").alias("eo"),
        F.col("nrm").alias("no"),
    )
    batch = pool.filter(~is_old).select(
        F.col("vec_id").alias("batch_vec_id"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = cosine_from_norms("eo", "eb", "no", "nb")
    return (
        corpus.crossJoin(F.broadcast(batch))
        .filter(cos >= EMB_INCR_THRESHOLD)
        .select(
            "corpus_vec_id",
            "batch_vec_id",
            F.round(cos, 6).alias("cosine"),
        )
    )
