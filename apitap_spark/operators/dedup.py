"""Document deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Four rungs of the dedup ladder for a 100 TB corpus:

* exact        — hash-groupBy on a normalized form. One shuffle of
                 (hash, id); scales linearly.
* ngram-jaccard — exact pairwise Jaccard restricted to shingle-sharing
                 pairs. Exact but O(pairs sharing a shingle); the
                 oracle-able ground truth for the approximate rungs.
* minhash-lsh  — 128-perm MinHash, 32 bands x 4 rows, candidates from
                 band-bucket join, verified by exact Jaccard. The scale
                 path: shuffle is O(docs x bands), candidate verification
                 touches only colliding pairs.
* simhash      — 64-bit sign-random-projection over token counts,
                 equal-width chunk banding (pigeonhole: hamming <=
                 n_chunks-1 implies a shared chunk; 8x8-bit default,
                 4x16-bit for corpus scale), verified by popcount(xor).

All hashing is JVM-side (xxhash64 / md5); no Python in any hot path.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apitap_spark import registry
from apitap_spark.functions.text import (
    normalize_ws,
    shingle_grams,
    shingles,
    tokens,
)
from apitap_spark.operators.graph import connected_components
from apitap_spark.registry import gate
from apitap_spark.session import clear_memos, memo, read_table

# perfbench/gates.py imports this name; every other caller uses clear_memos.
clear_dedup_frame_caches = clear_memos


# DuckDB mirror of functions.text.shingles(text, 3): 1-based slices over the
# whitespace-token array; range(1, n-1) is empty for n < 3, matching the
# Spark-side guard.
_SQL_SHINGLES = r"""
  SELECT doc_id, UNNEST(list_distinct(
           list_transform(range(1, len(ws) - 1),
                          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
         )) AS shingle
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents) toks
"""


@gate(
    "op_dedup_exact",
    r"""
    SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def op_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 over whitespace-normalized lowercase text,
    keep the smallest doc_id per group. One hash shuffle on the digest —
    the cheapest possible dedup at any scale."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(normalize_ws("text")).alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


_SQL_JACCARD_PAIRS = rf"""
    WITH sh AS ({_SQL_SHINGLES}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2, ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
    WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= {{thr}}
"""


def shingle_rows(docs: DataFrame) -> DataFrame:
    """Explode a documents frame into (doc_id, shingle) rows (3-gram)."""
    return docs.select(
        "doc_id", F.explode(shingles("text", 3)).alias("shingle")
    )


def gram_hash_rows(docs: DataFrame) -> DataFrame:
    """Explode a documents frame into (doc_id, hkey) rows: the 64-bit
    xxhash of each distinct 3-token slice.

    The MinHash signature path never needs shingle STRINGS downstream —
    any stable 64-bit key of the token triple is a valid permutation
    input — so the explode carries only the hash and the corpus-wide
    shingle-string rows disappear from the minhash rungs (strings are
    rebuilt only for the candidate docs at verify time, a vanishingly
    small subset at any scale). Zero shuffle: per-doc array expressions
    (the zip_with chain of functions.text.shingle_grams), then explode.
    """
    grams = F.transform(
        F.array_distinct(shingle_grams("text", 3)), lambda s: F.xxhash64(s)
    )
    return docs.select("doc_id", F.explode(grams).alias("hkey"))


def _candidate_doc_shingles(
    spark: SparkSession, sf_dir: str, candidates: DataFrame
) -> DataFrame:
    """String (doc_id, shingle) rows for ONLY the docs named in a
    (d1, d2) candidate pair list — the verify-time working set. The
    candidate list is orders of magnitude smaller than the corpus, so
    the semi-join prunes the expensive string-shingle build to a sliver
    regardless of corpus size. No broadcast hint: the candidate list is
    still corpus-PROPORTIONAL, so a forced broadcast removes AQE's
    safety valve — a plain semi-join lets AQE pick broadcast at small
    scale and a shuffled semi-join at 100x."""
    cand_docs = (
        candidates.select(F.col("d1").alias("doc_id"))
        .union(candidates.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    docs = read_table(spark, sf_dir, "documents")
    return shingle_rows(docs.join(cand_docs, "doc_id", "semi"))


def _jaccard_pairs(sh: DataFrame, candidates: DataFrame | None, thr: float) -> DataFrame:
    """Exact Jaccard over shingle sets; if ``candidates`` (d1, d2) is given,
    intersections are computed only for those pairs."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    if candidates is None:
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
            )
            .agg(F.count("*").alias("i"))
        )
    else:
        inter = (
            candidates.join(a, F.col("a.doc_id") == F.col("d1"))
            .join(
                b,
                (F.col("b.doc_id") == F.col("d2"))
                & (F.col("a.shingle") == F.col("b.shingle")),
            )
            .groupBy("d1", "d2")
            .agg(F.count("*").alias("i"))
        )
    s1 = sizes.alias("s1")
    s2 = sizes.alias("s2")
    jac = F.col("i").cast("double") / (F.col("s1.n") + F.col("s2.n") - F.col("i"))
    return (
        inter.join(s1, F.col("s1.doc_id") == F.col("d1"))
        .join(s2, F.col("s2.doc_id") == F.col("d2"))
        .filter(jac >= thr)
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
    )


# Boilerplate guard: shingles present in more than this fraction of the
# corpus are dropped from BOTH sets before Jaccard (mirrored in the oracle
# below, so the gate compares identical semantics).
DF_CAP_FRACTION = 0.1

_SQL_JACCARD_PAIRS_CAPPED = rf"""
    WITH sh0 AS ({_SQL_SHINGLES}),
    keep AS (
      SELECT shingle FROM sh0 GROUP BY shingle
      HAVING COUNT(*) <= GREATEST(2, CAST(FLOOR({DF_CAP_FRACTION} *
               (SELECT COUNT(*) FROM documents)) AS BIGINT))
    ),
    sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2, ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
    WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= 0.2
"""


def cap_shingles_by_df(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df``.

    Skew guard for the shingle self-join: a shingle shared by f docs
    contributes O(f^2) join rows, so one boilerplate trigram in 1% of a
    10B-doc corpus alone yields 1e16 pairs. Capping df bounds every
    bucket at max_df^2.

    Threshold preservation: dropping k shared shingles from a pair with
    intersection i and union u moves Jaccard from i/u to (i-k)/(u-k),
    a change of at most k/u — and only boilerplate (by definition
    near-universal, hence low-signal) shingles are affected, so
    genuine near-dups above a 0.2 threshold stay above it for any
    k << u. The cap is mirrored in the DuckDB oracle, so the driver
    gate compares identical capped semantics exactly.
    """
    keep = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("shingle")
    )
    return sh.join(keep, "shingle")


@gate("op_dedup_ngram_jaccard", _SQL_JACCARD_PAIRS_CAPPED)
def op_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.2) over the
    df-capped shingle vocabulary (df <= 10% of corpus; see
    cap_shingles_by_df for the skew rationale and threshold bound —
    testdata's max shingle df is ~1.4%, so the cap is pure protection
    there).

    Shuffle profile: one explode (no shuffle), one df groupBy, one hash
    join on shingle — now with every join bucket bounded by the cap.
    The production rung at corpus scale is op_dedup_minhash_lsh below;
    this exact variant doubles as its correctness oracle.

    The shingle set feeds three plan branches (sizes + both join sides) —
    persisted so the tokenize/explode runs once (measured 2.4x at sf0.1).
    The cache is hash-partitioned on shingle at defaultParallelism: the
    df-cap join leaves the cache at spark.sql.shuffle.partitions (AQE
    cannot re-partition cached plans), and under a default-conf session
    that meant 200-task map stages for every one of the plan's ~6
    downstream stages — pure scheduling overhead at small SF (measured
    18.6s -> 4s at sf0.01 on local[8]). Partitioning BY shingle also
    co-locates the self-join: both sides read the same cache layout, so
    the join needs no exchange. defaultParallelism grows with the
    cluster, so the choice holds at 100 TB.

    The result is the pinned ``exact_pairs_02`` memo shared with the
    minhash calibration audit, the threshold sweep, and the LSH tuning
    curve.
    """
    return exact_pairs_cached(spark, sf_dir)


def _df_capped_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned-checkpointed, shingle-partitioned (doc_id, shingle) rows
    with hot shingles (df > DF_CAP_FRACTION of the corpus) dropped —
    memoized per (session, sf_dir) and shared by every exact-shingle
    consumer (ngram pairs, containment, the minhash audit's candidate
    signatures).

    The df-cap uses a COUNT window over the shingle-partitioned layout:
    the window's required distribution is already satisfied, so the cap
    costs zero extra exchanges (vs groupBy-df + join = two more). The
    hot-shingle rows land on one task either way — here they are
    dropped immediately after counting, before any self-join. Both
    exact rungs (Jaccard and containment) read this shared shape;
    partitioning BY shingle co-locates their self-joins, and the window
    leaves the cache at defaultParallelism (an anti-join formulation
    measured 1.5x slower because the self-join then re-shuffles both
    sides).
    """
    return memo(
        spark, ("df_capped_shingles", sf_dir),
        lambda: _build_df_capped_shingles(spark, sf_dir),
        family="df_capped_shingles",
    )


def _build_df_capped_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from apitap_spark.session import scan_parallel

    n_docs = read_table(spark, sf_dir, "documents").count()
    # floor the cap at 2: on small corpora int(0.1*n) reaches 0 and would
    # silently drop EVERY shingle (no shared shingle has df < 2 anyway)
    max_df = max(2, int(DF_CAP_FRACTION * n_docs))
    n_par = max(1, spark.sparkContext.defaultParallelism)
    w = Window.partitionBy("shingle")
    # scan_parallel BELOW the explode (r11): the corpus string-shingle
    # explode sat under the shingle exchange on the scan's task count —
    # ONE task for the single-split testdata file — so the build's map
    # side was serial. Counts/joins above are order-independent.
    return (
        shingle_rows(scan_parallel(read_table(spark, sf_dir, "documents"), spark))
        .repartition(n_par, "shingle")
        .withColumn("df", F.count("*").over(w))
        .filter(F.col("df") <= max_df)
        .drop("df")
    )


N_HASHES = 128
N_BANDS = 32
ROWS_PER_BAND = N_HASHES // N_BANDS  # 4


def minhash_band_buckets(hrows: DataFrame) -> DataFrame:
    """(doc_id, band, sig) LSH band-bucket rows from (doc_id, hkey)
    gram-hash rows (see gram_hash_rows).

    The reusable core of MinHash-LSH: 128 minhashes as one partial-
    aggregated groupBy (one row per doc crosses the shuffle), then 32
    band signatures of 4 minhashes each. Shared by the batch dedup
    (op_dedup_minhash_lsh) and the incremental new-vs-corpus dedup
    (operators.incremental), so both rungs bucket identically — an
    incremental signature store stays join-compatible with a full run.
    """
    # 128 independent xxhash64 evaluations per row. Measured AGAINST the
    # Kirsch–Mitzenmacher 2-hash affine family (base + j*step with ANSI-
    # safe masking): KM was 1.4x SLOWER (1.88s vs 1.37s steady-state at
    # sf0.1) — ANSI-mode overflow-checked multiply/add codegen costs more
    # than Spark's tight xxhash64 intrinsic, and KM's weaker independence
    # buys nothing. Keep the stronger family.
    sig = hrows.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.lit(j), F.col("hkey"))).alias(f"h{j}")
            for j in range(N_HASHES)
        ]
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.lit(b),
                    *[F.col(f"h{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)],
                ).alias("sig"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


# Cross-gate memoized pair frames (session.memo), pinned so
# between-gate release_persisted sweeps don't free blocks a later gate
# still reads.  Both frames are pair-list-sized (near-dup pairs — orders
# of magnitude smaller than the corpus at any scale):
#   * exact_pairs_02: the thr-0.2 df-capped exact-Jaccard pair list —
#     computed identically by op_dedup_ngram_jaccard (its output),
#     op_minhash_estimate_audit (calibration ground truth),
#     op_dedup_threshold_curve (sweep input) and op_lsh_tuning_curve
#     (via the ngram gate);
#   * minhash_lsh_pairs: the verified LSH pair list — the output of
#     op_dedup_minhash_lsh and the edge list of op_dedup_clusters /
#     op_dedup_keep_best.
# Previously each consumer re-ran the dominant shingle self-join or the
# full signature+bucket+verify pipeline.
def exact_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned thr-0.2 exact-Jaccard pair list (see cache note above)."""
    return memo(
        spark, ("exact_pairs_02", sf_dir),
        lambda: _jaccard_pairs(_df_capped_shingles(spark, sf_dir), None, 0.2),
        family="exact_pairs_02",
    )


def lsh_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned verified MinHash-LSH pair list (see cache note above)."""
    return memo(
        spark, ("minhash_lsh_pairs", sf_dir),
        lambda: _minhash_lsh_pairs(spark, sf_dir), family="minhash_lsh_pairs",
    )


def minhash_buckets_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned MinHash band-bucket rows (32/doc — linear in the corpus,
    tiny next to it): the shared signature store of the full-batch LSH
    rung (_minhash_lsh_pairs) and the incremental rung
    (op_dedup_incremental_minhash), which previously each re-ran the
    dominant 128-permutation signature aggregate. This is exactly the
    bucket table a production pipeline materializes as persistent state
    (see operators.incremental module docstring)."""
    from apitap_spark.session import scan_parallel

    # scan_parallel: the signature aggregate is the family's dominant
    # compute (128 xxhash64 min()s per gram row) and ran on ONE task
    # over the single-split testdata scan (r11 profile: 7.2s of the
    # 14s build); min() is order-independent, so the round-robin split
    # is oracle-safe. No-op when the input already has >= cores splits.
    return memo(
        spark, ("minhash_buckets", sf_dir),
        lambda: minhash_band_buckets(
            gram_hash_rows(
                scan_parallel(read_table(spark, sf_dir, "documents"), spark)
            )
        ),
        family="minhash_buckets",
    )


@gate("op_dedup_minhash_lsh", _SQL_JACCARD_PAIRS.format(thr=0.8))
def op_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(128) + LSH(32 bands x 4 rows) near-dup pairs at Jaccard>=0.8.

    Candidate pairs come from band-bucket collisions only; each candidate is
    then verified with exact Jaccard, so false positives are impossible and
    the miss probability at j=0.8 is (1 - (1-(1-j^4))^32) < 1e-7 — which is
    why this operator shares the exact-Jaccard oracle.

    Scale shape: minhash signatures are a single groupBy(doc_id) with 128
    partial-aggregated min()s (map-side combine — shuffle is one row per
    doc); banding explodes to 32 rows/doc; the bucket self-join touches
    only colliding buckets. Shingle STRINGS are never materialized for
    the corpus — signatures run on 64-bit gram hashes (gram_hash_rows),
    and exact string verification is pruned to candidate docs only.
    This is the 100 TB dedup path.

    The result is the pinned ``minhash_lsh_pairs`` memo — the clusters
    and keep-best gates read the same frame instead of re-running the
    pipeline.
    """
    return lsh_pairs_cached(spark, sf_dir)


def _minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pinned memo: the bucket rows feed both sides of the self-join as a
    # shuffle side and a broadcast side — different exchange kinds, so
    # ReuseExchange never fires and the signature aggregate would run
    # twice; the memo also shares the build with the incremental rung
    # (round-10).
    buckets = minhash_buckets_cached(spark, sf_dir)
    x = buckets.alias("x")
    y = buckets.alias("y")
    candidates = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2"))
        .distinct()
        # Eager localCheckpoint: the signature aggregate feeds BOTH sides
        # of the bucket self-join and would otherwise re-execute once per
        # side and again per verification join reference (~4x the most
        # expensive stage). Checkpointing the tiny candidate list runs it
        # exactly once and truncates the lineage; blocks are freed when
        # the frame is GC'd, unlike a persist() left behind.
        .localCheckpoint()
    )
    # Eager checkpoint: the candidate shingles feed THREE consumers in
    # _jaccard_pairs (the sizes aggregate and both sides of the
    # intersection join) — lazy, the corpus scan + semi-join + explode
    # re-ran per consumer (r11 profile: verify 3.8s ≈ 3 × the 1.4s
    # noop of one sh_cand pass). The frame is candidate-docs-only, so
    # materializing it is verify-working-set-sized at any scale.
    sh_cand = _candidate_doc_shingles(spark, sf_dir, candidates).localCheckpoint()
    return _jaccard_pairs(sh_cand, candidates, 0.8)


_SQL_CLUSTERS = rf"""
    WITH RECURSIVE pairs AS ({_SQL_JACCARD_PAIRS.format(thr=0.8)}),
    edges AS (
      SELECT d1 AS src, d2 AS dst FROM pairs
      UNION ALL
      SELECT d2, d1 FROM pairs
    ),
    reach(v, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.v
    )
    SELECT v AS doc_id,
           MIN(lab) AS cluster_id,
           (MIN(lab) = v) AS is_kept
    FROM reach GROUP BY v
"""


@gate("op_dedup_clusters", _SQL_CLUSTERS)
def op_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the LSH pair graph,
    keep-smallest-doc_id per cluster — the deliverable of a dedup pipeline
    (which rows to drop).

    Scale shape: the CC runs only over nodes that appear in some
    duplicate pair (the corpus-sized table never enters the iteration).
    The pair list is counted first — a COUNT-GATED dispatch, never an
    unbounded collect:

    - <= SMALL_GRAPH_EDGE_CAP edges (known-bounded): driver union-find +
      broadcast mapping join. One action, zero iterative rounds — the
      dup graph of a clean corpus is orders of magnitude smaller than
      the corpus, so this is the common case and saves O(log n) rounds
      of shuffle latency.
    - above the cap (web-scale boilerplate clusters can contribute
      billions of edges): min-label propagation with pointer doubling
      (apitap_spark.operators.graph.connected_components — O(log
      diameter) rounds, one (node, label) row per node per round),
      fully distributed; nothing unbounded ever reaches the driver.
    """
    # The pair list is the pinned minhash_lsh_pairs memo (already
    # checkpointed; shared with the LSH gate and keep_best) — no
    # per-gate persist/unpersist lifecycle.
    pairs_df = lsh_pairs_cached(spark, sf_dir)
    n_edges = pairs_df.count()
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    if n_edges <= SMALL_GRAPH_EDGE_CAP:
        mapping = _union_find_mapping(spark, pairs_df)
        if mapping is None:
            out = docs.select("doc_id", F.col("doc_id").alias("cluster_id"))
        else:
            out = docs.join(F.broadcast(mapping), "doc_id", "left").select(
                "doc_id",
                F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            )
        return out.withColumn("is_kept", (F.col("doc_id") == F.col("cluster_id")))
    edges = pairs_df.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
    nodes = (
        edges.select(F.col("src").alias("v"))
        .union(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    mapping = connected_components(nodes, edges).select(
        F.col("v").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    out = docs.join(mapping, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )
    return out.withColumn("is_kept", (F.col("doc_id") == F.col("cluster_id")))


# Driver union-find is only legal under this bound (checked by count()
# BEFORE any collect): 1M edges ≈ 16 MB of longs — trivially driver-safe,
# while the distributed CC path covers everything above it.
SMALL_GRAPH_EDGE_CAP = 1_000_000


def _union_find_mapping(spark: SparkSession, pairs_df: DataFrame):
    """Union-find over a count-bounded pair list; returns a
    (doc_id, cluster_id) mapping DataFrame or None for an empty graph.

    The mapping ships back as an inline VALUES LocalRelation (instant vs
    createDataFrame's RDD path) and broadcasts into the corpus join.
    """
    edges = [(r["d1"], r["d2"]) for r in pairs_df.collect()]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    cluster_of = {x: find(x) for x in parent}
    if not cluster_of:
        return None
    vals = ", ".join(f"({a}, {b})" for a, b in cluster_of.items())
    return spark.sql(
        "SELECT CAST(c1 AS BIGINT) AS doc_id, CAST(c2 AS BIGINT) AS cluster_id "
        f"FROM VALUES {vals} AS t(c1, c2)"
    )


SIMHASH_BITS = 64
SIMHASH_HASH_BITS = 60  # md5-derived hash bits (15 hex chars); bits 60-63 = 0
SIMHASH_CHUNKS = 8  # 8-bit chunks; hamming<=7 => >=1 identical chunk
SIMHASH_MAX_HAMMING = 7  # planted 0.95-jaccard pairs measure up to ~5

_SIMHASH_ORACLE = rf"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(TRIM(text), '\s+')) AS w
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) AS h FROM tok
    ),
    sums AS (
      SELECT doc_id,
             {", ".join(f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(SIMHASH_HASH_BITS))}
      FROM hashed GROUP BY doc_id
    ),
    sig AS (
      SELECT doc_id,
             {" | ".join(f"(CASE WHEN b{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE CAST(0 AS BIGINT) END)" for i in range(SIMHASH_HASH_BITS))}
               AS simhash
      FROM sums
    ),
    chunks AS (
      SELECT doc_id, simhash, c AS chunk_id,
             (simhash >> (CAST({SIMHASH_BITS // SIMHASH_CHUNKS} AS BIGINT) * c))
               & {(1 << (SIMHASH_BITS // SIMHASH_CHUNKS)) - 1} AS chunk
      FROM sig, unnest(range(0, {SIMHASH_CHUNKS})) AS u(c)
    )
    SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
           CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
    FROM chunks x JOIN chunks y
      ON x.chunk_id = y.chunk_id AND x.chunk = y.chunk AND x.doc_id < y.doc_id
    WHERE bit_count(xor(x.simhash, y.simhash)) <= {SIMHASH_MAX_HAMMING}
    """


@gate("op_dedup_simhash", _SIMHASH_ORACLE)
def op_dedup_simhash(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = SIMHASH_CHUNKS,
    max_hamming: int | None = None,
) -> DataFrame:
    """SimHash(64-bit) near-dup pairs with hamming distance <= max_hamming
    (default ``n_chunks - 1``, i.e. <= 7 for the 8x8-bit default).

    Signature: per doc, per bit i, sum +1/-1 over token OCCURRENCES whose
    xxhash64 has bit i set/unset (identical to count-weighting distinct
    tokens); bit i of the signature is the sign. Computed as 64
    partial-aggregated sums in ONE groupBy pass directly on the exploded
    tokens (map-side combine; shuffle = one 64-column row per doc — the
    per-(doc, word) pre-count shuffle would be pure overhead).

    Pairing: ``n_chunks`` equal-width chunk banding. Pigeonhole: hamming
    <= n_chunks-1 implies at least one identical chunk, so candidate
    generation is COMPLETE for that distance; candidates are verified
    with popcount(xor). Chunk width trades candidate volume against the
    hamming guarantee: a chunk of w bits has 2^w bucket values, so at
    billions of docs the 8-bit default (256 buckets/chunk) collides
    everything — use n_chunks=4 (16-bit chunks, 65536 buckets, d<=3
    guarantee) or fewer, wider chunks at corpus scale. The 8x8 default
    fits the dense testdata, whose planted pairs measure hamming up to
    ~5. Tests assert planted near-dups are found at BOTH band
    configurations.

    Token hash: first 60 bits of md5 (15 hex chars → BIGINT), identical
    in Spark and DuckDB, so the whole pipeline — bit sums, signature,
    chunk join, popcount — is oracle-checked cell-exactly (round-2
    verdict #5; previously rows-only under xxhash64). Signature bits
    60-63 are structurally 0 (every token votes -1 there), leaving the
    top chunk 4 effective bits: slightly more candidates in that chunk,
    same completeness guarantee, correctness unchanged. Swap xxhash64
    back in for cheapest hashing once engine-parity is not needed.
    """
    if SIMHASH_BITS % n_chunks:
        raise ValueError(f"n_chunks must divide {SIMHASH_BITS}")
    chunk_bits = SIMHASH_BITS // n_chunks
    if max_hamming is None:
        max_hamming = n_chunks - 1
    from apitap_spark.session import scan_parallel

    # scan_parallel (r11): the md5-per-occurrence explode + the 64
    # partial ±1 sums are the gate's dominant compute and ran on the
    # single-split scan's ONE task; integer sums are order-independent.
    docs = scan_parallel(read_table(spark, sf_dir, "documents"), spark)
    # per-occurrence ±1 sums == count-weighted sums over distinct words,
    # so the (doc_id, word) pre-aggregation shuffle is pure overhead —
    # ONE partial-aggregated groupBy(doc_id) pass does it all
    words = docs.select(
        "doc_id", F.explode(tokens("text")).alias("word")
    ).withColumn(
        "h", F.conv(F.substring(F.md5("word"), 1, 15), 16, 10).cast("long")
    )
    bit_sums = words.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(SIMHASH_HASH_BITS)
        ]
    )
    bit_terms = [
        F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(SIMHASH_HASH_BITS)
    ]
    # eager checkpoint: the chunk self-join references the signature from
    # both sides — without it the 64-aggregate pass runs twice (same
    # exchange-kind mismatch as op_dedup_minhash_lsh). One row per doc.
    sig = bit_sums.select(
        "doc_id", reduce(lambda a, b: a.bitwiseOR(b), bit_terms).alias("simhash")
    ).localCheckpoint()
    chunks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright("simhash", chunk_bits * c)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("chunk"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "simhash", F.col("ch.chunk_id"), F.col("ch.chunk"))
    # NOTE (r11 A/B): an explicit repartition(n_par, chunk_id, chunk) of
    # the fan-out's stream side (the wedge-builder fix's sibling) was
    # measured NEUTRAL here over alternating same-session runs
    # ([7.6, 5.1, 4.9, 3.8] vs [7.5, 4.8, 4.0, 3.9] s, identical 36,270
    # rows): the 6.1M-raw-pair candidate fan-out is already wide enough
    # post-broadcast. Left at the minimal plan.
    x = chunks.alias("x")
    y = chunks.alias("y")
    return (
        x.join(
            y,
            (F.col("x.chunk_id") == F.col("y.chunk_id"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("d1"),
            F.col("y.doc_id").alias("d2"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).cast("bigint").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


PASSAGE_WINDOW = 8  # tokens per passage window (real runs use 50; the
# synthetic 40-word vocabulary needs a shorter window to exercise overlap)


@gate(
    "op_dedup_passages",
    rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
    ),
    wins AS (
      SELECT doc_id,
             unnest(list_transform(range(1, GREATEST(len(t) - {PASSAGE_WINDOW - 1}, 0) + 1),
                    i -> md5(array_to_string(t[i:i+{PASSAGE_WINDOW - 1}], ' ')))) AS wh
      FROM toks
    ),
    df AS (
      SELECT wh, COUNT(DISTINCT doc_id) AS ndocs FROM wins GROUP BY wh
    )
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN d.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_windows,
           CAST(SUM(CASE WHEN d.ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS shared_fraction
    FROM wins w JOIN df d ON w.wh = d.wh
    GROUP BY w.doc_id
    """,
)
def op_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-passage detection (substring-level dedup signal): the
    fraction of each document's 8-token sliding windows that also occur
    in ANOTHER document — the per-doc filter statistic of
    suffix-array-style substring dedup, computed with hashes instead of
    suffix arrays.

    Shuffle profile: one explode (no shuffle), ONE exchange on the
    window hash, one groupBy on doc_id. "Window occurs in another doc"
    is min(doc_id) != max(doc_id) over the hash partition — a window
    aggregate instead of the groupBy-df + join-back formulation, which
    re-executed the explode/md5 for the join side and paid a second
    wh exchange (measured 1.5x slower at sf0.1). All counts integer-
    exact; the md5 window key reproduces byte-identically in the
    oracle. At corpus scale the wh exchange is the same shape as exact
    dedup — linear — where a true suffix array would need a global sort.
    """
    docs = read_table(spark, sf_dir, "documents")
    wins = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                shingle_grams("text", PASSAGE_WINDOW), lambda s: F.md5(s)
            )
        ).alias("wh"),
    )
    w = Window.partitionBy("wh")
    flagged = wins.select(
        "doc_id",
        (F.min("doc_id").over(w) != F.max("doc_id").over(w)).alias("is_shared"),
    )
    shared = F.sum(F.when(F.col("is_shared"), 1).otherwise(0))
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_windows"),
        shared.cast("bigint").alias("n_shared_windows"),
        (shared.cast("double") / F.count("*")).alias("shared_fraction"),
    )


CONTAINMENT_THRESHOLD = 0.6


@gate(
    "op_dedup_containment",
    rf"""
    WITH sh0 AS ({_SQL_SHINGLES}),
    keep AS (
      SELECT shingle FROM sh0 GROUP BY shingle
      HAVING COUNT(*) <= GREATEST(2, CAST(FLOOR({DF_CAP_FRACTION} *
               (SELECT COUNT(*) FROM documents)) AS BIGINT))
    ),
    sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT d1 AS contained_doc, d2 AS container_doc,
           ROUND(CAST(i AS DOUBLE) / s1.n, 6) AS containment
    FROM inter
    JOIN sizes s1 ON s1.doc_id = d1
    WHERE CAST(i AS DOUBLE) / s1.n >= {CONTAINMENT_THRESHOLD}
    """,
)
def op_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: |A∩B| / |A| >= 0.6 — the ASYMMETRIC
    companion to Jaccard, catching a short document quoted or embedded
    inside a longer one (Jaccard punishes the size mismatch; containment
    doesn't). Quote/boilerplate-inclusion detection for corpus audits.

    Same df-capped shingle join shape as the exact Jaccard rung — and
    the same caveat: this is the exact/oracle rung; at corpus scale
    candidates come from the MinHash buckets first (a containment-LSH
    would band over the contained side's signature only).
    """
    sh = _df_capped_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("i"))
    )
    cont = F.col("i").cast("double") / F.col("n")
    return (
        inter.join(sizes, F.col("doc_id") == F.col("d1"))
        .filter(cont >= CONTAINMENT_THRESHOLD)
        .select(
            F.col("d1").alias("contained_doc"),
            F.col("d2").alias("container_doc"),
            F.round(cont, 6).alias("containment"),
        )
    )


AUDIT_JACCARD_THR = 0.2


def _minhash_audit_oracle() -> str:
    # ONE md5 per shingle, 128 Kirsch-Mitzenmacher affine permutations
    # h_j = a + j*b (a = 52 bits from md5[1:13], b = md5[17:13] forced
    # odd): j*b <= 2^7 * 2^52 = 2^59, so every value stays inside int64
    # with no modulo — exact in both engines. Measured 11.2s -> ~4s at
    # sf0.1 vs the 128-md5-calls-per-row form.
    a = "CAST('0x' || substr(md5(shingle), 1, 13) AS BIGINT)"
    b = "(CAST('0x' || substr(md5(shingle), 17, 13) AS BIGINT) | 1)"
    sig_cols = ",\n             ".join(
        f"MIN({a} + {j} * {b}) AS h{j}" for j in range(N_HASHES)
    )
    # a flat list_sum, not a 128-term "+" chain: DuckDB's binder
    # recurses per binary Add and caps at depth 128
    match_sum = (
        "list_sum(["
        + ", ".join(
            f"CASE WHEN s1.h{j} = s2.h{j} THEN 1 ELSE 0 END"
            for j in range(N_HASHES)
        )
        + "])"
    )
    return rf"""
    WITH sh0 AS ({_SQL_SHINGLES}),
    keep AS (
      SELECT shingle FROM sh0 GROUP BY shingle
      HAVING COUNT(*) <= GREATEST(2, CAST(FLOOR({DF_CAP_FRACTION} *
               (SELECT COUNT(*) FROM documents)) AS BIGINT))
    ),
    sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT d1, d2, ROUND(CAST(i AS DOUBLE) / (s1.n + s2.n - i), 6) AS jaccard
      FROM inter
      JOIN sizes s1 ON s1.doc_id = d1
      JOIN sizes s2 ON s2.doc_id = d2
      WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= {AUDIT_JACCARD_THR}
    ),
    cand AS (
      SELECT DISTINCT d FROM (
        SELECT d1 AS d FROM pairs UNION ALL SELECT d2 FROM pairs
      )
    ),
    sig AS (
      SELECT sh.doc_id,
             {sig_cols}
      FROM sh JOIN cand ON cand.d = sh.doc_id
      GROUP BY sh.doc_id
    )
    SELECT p.d1, p.d2, p.jaccard,
           CAST({match_sum} AS BIGINT) AS est_matches,
           CAST({match_sum} AS DOUBLE) / {N_HASHES}.0 AS est_jaccard,
           ROUND(ABS(CAST({match_sum} AS DOUBLE) / {N_HASHES}.0 - p.jaccard), 6)
             AS abs_err
    FROM pairs p
    JOIN sig s1 ON s1.doc_id = p.d1
    JOIN sig s2 ON s2.doc_id = p.d2
    """


@gate("op_minhash_estimate_audit", _minhash_audit_oracle())
def op_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator calibration audit for the MinHash family: for every
    near-dup pair (exact df-capped Jaccard >= AUDIT_JACCARD_THR),
    re-estimate Jaccard from {N_HASHES} md5-derived minhash agreements
    (one md5 per shingle, Kirsch-Mitzenmacher affine permutations)
    and report the absolute error — the check that validates the
    (N_HASHES, N_BANDS) LSH parameters actually deliver the
    concentration the Broder bound promises (E[matches]/n = J, stderr
    ~ sqrt(J(1-J)/n) ~ 0.04 at n=128) before trusting them corpus-wide.

    The md5-derived 60-bit permutations replay exactly in DuckDB
    (unlike the production path's xxhash64, which has no DuckDB twin) —
    so this gate ALSO pins the signature math itself cross-engine, the
    strongest check the minhash rung has.

    Scale: the pair list is the (already df-capped) near-dup set —
    tiny; signatures are built ONLY for candidate docs (semi-join; no
    forced broadcast — the candidate list is corpus-proportional, so
    AQE decides), so the hashing never touches the full corpus. Cost is
    dominated by the exact-Jaccard ground-truth side (the df-capped
    shingle self-join) — inherent to any calibration audit; production
    amortizes it over a rotating pair sample.
    """
    # The pair list is the pinned exact_pairs_02 memo (AUDIT_JACCARD_THR
    # == the ngram gate's 0.2 floor): it feeds cand's two union branches
    # AND the final comparison join, and is shared across the whole
    # dedup family instead of re-running the dominant shingle self-join
    # per gate (round-5 sweep measured 12.3s -> 6.9s from checkpointing
    # alone; the memo removes the remaining per-gate rebuild).  sh_all
    # persists inside _df_capped_shingles for the signature build below.
    sh_all = _df_capped_shingles(spark, sf_dir)
    pairs = exact_pairs_cached(spark, sf_dir)
    cand = (
        pairs.select(F.col("d1").alias("doc_id"))
        .union(pairs.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    csh = sh_all.join(cand, "doc_id")
    md5c = F.md5("shingle")
    a = F.conv(F.substring(md5c, 1, 13), 16, 10).cast("long")
    b = F.conv(F.substring(md5c, 17, 13), 16, 10).cast("long").bitwiseOR(
        F.lit(1)
    )
    csh = csh.select(
        "doc_id", a.alias("ha"), b.alias("hb")
    )
    # The signature is ONE array<bigint> column, not 128 h{j} columns:
    # the first cut's 128 separate min-aggregates spent more time in
    # Python expression construction + Catalyst analysis than in
    # execution (measured 1.65s plan-build + 1.9s run at sf0.1; the
    # array form is a constant-size expression tree — 3.5s -> 1.7s
    # for the whole gate, byte-identical output, and the plan cost no
    # longer scales with N_HASHES). Shape: explode the permutation
    # index (|csh| x 128 skinny rows), min per (doc, j), then fold back
    # to a j-ordered array via the sorted-struct idiom.
    perm = csh.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {N_HASHES - 1}),"
                " j -> struct(j AS j, ha + j * hb AS v))"
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.j").alias("j"), F.col("e.v").alias("v"))
    sig = (
        perm.groupBy("doc_id", "j")
        .agg(F.min("v").alias("m"))
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(j, m))),"
                " s -> s.m)"
            ).alias("sig")
        )
        .localCheckpoint()
    )
    # ^ candidate-doc cardinality (tiny); consumed by BOTH join sides —
    # without the checkpoint the signature build + shingle semi-join
    # runs twice (A/B: consistent ~5% gate win, round-9 sweep).
    s1 = sig.select(F.col("doc_id").alias("d1"), F.col("sig").alias("sig1"))
    s2 = sig.select(F.col("doc_id").alias("d2"), F.col("sig").alias("sig2"))
    matches = F.expr(
        "aggregate(zip_with(sig1, sig2,"
        " (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
        " 0L, (acc, x) -> acc + x)"
    )
    est = matches.cast("double") / F.lit(float(N_HASHES))
    return (
        pairs.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "d1",
            "d2",
            "jaccard",
            matches.cast("bigint").alias("est_matches"),
            est.alias("est_jaccard"),
            F.round(F.abs(est - F.col("jaccard")), 6).alias("abs_err"),
        )
    )


EDIT_HEAD_TOKENS = 16  # head-fingerprint blocking key width


@gate(
    "op_dedup_edit_distance",
    rf"""
    WITH keyed AS (
      SELECT doc_id, text,
             md5(array_to_string(
               string_split_regex(TRIM(text), '\s+')[1:{EDIT_HEAD_TOKENS}],
               ' ')) AS head_hash
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_distance,
           1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
                 / CAST(GREATEST(LENGTH(a.text), LENGTH(b.text)) AS DOUBLE)
             AS edit_similarity
    FROM keyed a JOIN keyed b
      ON a.head_hash = b.head_hash AND a.doc_id < b.doc_id
    """,
)
def op_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification rung: exact Levenshtein distance (and
    the 1 - dist/max_len normalized similarity) for every candidate
    pair sharing a 16-token head fingerprint — the character-level
    near-dup verifier that catches what set-based Jaccard blurs
    (small in-place edits, number/date substitutions) and the natural
    last rung after MinHash/simhash candidate generation.

    Levenshtein is O(len^2) per pair, which is exactly why it only ever
    runs on BLOCKED candidates: the head-fingerprint equi-join bounds
    pair counts by group size (at corpus scale the blocking key is the
    LSH band bucket and the same shape holds). The distance is an
    integer both engines compute identically (verified: Spark
    ``levenshtein`` == DuckDB ``levenshtein`` including empty-string
    edges); the similarity divides once.
    """
    from apitap_spark.functions.text import tokens

    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    keyed = docs.select(
        "doc_id",
        "text",
        F.md5(
            F.array_join(F.slice(tokens("text"), 1, EDIT_HEAD_TOKENS), " ")
        ).alias("head_hash"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    dist = F.levenshtein(F.col("a.text"), F.col("b.text"))
    max_len = F.greatest(
        F.length(F.col("a.text")), F.length(F.col("b.text"))
    )
    return a.join(
        b,
        (F.col("a.head_hash") == F.col("b.head_hash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("d1"),
        F.col("b.doc_id").alias("d2"),
        dist.cast("bigint").alias("edit_distance"),
        (
            F.lit(1.0) - dist.cast("double") / max_len.cast("double")
        ).alias("edit_similarity"),
    )


def _keep_best_oracle() -> str:
    import apitap_spark.operators.textstats  # noqa: F401  (registers the score oracle)

    return f"""
    WITH RECURSIVE pairs AS ({_SQL_JACCARD_PAIRS.format(thr=0.8)}),
    edges AS (
      SELECT d1 AS src, d2 AS dst FROM pairs
      UNION ALL
      SELECT d2, d1 FROM pairs
    ),
    reach(v, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.v
    ),
    clusters AS (
      SELECT v AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY v
    ),
    scored AS ({registry.ORACLES["op_text_quality_score"]})
    SELECT c.doc_id, c.cluster_id,
           s.quality_score,
           (ROW_NUMBER() OVER (PARTITION BY c.cluster_id
              ORDER BY s.quality_score DESC, c.doc_id) = 1) AS is_kept
    FROM clusters c JOIN scored s ON s.doc_id = c.doc_id
    """


@gate("op_dedup_keep_best", _keep_best_oracle())
def op_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup canonicalization: within each near-dup
    cluster keep the HIGHEST-quality member (score DESC, doc_id
    tiebreak) instead of the arbitrary min-id — the curation decision
    real pipelines make (of five mirrors of an article, keep the
    cleanest copy, not the numerically smallest URL hash). Composes
    the LSH cluster components with the C4-style quality score; both
    oracles are the registered ones, CTE-composed.

    Blank docs (score undefined) are outside the scored universe and
    drop from the output — by definition never the kept copy.

    Scale: clustering cost is the dedup pipeline's (count-gated CC on
    the pair graph); the keep decision is one window over CLUSTER
    members ordered by score — cluster-sized partitions, corpus-size
    independent.
    """
    from apitap_spark.operators.textstats import op_text_quality_score

    clusters = op_dedup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    scored = op_text_quality_score(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    joined = clusters.join(scored, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return joined.select(
        "doc_id",
        "cluster_id",
        "quality_score",
        (F.row_number().over(w) == 1).alias("is_kept"),
    )


# --- L99: Bloom-filter membership dedup ------------------------------------

BLOOM_M = 65536  # filter bits
BLOOM_K = 4  # hash functions


def _bloom_pos(j: int):
    """Bit position j for the normalized-text key: first 60 bits of
    md5('<j>|' || key), mod BLOOM_M. Identical arithmetic in the DuckDB
    oracle (CAST('0x'||substr(md5(..),1,15) AS BIGINT) % m)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{j}|"), F.col("key"))), 1, 15), 16, 10
        ).cast("long")
        % BLOOM_M
    )


_BLOOM_ORACLE = f"""
    WITH keyed AS (
      SELECT doc_id, source,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS key
      FROM documents
    ),
    hj AS (SELECT * FROM (VALUES (0),(1),(2),(3)) AS t(j)),
    refpos AS (
      SELECT DISTINCT
             CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || key), 1, 15)
                  AS BIGINT) % {BLOOM_M} AS pos
      FROM keyed CROSS JOIN hj WHERE doc_id % 2 = 0
    ),
    probe AS (SELECT doc_id, source, key FROM keyed WHERE doc_id % 2 = 1),
    probepos AS (
      SELECT p.doc_id, p.source, p.key,
             CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || key), 1, 15)
                  AS BIGINT) % {BLOOM_M} AS pos
      FROM probe p CROSS JOIN hj
    ),
    phits AS (
      SELECT pp.doc_id, pp.source, pp.key,
             CAST(SUM(CASE WHEN rp.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS hit_cnt
      FROM probepos pp LEFT JOIN refpos rp ON rp.pos = pp.pos
      GROUP BY pp.doc_id, pp.source, pp.key
    ),
    refkeys AS (SELECT DISTINCT key FROM keyed WHERE doc_id % 2 = 0),
    flagged AS (
      SELECT h.doc_id, h.source,
             (h.hit_cnt = {BLOOM_K}) AS bloom_hit,
             (rk.key IS NOT NULL) AS exact_hit
      FROM phits h LEFT JOIN refkeys rk ON rk.key = h.key
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_probed,
           CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS bloom_hits,
           CAST(SUM(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS exact_hits,
           CAST(SUM(CASE WHEN bloom_hit AND NOT exact_hit THEN 1 ELSE 0 END)
                AS BIGINT) AS false_positives,
           ROUND(CAST(SUM(CASE WHEN bloom_hit AND NOT exact_hit THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS fp_rate
    FROM flagged
    GROUP BY source
"""


@gate("op_dedup_bloom_filter", _BLOOM_ORACLE)
def op_dedup_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership dedup audit: build a 65536-bit / k=4
    filter over the reference half of the corpus (even doc_ids, keyed on
    whitespace-normalized text) and probe the other half against it,
    reporting per-source probe counts, Bloom hits, exact hits, and false
    positives (a Bloom filter has NO false negatives — exact_hits is
    always <= bloom_hits, which this gate proves corpus-wide).

    This is the 100 TB "dedup against a reference corpus" primitive: the
    filter is a FIXED-size set of bit positions (<= m = 65536 rows after
    distinct) regardless of corpus size, broadcast to every executor, so
    the probe side is a map-side broadcast-hash-join — the trillion-token
    reference never re-shuffles per batch. The exact-membership leg here
    is audit-only instrumentation (it quantifies the filter's FP rate);
    a production probe pass runs without it.

    Beyond-reference operator; the reference has no dedup surface at all
    (its pipeline is fetch -> SQL -> sink, src/pipeline/runner.rs).
    """
    docs = read_table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", "source", normalize_ws("text").alias("key"))
    pos_arr = F.array(*[_bloom_pos(j) for j in range(BLOOM_K)])
    ref = keyed.filter(F.col("doc_id") % 2 == 0)
    probe = keyed.filter(F.col("doc_id") % 2 == 1)

    # The filter: distinct set bit positions — bounded by m, broadcast.
    filter_pos = (
        ref.select(F.explode(pos_arr).alias("pos"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probe_pos = probe.select(
        "doc_id", "source", "key", F.explode(pos_arr).alias("pos")
    )
    phits = (
        probe_pos.join(F.broadcast(filter_pos), "pos", "left")
        .groupBy("doc_id", "source", "key")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("hit_cnt"))
    )
    refkeys = ref.select("key").distinct().withColumn("ex", F.lit(1))
    flagged = phits.join(refkeys, "key", "left").select(
        "source",
        (F.col("hit_cnt") == BLOOM_K).alias("bloom_hit"),
        F.col("ex").isNotNull().alias("exact_hit"),
    )
    fp = F.sum((F.col("bloom_hit") & ~F.col("exact_hit")).cast("int"))
    return flagged.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_probed"),
        F.sum(F.col("bloom_hit").cast("int")).cast("bigint").alias("bloom_hits"),
        F.sum(F.col("exact_hit").cast("int")).cast("bigint").alias("exact_hits"),
        fp.cast("bigint").alias("false_positives"),
        F.round(fp.cast("double") / F.count("*"), 6).alias("fp_rate"),
    )


# --- L113: LSH parameter tuning curve (S-curve over observed pairs) ---------

# Alternative (bands, rows/band) splits of the same 128-perm signature
# budget as op_dedup_minhash_lsh's 32x4.
LSH_TUNE_CONFIGS = [(64, 2), (32, 4), (16, 8), (8, 16)]


def _lsh_tuning_oracle() -> str:
    jac = registry.ORACLES["op_dedup_ngram_jaccard"]
    cfg_rows = ", ".join(f"({b}, {r})" for b, r in LSH_TUNE_CONFIGS)
    return f"""
    WITH pairs AS (SELECT * FROM ({jac}) t),
    cfg AS (SELECT * FROM (VALUES {cfg_rows}) c(bands, rpb)),
    p0 AS (SELECT bands, rpb, jaccard AS s FROM pairs CROSS JOIN cfg),
    p1 AS (SELECT *, s * s AS x2 FROM p0),
    p2 AS (SELECT *, x2 * x2 AS x4 FROM p1),
    p3 AS (SELECT *, x4 * x4 AS x8 FROM p2),
    p4 AS (SELECT *, x8 * x8 AS x16 FROM p3),
    p5 AS (SELECT *, 1.0 - (CASE rpb WHEN 2 THEN x2 WHEN 4 THEN x4
                            WHEN 8 THEN x8 ELSE x16 END) AS t FROM p4),
    p6 AS (SELECT *, t * t AS t2 FROM p5),
    p7 AS (SELECT *, t2 * t2 AS t4 FROM p6),
    p8 AS (SELECT *, t4 * t4 AS t8 FROM p7),
    p9 AS (SELECT *, t8 * t8 AS t16 FROM p8),
    p10 AS (SELECT *, t16 * t16 AS t32 FROM p9),
    p11 AS (SELECT *, t32 * t32 AS t64 FROM p10),
    p12 AS (SELECT bands, rpb,
                   1.0 - (CASE bands WHEN 8 THEN t8 WHEN 16 THEN t16
                          WHEN 32 THEN t32 ELSE t64 END) AS p
            FROM p11)
    SELECT CAST(bands AS BIGINT) AS bands,
           CAST(rpb AS BIGINT) AS rows_per_band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CAST(ROUND(p * 1000000.0, 0) AS BIGINT)) AS BIGINT)
             AS sum_catch_micro,
           CAST(SUM(CAST(ROUND(p * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / CAST(COUNT(*) AS DOUBLE) AS mean_catch_prob
    FROM p12 GROUP BY bands, rpb
    """


@gate("op_lsh_tuning_curve", _lsh_tuning_oracle())
def op_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH parameter tuning: evaluate the S-curve catch probability
    ``1 - (1 - s^r)^b`` of every alternative (bands x rows) split of the
    128-perm signature budget AT THE CORPUS'S OWN observed near-dup
    pair similarities (the exact-Jaccard rung's pairs), reporting the
    expected fraction of true pairs each config would catch. This is
    the design table behind op_dedup_minhash_lsh's 32x4 choice — more
    bands catch lower-similarity pairs at higher candidate cost, and
    the right trade-off depends on the corpus's similarity histogram,
    which is exactly what this gate folds in.

    Determinism without pow(): s^r and (1-s^r)^b are expanded as
    repeated exact IEEE squarings (x2=x*x, x4=x2*x2, ...; per-config
    CASE selects the power) — bit-identical across engines where
    libm pow() is not; per-pair probabilities are micro-rounded ONCE
    to integers and summed in bigint (order-independent), divided at
    the end in a fixed IEEE chain.

    Scale: pair count is the dedup rung's output (bounded by true
    near-dups, not the corpus); the config grid is a 4-row broadcast
    crossJoin; one map-side-combined aggregate per config.
    """
    pairs = op_dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("jaccard").alias("s")
    )
    cfg = F.broadcast(
        spark.createDataFrame(LSH_TUNE_CONFIGS, "bands bigint, rpb bigint")
    )
    d = pairs.crossJoin(cfg)
    d = d.withColumn("x2", F.col("s") * F.col("s"))
    d = d.withColumn("x4", F.col("x2") * F.col("x2"))
    d = d.withColumn("x8", F.col("x4") * F.col("x4"))
    d = d.withColumn("x16", F.col("x8") * F.col("x8"))
    sr = (
        F.when(F.col("rpb") == 2, F.col("x2"))
        .when(F.col("rpb") == 4, F.col("x4"))
        .when(F.col("rpb") == 8, F.col("x8"))
        .otherwise(F.col("x16"))
    )
    d = d.withColumn("t", F.lit(1.0) - sr)
    d = d.withColumn("t2", F.col("t") * F.col("t"))
    d = d.withColumn("t4", F.col("t2") * F.col("t2"))
    d = d.withColumn("t8", F.col("t4") * F.col("t4"))
    d = d.withColumn("t16", F.col("t8") * F.col("t8"))
    d = d.withColumn("t32", F.col("t16") * F.col("t16"))
    d = d.withColumn("t64", F.col("t32") * F.col("t32"))
    tb = (
        F.when(F.col("bands") == 8, F.col("t8"))
        .when(F.col("bands") == 16, F.col("t16"))
        .when(F.col("bands") == 32, F.col("t32"))
        .otherwise(F.col("t64"))
    )
    d = d.withColumn(
        "p_micro",
        F.round((F.lit(1.0) - tb) * F.lit(1000000.0), 0).cast("long"),
    )
    n = F.count("*").cast("bigint")
    sm = F.sum("p_micro").cast("bigint")
    return d.groupBy("bands", F.col("rpb").alias("rows_per_band")).agg(
        n.alias("n_pairs"),
        sm.alias("sum_catch_micro"),
        (
            sm.cast("double") / F.lit(1000000.0) / n.cast("double")
        ).alias("mean_catch_prob"),
    )


# --- L118: content-defined chunking (storage-dedup primitive) ---------------

CDC_K = 8  # rolling window (chars)
CDC_DIV = 32  # boundary iff window-hash % DIV == 0 (expected chunk ~DIV chars)

_CDC_ORACLE = rf"""
    WITH d AS (
      SELECT doc_id, source, text, LENGTH(text) AS n
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    b AS (
      SELECT doc_id, source, text, n,
             list_sort(list_filter(list_transform(range({CDC_K}, n),
               p -> CASE WHEN CAST('0x' || substr(md5(substr(text,
                              CAST(p AS BIGINT) - {CDC_K - 1}, {CDC_K})), 1, 15)
                              AS BIGINT) % {CDC_DIV} = 0
                    THEN p ELSE NULL END), x -> x IS NOT NULL)) AS bpos
      FROM d
    ),
    st AS (
      SELECT doc_id, source, text, n,
             list_prepend(CAST(0 AS BIGINT), bpos) AS starts,
             list_append(bpos, CAST(n AS BIGINT)) AS ends
      FROM b
    ),
    chunks AS (
      SELECT doc_id, source,
             md5(substr(text, CAST(starts[i] + 1 AS BIGINT),
                        CAST(ends[i] - starts[i] AS BIGINT))) AS ch,
             ends[i] - starts[i] AS clen
      FROM st, unnest(range(1, len(starts) + 1)) AS u(i)
    ),
    freq AS (SELECT ch, COUNT(*) AS f FROM chunks GROUP BY ch)
    SELECT c.source,
           CAST(COUNT(DISTINCT c.doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(c.clen) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN f.f > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_chunk_instances,
           ROUND(CAST(SUM(CASE WHEN f.f > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_ratio,
           CAST(SUM(c.clen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS mean_chunk_len
    FROM chunks c JOIN freq f ON f.ch = c.ch
    GROUP BY c.source
"""


def cdc_chunks_frame(docs: DataFrame, fast: bool = False) -> DataFrame:
    """(doc_id, source, ch, clen) chunk instances under content-defined
    boundaries: cut where hash(trailing CDC_K chars) % CDC_DIV == 0.

    Two hash rungs, same chunking semantics:

    * ``fast=False`` (oracle rung): md5 + hex + conv per window —
      bit-parity with the DuckDB oracle, constant-heavy (~64 md5 rounds
      plus hex decode per character position).
    * ``fast=True`` (production rung): ``xxhash64`` per window — one
      JVM intrinsic returning a long, no hex round-trip; measured ~2x
      end-to-end at sf0.1 and the gap grows with doc length since the
      per-position constant dominates. Boundary POSITIONS differ from
      the md5 rung (different hash), but every CDC invariant holds:
      chunks tile the document, and an insertion re-aligns at the next
      content-defined boundary instead of shifting all later chunks
      (pytest proves both properties on the fast rung).

    Both rungs are pure per-doc Catalyst array expressions — O(len) per
    document, no Python, no shuffle; at 100 TB the scan parallelizes by
    document and only the downstream chunk-hash groupBy shuffles.
    """
    docs = docs.filter(F.length(F.trim("text")) > 0)
    n = F.length("text")

    if fast:
        def whash(p):
            return F.xxhash64(
                F.substring("text", p - (CDC_K - 1), F.lit(CDC_K))
            )
    else:
        def whash(p):
            return F.conv(
                F.substring(
                    F.md5(
                        F.substring("text", p - (CDC_K - 1), F.lit(CDC_K))
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")

    bpos = F.sort_array(
        F.filter(
            F.transform(
                F.sequence(F.lit(CDC_K), n - 1),
                lambda p: F.when(
                    # pmod, not %: xxhash64 is signed and Spark % keeps
                    # the dividend's sign, which would skip boundaries
                    F.pmod(whash(p), F.lit(CDC_DIV)) == 0,
                    p.cast("long"),
                ),
            ),
            lambda x: x.isNotNull(),
        )
    )
    st = docs.select(
        "doc_id",
        "source",
        "text",
        n.cast("long").alias("n"),
        F.concat(F.array(F.lit(0).cast("long")), bpos).alias("starts"),
        F.concat(bpos, F.array(n.cast("long"))).alias("ends"),
    )
    return st.select(
        "doc_id",
        "source",
        F.explode(
            F.zip_with(
                "starts",
                "ends",
                lambda s, e: F.struct(
                    F.md5(
                        F.substring(
                            "text", (s + 1).cast("int"), (e - s).cast("int")
                        )
                    ).alias("ch"),
                    (e - s).alias("clen"),
                ),
            )
        ).alias("c"),
    ).select(
        "doc_id", "source", F.col("c.ch").alias("ch"), F.col("c.clen").alias("clen")
    )


def cdc_dedup_report(chunks: DataFrame) -> DataFrame:
    """Per-source chunk-dedup report over a cdc_chunks_frame output."""
    freq = chunks.groupBy("ch").agg(F.count("*").alias("f"))
    joined = chunks.join(freq, "ch")
    dup = F.sum((F.col("f") > 1).cast("int"))
    cnt = F.count("*")
    return joined.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        cnt.cast("bigint").alias("n_chunks"),
        F.sum("clen").cast("bigint").alias("total_chars"),
        dup.cast("bigint").alias("dup_chunk_instances"),
        F.round(dup.cast("double") / cnt, 6).alias("dup_ratio"),
        (F.sum("clen").cast("double") / cnt.cast("double")).alias(
            "mean_chunk_len"
        ),
    )


@gate("op_cdc_chunking", _CDC_ORACLE)
def op_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the Rabin/FastCDC family, re-derived
    from the published scheme): cut each document where the rolling
    window hash of the trailing K chars is ≡ 0 mod DIV, then dedup at
    CHUNK granularity across the corpus — the storage/transfer dedup
    primitive (backup stores, artifact caches, WARC dedup) that
    fixed-window passage chunking cannot provide, because content-
    defined boundaries survive insertions: an edited document re-aligns
    at the next boundary instead of shifting every subsequent chunk.
    Per source: chunk instance counts, corpus-duplicated instances,
    dup ratio, and mean chunk length.

    The boundary scan is a pure per-doc array expression (O(len), no
    Python, no shuffle); the only shuffle is the chunk-hash frequency
    groupBy — the exact-dedup shape at chunk granularity. md5-derived
    window hashes keep both engines bit-identical.
    """
    from apitap_spark.session import scan_parallel

    # scan_parallel (r11): the md5-per-character boundary scan is the
    # dominant per-row compute and ran on the single-split scan's ONE
    # task; chunk hashes are per-doc, counts integer — order-safe.
    docs = scan_parallel(read_table(spark, sf_dir, "documents"), spark)
    # Eager checkpoint (round-10, guide §1.2 "don't compute things you
    # throw away"): cdc_dedup_report consumes the chunk frame TWICE
    # (freq groupBy build + join probe), and without the checkpoint each
    # consumer re-ran the md5-per-character boundary scan — the gate's
    # dominant cost. Materializing the chunk instances once halves the
    # scan work: measured 7.1-7.4s -> 3.7-3.9s at sf0.1 (bench cleanup
    # protocol, byte-identical output). The chunk frame is the
    # compressed-chunk metadata a storage-dedup pipeline materializes
    # anyway (~total_chars/CDC_DIV rows of hash+len).
    return cdc_dedup_report(
        cdc_chunks_frame(docs, fast=False).localCheckpoint()
    )


# --- L119: exact repeated-substring spans (Lee et al. 2021 style) -----------

SPAN_L = 40  # minimum duplicated substring length (chars)

_SPAN_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, source, text, LENGTH(text) AS n FROM documents
    ),
    grams AS (
      SELECT doc_id, source, CAST(p AS BIGINT) AS p,
             md5(substr(text, CAST(p AS BIGINT), {SPAN_L})) AS gk
      FROM d, unnest(range(1, n - {SPAN_L} + 2)) AS u(p)
      WHERE n >= {SPAN_L}
    ),
    dupk AS (
      SELECT gk FROM grams GROUP BY gk HAVING COUNT(DISTINCT doc_id) > 1
    ),
    cand AS (
      SELECT g.doc_id, g.source, g.p FROM grams g JOIN dupk USING (gk)
    ),
    isl AS (
      SELECT doc_id, source, p,
             SUM(CASE WHEN prev_p IS NULL OR p - prev_p > {SPAN_L}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY p
                     ROWS UNBOUNDED PRECEDING) AS island
      FROM (
        SELECT doc_id, source, p,
               LAG(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev_p
        FROM cand
      )
    ),
    spans AS (
      SELECT doc_id, source,
             MAX(p) - MIN(p) + {SPAN_L} AS covered
      FROM isl GROUP BY doc_id, source, island
    ),
    per_doc AS (
      SELECT doc_id, source, CAST(SUM(covered) AS BIGINT) AS dup_chars,
             CAST(COUNT(*) AS BIGINT) AS n_spans
      FROM spans GROUP BY doc_id, source
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(pd.doc_id) AS BIGINT) AS n_dup_docs,
           CAST(COALESCE(SUM(pd.n_spans), 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(SUM(pd.dup_chars), 0) AS BIGINT) AS dup_chars,
           CAST(SUM(d.n) AS BIGINT) AS total_chars,
           CAST(COALESCE(SUM(pd.dup_chars), 0) * 1000000 // SUM(d.n)
                AS BIGINT) AS dup_ratio_micro
    FROM d LEFT JOIN per_doc pd ON pd.doc_id = d.doc_id
    GROUP BY d.source
"""


@gate("op_dedup_substring_spans", _SPAN_ORACLE)
def op_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring audit in the style of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499): find every position whose SPAN_L-char substring
    recurs in ANOTHER document, merge overlapping positions into
    maximal duplicated spans (gaps-and-islands), and report per source
    how much of the text is cross-document boilerplate — the signal
    ExactSubstr dedup trims before training. Unlike document-level
    MinHash (op_dedup_minhash_lsh), this catches templated
    headers/footers inside otherwise-unique documents.

    Exactness: positions and span lengths are integers; the ratio is
    integer division — hash-stable by construction. The md5 gram key
    matches DuckDB bit-for-bit.

    Scale shape: the gram explode is linear in corpus chars (the
    suffix-array of the paper re-expressed as a shingle join); the only
    wide operation is the gram-key groupBy (map-side combined) and the
    candidate semi-join back — both keyed by gram hash, so they
    partition evenly; islands are per-doc windows over candidate
    positions (sparse — only duplicated positions flow into the
    window). At 100 TB, cap gram df like op_dedup_ngram_jaccard if a
    pathological gram floods a partition.
    """
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", F.length("text").cast("long").alias("n")
    ).localCheckpoint()  # feeds grams AND the per-source denominator
    grams = d.filter(F.col("n") >= SPAN_L).select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("n") - SPAN_L + 1))
        .alias("p"),
        "text",
    ).select(
        "doc_id",
        "source",
        "p",
        F.md5(F.expr(f"substr(text, p, {SPAN_L})")).alias("gk"),
    )
    dupk = (
        grams.groupBy("gk")
        .agg(F.countDistinct("doc_id").alias("dd"))
        .filter(F.col("dd") > 1)
        .select("gk")
    )
    cand = grams.join(dupk, "gk").select("doc_id", "source", "p")
    w = Window.partitionBy("doc_id").orderBy("p")
    isl = cand.withColumn("prev_p", F.lag("p").over(w)).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_p").isNull() | (F.col("p") - F.col("prev_p") > SPAN_L),
                1,
            ).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = isl.groupBy("doc_id", "source", "island").agg(
        (F.max("p") - F.min("p") + SPAN_L).alias("covered")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("covered").cast("bigint").alias("dup_chars"),
        F.count("*").cast("bigint").alias("n_spans"),
    )
    joined = d.select("doc_id", "source", "n").join(per_doc, "doc_id", "left")
    return joined.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.count("dup_chars").cast("bigint").alias("n_dup_docs"),
        F.coalesce(F.sum("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce(F.sum("dup_chars"), F.lit(0)).cast("bigint").alias("dup_chars"),
        F.sum("n").cast("bigint").alias("total_chars"),
        F.expr(
            "CAST(coalesce(sum(dup_chars), 0L) * 1000000L div sum(n) AS BIGINT)"
        ).alias("dup_ratio_micro"),
    )


# --- Bloom-filter prefilter audit (incremental-dedup sizing QA) -------------

BLOOM_BITS_PER_KEY = 8  # m = 8n + 1 — classic bits-per-key sizing
BLOOM_HASHES = 3

_BLOOM_HASH_SQL = (
    "CAST('0x' || substr(md5(s || '|' || j), 1, 15) AS BIGINT) % m"
)

_BLOOM_ORACLE = f"""
    WITH sh AS ({_SQL_SHINGLES}),
    build AS (SELECT DISTINCT shingle AS s FROM sh WHERE doc_id % 2 = 0),
    probe AS (SELECT DISTINCT shingle AS s FROM sh WHERE doc_id % 2 = 1),
    params AS (
      SELECT CAST({BLOOM_BITS_PER_KEY} * COUNT(*) + 1 AS BIGINT) AS m,
             CAST(COUNT(*) AS BIGINT) AS nb
      FROM build
    ),
    bits AS (
      SELECT DISTINCT {_BLOOM_HASH_SQL} AS pos
      FROM build, params, unnest([0, 1, 2]) AS u(j)
    ),
    ppos AS (
      SELECT s, j, {_BLOOM_HASH_SQL} AS pos
      FROM probe, params, unnest([0, 1, 2]) AS u(j)
    ),
    hit AS (
      SELECT ppos.s, COUNT(bits.pos) AS nhit
      FROM ppos LEFT JOIN bits USING (pos) GROUP BY ppos.s
    ),
    lab AS (
      SELECT h.s, h.nhit = {BLOOM_HASHES} AS positive,
             b.s IS NOT NULL AS member
      FROM hit h LEFT JOIN build b ON b.s = h.s
    )
    SELECT (SELECT nb FROM params) AS n_build_keys,
           (SELECT m FROM params) AS m_bits,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_set_bits,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_members,
           CAST(SUM(CASE WHEN positive THEN 1 ELSE 0 END) AS BIGINT)
             AS n_positive,
           CAST(SUM(CASE WHEN positive AND NOT member THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positive,
           CAST(SUM(CASE WHEN positive AND NOT member THEN 1 ELSE 0 END)
                * 1000000
                // NULLIF(SUM(CASE WHEN NOT member THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS fp_micro
    FROM lab
"""


@gate("op_dedup_bloom_prefilter", _BLOOM_ORACLE)
def op_dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter prefilter audit for incremental dedup: build an
    (m = 8n+1)-bit, 3-hash Bloom set over the even-id docs' distinct
    3-token shingles, probe every odd-id shingle, and report the
    measured false-positive rate against exact membership — the sizing
    check run before fronting an incremental-dedup merge with a Bloom
    prefilter (too small a filter silently degrades the prefilter into
    a pass-through; this measures, not estimates, the operating point).
    8 bits/key at 3 hashes predicts ~3% FP; the audit verifies the
    hash-family independence assumption on the REAL key distribution.

    Exactness: bit positions come from the cross-engine 60-bit md5
    hash (conv/substr trick) mod m, all counts are integer; bloom
    positivity is "all 3 positions present in the distinct set-bit
    table" — a relational restatement of the bitmap probe that both
    engines replay exactly. No false negatives by construction (a
    pytest invariant).

    Scale shape: two distinct-shingle shuffles (build/probe), the
    set-bit table is at most 3n rows keyed by position, the probe
    explodes x3 and hash-joins on position (AQE broadcasts it when
    small), membership is one shingle-keyed join, and the output is
    ONE row of counters. The filter itself never materializes as a
    driver-side bitmap — at 100 TB the "bitmap" stays a distributed
    position set.
    """
    from apitap_spark.session import scan_parallel

    # scan_parallel (r11): the shingle explode + 3x md5 position hashes
    # ran on the single-split scan's ONE task for BOTH the build and
    # probe checkpoints; distinct sets/int counters are order-safe.
    docs = scan_parallel(read_table(spark, sf_dir, "documents"), spark)
    sh = shingle_rows(docs)
    build = (
        sh.filter(F.col("doc_id") % 2 == 0)
        .select(F.col("shingle").alias("s"))
        .distinct()
        .localCheckpoint()  # feeds params, bits, and the membership join
    )
    probe = (
        sh.filter(F.col("doc_id") % 2 == 1)
        .select(F.col("shingle").alias("s"))
        .distinct()
        .localCheckpoint()  # feeds ppos and the final aggregate
    )
    params = build.agg(
        (F.count("*") * BLOOM_BITS_PER_KEY + 1).cast("bigint").alias("m"),
        F.count("*").cast("bigint").alias("nb"),
    )
    jcol = F.explode(
        F.array(*[F.lit(j) for j in range(BLOOM_HASHES)])
    ).alias("j")
    pos_expr = F.expr(
        "CAST(conv(substr(md5(concat(s, '|', j)), 1, 15), 16, 10) AS BIGINT)"
        " % m"
    )
    bits = (
        build.crossJoin(F.broadcast(params))
        .select("s", "m", jcol)
        .select(pos_expr.alias("pos"))
        .distinct()
        .localCheckpoint()  # probed once per hash row; also counted
    )
    ppos = (
        probe.crossJoin(F.broadcast(params))
        .select("s", "m", jcol)
        .select("s", pos_expr.alias("pos"))
    )
    hit = (
        ppos.join(bits.withColumn("_set", F.lit(1)), "pos", "left")
        .groupBy("s")
        .agg(F.count("_set").alias("nhit"))
    )
    lab = hit.join(
        build.withColumn("_mem", F.lit(1)), "s", "left"
    ).select(
        (F.col("nhit") == BLOOM_HASHES).alias("positive"),
        F.col("_mem").isNotNull().alias("member"),
    )
    n_bits = bits.count()
    fp = F.sum(
        (F.col("positive") & ~F.col("member")).cast("int")
    )
    nonmem = F.sum((~F.col("member")).cast("int"))
    return (
        lab.agg(
            F.count("*").cast("bigint").alias("n_probes"),
            F.sum(F.col("member").cast("int")).cast("bigint").alias("n_members"),
            F.sum(F.col("positive").cast("int")).cast("bigint").alias("n_positive"),
            fp.cast("bigint").alias("n_false_positive"),
            F.expr(
                "CAST(sum(CAST(positive AND NOT member AS INT)) * 1000000L"
                " div nullif(sum(CAST(NOT member AS INT)), 0) AS BIGINT)"
            ).alias("fp_micro"),
        )
        .crossJoin(F.broadcast(params))
        .select(
            F.col("nb").alias("n_build_keys"),
            F.col("m").alias("m_bits"),
            F.lit(n_bits).cast("bigint").alias("n_set_bits"),
            "n_probes",
            "n_members",
            "n_positive",
            "n_false_positive",
            "fp_micro",
        )
    )


# --- ONION-style per-document duplication share -----------------------------

ONION_N = 3  # word n-gram order


def _onion_oracle() -> str:
    return rf"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, GREATEST(LEN(t) - {ONION_N - 1}, 0) + 1),
               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS g
      FROM tok
    ),
    gdf AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM grams GROUP BY g)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN gdf.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_grams,
           CAST(SUM(CASE WHEN gdf.df >= 2 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS dup_micro
    FROM grams JOIN gdf USING (g) GROUP BY doc_id
    """


def _onion_gram_stream(docs: DataFrame) -> DataFrame:
    """Per-doc distinct word ONION_N-gram stream — the pre-checkpoint
    frame shared by the ONION and novelty gates; plan tests assert the
    single explode HERE because the gates' checkpoints truncate it out
    of their visible plans."""
    return docs.select(
        "doc_id", F.explode(shingles("text", ONION_N)).alias("g")
    )


@gate("op_dedup_onion_share", _onion_oracle())
def op_dedup_onion_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONION-style per-document duplication share (Pomikálek 2011): the
    fraction of each document's distinct word {ONION_N}-grams that also
    occur in OTHER documents (corpus frequency ≥ 2) — the
    boilerplate/duplication signal used to drop or down-weight
    documents whose content is mostly corpus-redundant, complementing
    the pairwise rungs (Jaccard/MinHash find WHO duplicates whom; this
    scores HOW duplicated each doc is without naming partners).

    A doc's distinct grams are counted once (list_distinct), so df ≥ 2
    means "appears in ≥ 2 documents". dup_micro divides non-negative
    integers — hash-exact.

    Scale shape: one explode → one map-side-combined gram-df groupBy →
    one broadcast-unfriendly but LINEAR gram-keyed join back (the gram
    table is corpus-sized; the join is shuffle-keyed by gram — the same
    single-shuffle shape as the inverted index) → one doc-keyed
    aggregate. No pairwise anything, no df cap needed (df only
    thresholds at 2; hot grams don't explode any join).
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    # Eager checkpoint (round-10, guide §1.2): the gram stream feeds the
    # df groupBy AND the join probe — without it the explode chain ran
    # twice (same fix as op_cdc_chunking; measured −35% warm there and
    # ~−40% on the novelty twin of this shape). Eager, not lazy: both
    # consumer stages launch in ONE job and would race-compute a lazy
    # checkpoint's partitions concurrently (the mid-suite bench caught a
    # 22s blowup under that race + storage pressure). Plan tests assert
    # the explode on _onion_gram_stream (checkpoint truncation).
    grams = _onion_gram_stream(docs).localCheckpoint()
    gdf = grams.groupBy("g").agg(F.count("*").cast("bigint").alias("df"))
    return (
        grams.join(gdf, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum((F.col("df") >= 2).cast("int")).cast("bigint").alias(
                "n_dup_grams"
            ),
            F.expr(
                "CAST(sum(CAST(df >= 2 AS INT)) * 1000000L div count(*)"
                " AS BIGINT)"
            ).alias("dup_micro"),
        )
    )


# --- Near-dup threshold sweep (dedup-aggressiveness tuning curve) --------

DEDUP_SWEEP_THRS = tuple(range(2, 10))  # 0.2 .. 0.9 in tenths


def _dedup_threshold_curve_oracle() -> str:
    pairs = registry.ORACLES["op_dedup_ngram_jaccard"]
    grid = ", ".join(f"({t})" for t in DEDUP_SWEEP_THRS)
    return f"""
    WITH pairs AS MATERIALIZED ({pairs}),
    grid(t) AS (SELECT * FROM (VALUES {grid}) g(t)),
    hits AS (
      SELECT g.t, p.d1, p.d2
      FROM grid g LEFT JOIN pairs p
        ON p.jaccard >= CAST(g.t AS DOUBLE) / 10.0
    )
    SELECT CAST(t AS BIGINT) * 100000 AS thr_micro,
           CAST(COUNT(d1) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT d1) AS BIGINT) AS n_left_docs
    FROM hits GROUP BY t ORDER BY t
    """


@gate("op_dedup_threshold_curve", _dedup_threshold_curve_oracle())
def op_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aggressiveness tuning curve: for each candidate Jaccard
    bar 0.2..0.9, the number of near-dup pairs and distinct left docs
    that bar would act on — the sweep a curation run reads before
    committing to a threshold (too low deletes paraphrases, too high
    keeps templates; the knee of this curve is the decision point).
    The quality-bar analogue of op_quality_retention_sweep, pointed at
    the dedup family.

    One pass: the df-capped exact-Jaccard pair list (the
    op_dedup_ngram_jaccard pipeline, thr 0.2 floor) is computed once
    and checkpointed; the 8-row threshold grid is the BROADCAST side
    of the non-equi join (the pair list is corpus-proportional at
    scale — broadcasting it would OOM at 100x), each bar's counts are
    one conditional aggregate over the fanned-out stream, and a final
    tiny grid left-join restores empty thresholds as 0-rows (count of
    no rows == count over null d1, same oracle hash). The pairs
    self-join never re-runs per threshold.

    Exactness: jaccard is the pairs gate's own ROUND(...,6) double
    compared against exact tenth literals evaluated identically in
    both engines; counts are int64.
    """
    pairs = exact_pairs_cached(spark, sf_dir)
    grid = spark.range(DEDUP_SWEEP_THRS[0], DEDUP_SWEEP_THRS[-1] + 1).select(
        F.col("id").cast("int").alias("t")
    )
    counts = (
        pairs.join(
            F.broadcast(grid),
            F.expr("jaccard >= CAST(t AS DOUBLE) / 10.0"),
        )
        .groupBy("t")
        .agg(
            F.count("d1").cast("bigint").alias("n_pairs"),
            F.countDistinct("d1").cast("bigint").alias("n_left_docs"),
        )
    )
    return grid.join(F.broadcast(counts), "t", "left").select(
        (F.col("t").cast("bigint") * 100000).alias("thr_micro"),
        F.coalesce("n_pairs", F.lit(0).cast("bigint")).alias("n_pairs"),
        F.coalesce("n_left_docs", F.lit(0).cast("bigint")).alias(
            "n_left_docs"
        ),
    )


# --- First-occurrence n-gram novelty (curriculum/ordering signal) --------


def _novelty_oracle() -> str:
    return rf"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, GREATEST(LEN(t) - {ONION_N - 1}, 0) + 1),
               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS g
      FROM tok
    ),
    firsts AS (
      SELECT g, CAST(MIN(doc_id) AS BIGINT) AS first_doc
      FROM grams GROUP BY g
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = grams.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = grams.doc_id
                         THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS novelty_micro
    FROM grams JOIN firsts f USING (g) GROUP BY doc_id
    """


@gate("op_text_ngram_novelty", _novelty_oracle())
def op_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence n-gram novelty per document: the share of each
    doc's distinct word {ONION_N}-grams whose FIRST corpus occurrence
    (minimum doc_id) is this document — the ordering-aware complement
    of op_dedup_onion_share (ONION scores how corpus-redundant a doc
    is regardless of position; novelty scores how much NEW text each
    doc contributes given everything registered before it).  The
    resulting curve is the curriculum/dataset-ordering signal: a
    stream whose novelty collapses early is exhausted; sources can be
    reordered or truncated where their marginal novelty flattens.

    Exactness: first_doc = MIN(doc_id) per gram is exact int64; the
    share is one non-negative integer floor division in micro units.

    Scale shape: identical to the ONION/inverted-index rung — one
    per-doc array expression chain + explode (zero shuffle), one
    map-side-combined gram-keyed MIN, one LINEAR gram-keyed join back,
    one doc-keyed aggregate.  No pairwise anything; hot grams cost one
    join row each, never a blowup.
    """
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    # Eager checkpoint: the gram stream feeds the first-occurrence MIN
    # AND the join probe (round-10; A/B 3.2-3.7s -> 2.0-2.2s warm at
    # sf0.1, identical rows — a window-min rewrite measured equal but
    # loses AQE skew-join splitting, which windows never get, so the
    # join shape stays). Eager for the same race-free reason as the
    # ONION gate above.
    grams = _onion_gram_stream(docs).localCheckpoint()
    firsts = grams.groupBy("g").agg(
        F.min("doc_id").cast("bigint").alias("first_doc")
    )
    return (
        grams.join(firsts, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_novel"),
            F.expr(
                "CAST(sum(CAST(first_doc = doc_id AS INT)) * 1000000L"
                " div count(*) AS BIGINT)"
            ).alias("novelty_micro"),
        )
    )


# --- Cluster-size histogram (the dedup report's headline table) ----------


def _cluster_size_hist_oracle() -> str:
    clusters = registry.ORACLES["op_dedup_clusters"]
    return f"""
    WITH cl AS MATERIALIZED ({clusters}),
    sizes AS (
      SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
      FROM cl GROUP BY cluster_id
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM cl)
    SELECT s.sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(s.sz * COUNT(*) AS BIGINT) AS n_docs,
           CAST(s.sz * COUNT(*) * 1000000 // t.n_docs AS BIGINT)
             AS docs_share_micro
    FROM sizes s CROSS JOIN tot t
    GROUP BY s.sz, t.n_docs
    """


@gate("op_dedup_cluster_size_histogram", _cluster_size_hist_oracle())
def op_dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-dup cluster-size histogram — the headline table of a dedup
    report: how many clusters of each size exist and what share of the
    corpus sits in them.  Singletons (size 1) are the unique mass; the
    tail tells whether duplication is pairwise mirroring (mass at 2) or
    template flooding (heavy sizes), which decides between keep-best
    canonicalization and outright source quarantine.

    Exactness: pure int64 counts and one floor division against the
    corpus total.

    Scale shape: rides the pinned ``minhash_lsh_pairs``/clusters memo;
    on top of the cluster assignment it is two map-side-combined
    aggregates (docs → cluster sizes → size histogram) and a 1-row
    broadcast total — histogram cardinality is the number of DISTINCT
    sizes, which grows logarithmically in practice.
    """
    cl = op_dedup_clusters(spark, sf_dir)
    sizes = cl.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("sz")
    )
    tot = cl.agg(F.count("*").cast("bigint").alias("n_docs_total"))
    return (
        sizes.groupBy("sz")
        .agg(F.count("*").cast("bigint").alias("n_clusters"))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters")).cast("bigint").alias("n_docs"),
            F.expr("sz * n_clusters * 1000000L div n_docs_total")
            .cast("bigint")
            .alias("docs_share_micro"),
        )
    )


# --- Record-linkage blocking-quality audit (round-10 verdict #6) -----------

BLOCK_LEN_BUCKET = 64  # n_chars bucket width for the length strategy


def _blocking_audit_oracle() -> str:
    head = (
        f"md5(array_to_string(string_split_regex(TRIM(text), "
        f"'\\s+')[1:{EDIT_HEAD_TOKENS}], ' '))"
    )
    return rf"""
    WITH truth AS ({_SQL_JACCARD_PAIRS_CAPPED}),
    keyed_raw AS (
      SELECT 'head{EDIT_HEAD_TOKENS}' AS strategy, doc_id, {head} AS k
      FROM documents
      UNION ALL
      SELECT 'len{BLOCK_LEN_BUCKET}', doc_id,
             CAST(n_chars // {BLOCK_LEN_BUCKET} AS VARCHAR)
      FROM documents
      UNION ALL
      SELECT 'lang_source', doc_id, lang || '|' || source FROM documents
    ),
    -- a NULL key means "this strategy cannot block this doc": such
    -- docs join no block at all (they would otherwise pile into one
    -- giant uncatchable NULL group in cand)
    keyed AS (SELECT * FROM keyed_raw WHERE k IS NOT NULL),
    cand AS (
      SELECT strategy,
             CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs
      FROM (
        SELECT strategy, k, COUNT(*) AS n FROM keyed GROUP BY 1, 2
      ) GROUP BY 1
    ),
    caught AS (
      SELECT a.strategy,
             CAST(COUNT(*) AS BIGINT) AS caught_pairs
      FROM truth t
      JOIN keyed a ON a.doc_id = t.d1
      JOIN keyed b ON b.doc_id = t.d2 AND b.strategy = a.strategy
       AND b.k = a.k
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS truth_pairs,
             CAST((SELECT COUNT(*) * (COUNT(*) - 1) // 2 FROM documents)
               AS BIGINT) AS all_pairs
    )
    SELECT c.strategy, c.candidate_pairs, tot.truth_pairs,
           CAST(COALESCE(g.caught_pairs, 0) AS BIGINT) AS caught_pairs,
           CAST(CASE WHEN c.candidate_pairs = 0 THEN 0
                ELSE COALESCE(g.caught_pairs, 0) * 1000000
                     // c.candidate_pairs END AS BIGINT) AS precision_micro,
           CAST(CASE WHEN tot.truth_pairs = 0 THEN 0
                ELSE COALESCE(g.caught_pairs, 0) * 1000000
                     // tot.truth_pairs END AS BIGINT) AS recall_micro,
           CAST(c.candidate_pairs * 1000000 // tot.all_pairs AS BIGINT)
             AS candidate_share_micro
    FROM cand c LEFT JOIN caught g USING (strategy) CROSS JOIN tot
    """


@gate("op_dedup_blocking_audit", _blocking_audit_oracle())
def op_dedup_blocking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality audit for record linkage / dedup candidate
    generation: for each blocking strategy — 16-token head fingerprint
    (the edit-distance gate's key), n_chars//{BLOCK_LEN_BUCKET} length
    band, and (lang, source) block — measure how well its candidate
    pairs cover the ground-truth near-dup set (exact df-capped Jaccard
    >= 0.2, the pinned ``exact_pairs_02`` memo):

    * ``precision_micro`` — caught / candidate pairs (how much of the
      block budget is spent on real near-dups),
    * ``recall_micro`` — caught / truth pairs (pairs a verifier fed by
      this blocking would never even see — the silent-loss number),
    * ``candidate_share_micro`` — candidate / all N(N-1)/2 pairs (the
      reduction ratio; the whole point of blocking).

    This is the audit that chooses blocking keys BEFORE a linkage run:
    recall bounds achievable dedup quality, candidate share bounds cost.

    Exactness: pure int64 counts; three fixed-point floor divisions
    (guarded against empty denominators on both engines). Int64 budget:
    candidate_pairs*1e6 <= N^2/2 * 1e6 binds at N ~ 4.3e6 docs per
    audit shard; beyond that compute the shares in double (the counts
    stay exact).

    Scale shape: the truth side rides the pinned exact-pairs memo; the
    blocking side is one narrow per-doc key projection unpivoted to
    (strategy, doc, key) rows, a (strategy, key)-keyed count for the
    candidate total (never materializing candidate PAIRS — the audit
    needs only their count), and two doc-keyed joins to tag each truth
    pair's keys. Nothing pair-quadratic is ever built.
    """
    from apitap_spark.functions.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(
            F.array_join(F.slice(tokens("text"), 1, EDIT_HEAD_TOKENS), " ")
        ).alias("k_head"),
        (F.col("n_chars").cast("bigint") / BLOCK_LEN_BUCKET)
        .cast("bigint")  # n_chars >= 0: floor == truncate, matches //
        .cast("string")
        .alias("k_len"),
        # F.concat (not concat_ws): NULL-propagating like the oracle's
        # `lang || '|' || source` (concat_ws would silently skip the
        # NULL and collide 'NULL|web' with 'web').
        F.concat(F.col("lang"), F.lit("|"), F.col("source")).alias("k_ls"),
    ).selectExpr(
        "doc_id",
        f"stack(3, 'head{EDIT_HEAD_TOKENS}', k_head,"
        f" 'len{BLOCK_LEN_BUCKET}', k_len,"
        " 'lang_source', k_ls) AS (strategy, k)",
    ).filter(
        # a NULL key means "this strategy cannot block this doc" —
        # exclude it everywhere (cand AND caught), mirroring the
        # oracle's keyed CTE, so uncatchable pairs never inflate
        # candidate_pairs
        F.col("k").isNotNull()
    ).localCheckpoint()  # consumed by cand AND both caught join sides
    cand = (
        keyed.groupBy("strategy", "k")
        .agg(F.count("*").alias("n"))
        .groupBy("strategy")
        .agg(
            F.sum(F.expr("n * (n - 1) div 2"))
            .cast("bigint")
            .alias("candidate_pairs")
        )
    )
    truth = exact_pairs_cached(spark, sf_dir)
    a = keyed.select(
        F.col("doc_id").alias("d1"), "strategy", F.col("k").alias("k1")
    )
    b = keyed.select(
        F.col("doc_id").alias("d2"), "strategy", F.col("k").alias("k2")
    )
    caught = (
        truth.join(a, "d1")
        .join(b, ["d2", "strategy"])
        .filter(F.col("k1") == F.col("k2"))
        .groupBy("strategy")
        .agg(F.count("*").cast("bigint").alias("caught_pairs"))
    )
    n_docs = docs.agg(F.count("*").cast("bigint").alias("nd"))
    tot = truth.agg(
        F.count("*").cast("bigint").alias("truth_pairs")
    ).crossJoin(
        n_docs.select(
            F.expr("nd * (nd - 1) div 2").cast("bigint").alias("all_pairs")
        )
    )
    return (
        cand.join(caught, "strategy", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "strategy",
            "candidate_pairs",
            "truth_pairs",
            F.coalesce("caught_pairs", F.lit(0))
            .cast("bigint")
            .alias("caught_pairs"),
            F.expr(
                "CASE WHEN candidate_pairs = 0 THEN 0L ELSE"
                " coalesce(caught_pairs, 0L) * 1000000L div candidate_pairs"
                " END"
            ).cast("bigint").alias("precision_micro"),
            F.expr(
                "CASE WHEN truth_pairs = 0 THEN 0L ELSE"
                " coalesce(caught_pairs, 0L) * 1000000L div truth_pairs END"
            ).cast("bigint").alias("recall_micro"),
            F.expr("candidate_pairs * 1000000L div all_pairs")
            .cast("bigint")
            .alias("candidate_share_micro"),
        )
    )
