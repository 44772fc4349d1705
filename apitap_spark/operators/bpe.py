"""Distributed BPE vocabulary induction (byte-pair-encoding merge learning).

The missing rung above ``op_text_bpe_tokens`` (which *applies* a fixed
BPE-ish regex): learn the merge table itself from the corpus, the way a
tokenizer build pass does (Sennrich et al. 2016, the algorithm behind
GPT-2/RoBERTa vocabularies; re-derived here from the published
algorithm, not from any implementation).

Scale shape — why this is the 100 TB formulation:

* The iteration state is the VOCABULARY (distinct word → count, one
  array-of-symbols row per distinct word), not the corpus. One corpus
  scan builds it; every merge round then touches vocab-sized data only
  (a few million rows for web-scale corpora — orders of magnitude
  smaller than the corpus).
* Each round: one explode of adjacent symbol pairs → one
  partial-aggregated groupBy(pair) weighted by word count → a 1-row
  argmax collect (driver scalar, like the k-means convergence probe) →
  one vectorized array-fold projection applying the merge. One shuffle
  per round, lineage cut with localCheckpoint (same pattern as
  operators.ml.kmeans_refine / graph.connected_components).
* The merge application is a Catalyst ``aggregate`` fold building the
  re-tokenized symbol array left-to-right — no Python in the loop.

Greedy left-to-right merge semantics match the reference algorithm:
overlapping pair occurrences count naively (zip of adjacent symbols),
ties on count break lexicographically by (left, right) so the learned
table is deterministic. ``tests/test_operators.py`` proves the merge
sequence equals a plain-Python BPE run exactly, and the driver gate is
hash-checked against a DuckDB recursive-CTE replay whose per-round
merge uses a closed-form (run-parity) rewrite of the greedy fold — see
``_BPE_ORACLE``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apitap_spark.functions.text import tokens
from apitap_spark.registry import gate
from apitap_spark.session import (
    MEMO_BOOKKEEPING,
    clear_memos,
    context_key,
    memo,
    read_table,
    release_memo,
)

# Cross-gate memo (round-10 optimization): EIGHT gates (learn, apply,
# encode, pack, fertility, decode, wordpiece, shuffle-plan) compose the
# SAME N_MERGES learning pass and, for five of them, the same encode.
# Every frame below is a pinned session.memo entry (RDD-level local
# checkpoints: dataset-level persist() does not survive the bench
# loop's spark.catalog.clearCache(), and a lineage recompute after that
# walks into gate-internal checkpoints release_persisted() has already
# freed — measured: CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on the second run
# of the pack gate under the bench protocol).  final_vocab and sym_ids
# are vocab-sized; seqs and the packed rows are encoded-corpus-sized —
# at production scale the materialization a pipeline would write as a
# parquet intermediate anyway.  bench.py's memo-honesty counters tag
# the building gate vs warm readers.
#
# Corpus-sized pin lifecycle (r10 verdict #4): each gate that reads
# ``bpe_seqs`` or ``bpe_packed`` marks itself below; once EVERY consumer
# of an entry has run (per context + sf_dir), the entry is released
# (session.release_memo) so the next release_persisted sweep frees the
# blocks, and the consumed-set re-arms (a later cycle — e.g. the
# bench's drift-watchlist re-runs — rebuilds once and releases again at
# its own last consumer). Vocab-sized entries (final_vocab, sym_ids)
# stay pinned for the session: they are the tokenizer artifact itself,
# orders of magnitude below the corpus.
_CORPUS_ENTRY_CONSUMERS: dict[str, frozenset] = {
    "bpe_seqs": frozenset(
        {
            "op_bpe_encode_docs",
            "op_bpe_decode_roundtrip",
            "op_bpe_pack_training_rows",
        }
    ),
    "bpe_packed": frozenset(
        {"op_bpe_pack_training_rows", "op_training_shuffle_plan"}
    ),
}
# (context, sf_dir, entry) -> set of consumer gate names seen this
# cycle; session.clear_memos() empties it with the memo.
_CORPUS_CONSUMED: dict[tuple, set] = {}
MEMO_BOOKKEEPING.append(_CORPUS_CONSUMED)


def _note_corpus_consumer(spark: SparkSession, sf_dir: str, gate: str) -> None:
    ctx = context_key(spark)
    for entry, consumers in _CORPUS_ENTRY_CONSUMERS.items():
        if gate not in consumers:
            continue
        seen = _CORPUS_CONSUMED.setdefault((ctx, sf_dir, entry), set())
        seen.add(gate)
        if seen >= consumers:
            release_memo(spark, (entry, sf_dir))
            seen.clear()


# perfbench/gates.py imports this name; every other caller uses clear_memos.
clear_bpe_memo = clear_memos


def _gate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )


def learned_bpe(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple], DataFrame]:
    """Memoized (merges, final_vocab) for the sf_dir documents corpus —
    one learning pass per (session, sf_dir) shared by the whole family."""
    return memo(
        spark, ("bpe_final_vocab", sf_dir),
        lambda: learn_bpe_with_vocab(
            char_vocab(_gate_docs(spark, sf_dir)), carry=("w",)
        ),
        family="bpe",
    )


def encoded_bpe(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Memoized (seqs, sym_ids) — the encode step over the memoized
    vocabulary.  Both pinned checkpoints (see the module-memo note)."""
    _merges, fv = learned_bpe(spark, sf_dir)
    sym_ids = memo(
        spark, ("bpe_sym_ids", sf_dir), lambda: _sym_id_table(fv),
        family="bpe",
    )
    seqs = memo(
        spark,
        ("bpe_seqs", sf_dir),
        lambda: _encode_seqs(_gate_docs(spark, sf_dir), fv, sym_ids),
        family="bpe",
    )
    return seqs, sym_ids


N_MERGES = 12


def _apply_merge(sym_col, left: str, right: str):
    """Array fold replacing every left-to-right (left, right) adjacency
    with the concatenated symbol — the vectorized merge step.

    State is the output array; a pair merges only when the CURRENT
    output tail equals ``left`` exactly (an already-merged tail token
    that merely ends with ``left`` compares unequal, keeping greedy
    non-overlap semantics identical to the sequential algorithm).
    """
    merged = F.lit(left + right)
    return F.aggregate(
        sym_col,
        F.array().cast("array<string>"),
        lambda acc, cur: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (cur == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(cur))),
    )


def learn_bpe_with_vocab(
    vocab: DataFrame, n_merges: int = N_MERGES, carry: tuple = ()
) -> tuple[list[tuple], DataFrame]:
    """Learn ``n_merges`` BPE merges from a (symbols array<string>, cnt)
    vocabulary frame. Returns ([(rank, left, right, pair_count), ...],
    final_vocab) — the final frame carries ``symbols``, ``cnt`` and any
    ``carry`` columns through every merge round, so callers can consume
    the post-merge vocabulary (e.g. per-word token counts) without
    replaying the fold chain.

    Stops early when no adjacent pair remains (fully merged corpus).
    """
    keep = [c for c in carry if c not in ("symbols",)]
    # Lazy checkpoints (round-10, guide §1/§2): each round's argmax
    # collect materializes the fold AND caches the truncated-lineage
    # blocks in the SAME job, halving the loop's job count vs the eager
    # form (eager paid a separate materialization job per round, plus a
    # 13th for the final fold that merge-only callers never consume).
    cur = vocab.select(*keep, "symbols", "cnt").localCheckpoint(eager=False)
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        pairs = cur.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("symbols"), 1, F.size("symbols") - 1),
                    F.slice(F.col("symbols"), 2, F.size("symbols") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
            "cnt",
        )
        top = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, c = top[0]["l"], top[0]["r"], top[0]["c"]
        merges.append((rank, l, r, int(c)))
        cur = cur.select(
            *keep, _apply_merge(F.col("symbols"), l, r).alias("symbols"), "cnt"
        ).localCheckpoint(eager=False)
    return merges, cur


def learn_bpe_merges(vocab: DataFrame, n_merges: int = N_MERGES) -> list[tuple]:
    """Merge table only — see learn_bpe_with_vocab."""
    return learn_bpe_with_vocab(vocab, n_merges)[0]


# DuckDB replay of the merge loop. The greedy left-to-right fold is
# re-expressed CLOSED-FORM per round: for pair (l, r) with l != r no two
# matches can overlap, so every (l, r) adjacency merges; for l == r,
# matches chain inside runs of l and greedy-left semantics keep exactly
# the even offsets within each run (gaps-and-islands + parity). The
# per-round argmax (count DESC, l, r) is an ORDER BY...LIMIT 1 subquery.
# Shared CTE chain (vocab0 -> bpe). Derived oracles append further CTEs
# with a leading ',' or a final SELECT — no rindex() string surgery.
_BPE_CTE_PREFIX = rf"""
    WITH RECURSIVE
    vocab0 AS (
      SELECT w, string_split(w, '') AS symbols, COUNT(*) AS cnt
      FROM (
        SELECT unnest(string_split_regex(TRIM(text), '\s+')) AS w
        FROM documents WHERE LENGTH(TRIM(text)) > 0
      ) GROUP BY w
    ),
    bpe(iter, wid, symbols, cnt) AS (
      SELECT 0, w, symbols, cnt FROM vocab0
      UNION ALL
      SELECT q.iter + 1, q.wid, list(q.ns ORDER BY q.pos), q.cnt
      FROM (
        SELECT iter, wid, cnt, pos,
               CASE WHEN merge_start THEN l || r ELSE s END AS ns,
               COALESCE(LAG(merge_start) OVER (PARTITION BY wid ORDER BY pos),
                        FALSE) AS consumed
        FROM (
          SELECT iter, wid, cnt, pos, s, l, r,
                 (s = l AND COALESCE(snext = r, FALSE)
                  AND (l <> r OR (ROW_NUMBER() OVER (
                        PARTITION BY wid, is_l, isl ORDER BY pos) - 1) % 2 = 0))
                   AS merge_start
          FROM (
            SELECT iter, wid, cnt, pos, s, snext, l, r, is_l,
                   pos - ROW_NUMBER() OVER (PARTITION BY wid, is_l ORDER BY pos)
                     AS isl
            FROM (
              SELECT b.iter, b.wid, b.cnt, i AS pos,
                     b.symbols[i] AS s, b.symbols[i + 1] AS snext,
                     t.l, t.r, (b.symbols[i] = t.l) AS is_l
              FROM bpe b
              CROSS JOIN (
                SELECT sym_l AS l, sym_r AS r FROM (
                  SELECT b2.symbols[j] AS sym_l, b2.symbols[j + 1] AS sym_r,
                         SUM(b2.cnt) AS c
                  FROM bpe b2, unnest(range(1, len(b2.symbols))) AS v(j)
                  WHERE b2.iter < {N_MERGES}
                  GROUP BY 1, 2
                  ORDER BY c DESC, sym_l, sym_r
                  LIMIT 1
                )
              ) t,
              unnest(range(1, len(b.symbols) + 1)) AS u(i)
              WHERE b.iter < {N_MERGES}
            )
          )
        )
      ) q
      WHERE NOT q.consumed
      GROUP BY q.iter, q.wid, q.cnt
    )
    """

_BPE_ORACLE = (
    _BPE_CTE_PREFIX
    + rf"""
    SELECT rank, "left", "right", pair_count FROM (
      SELECT CAST(iter + 1 AS BIGINT) AS rank, sym_l AS "left",
             sym_r AS "right", CAST(c AS BIGINT) AS pair_count,
             ROW_NUMBER() OVER (PARTITION BY iter
                                ORDER BY c DESC, sym_l, sym_r) AS rk
      FROM (
        SELECT b.iter, b.symbols[j] AS sym_l, b.symbols[j + 1] AS sym_r,
               SUM(b.cnt) AS c
        FROM bpe b, unnest(range(1, len(b.symbols))) AS v(j)
        GROUP BY 1, 2, 3
      )
    ) WHERE rk = 1 AND rank <= {N_MERGES}
    """
)


# Post-BPE token counts per document: join each doc's words to the final
# vocabulary state of the SAME recursive replay (symbols after N_MERGES
# rounds), sum symbol counts per doc. The tokenizer-aware length stat
# that packing / shard planning actually needs.
_BPE_APPLY_ORACLE = (
    _BPE_CTE_PREFIX
    + rf"""SELECT doc_id,
           CAST(SUM(len(b.symbols)) AS BIGINT) AS bpe_tokens,
           CAST(SUM(LENGTH(b.wid)) AS BIGINT) AS chars,
           CAST(COUNT(*) AS BIGINT) AS words
    FROM (
      SELECT doc_id, unnest(string_split_regex(TRIM(text), '\s+')) AS w
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ) tok
    JOIN (SELECT wid, symbols FROM bpe
          WHERE iter = (SELECT MAX(iter) FROM bpe)) b
      ON b.wid = tok.w
    GROUP BY doc_id
    """
)


@gate("op_bpe_apply_tokens", _BPE_APPLY_ORACLE)
def op_bpe_apply_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the learned BPE vocabulary:
    (doc_id, bpe_tokens, chars, words). ``bpe_tokens`` is the length a
    packing / shard-planning pass should budget with once a tokenizer
    exists — word counts under-estimate and char counts over-estimate.

    Scale: merges are learned once on the VOCAB (corpus-scan-free per
    round, see learn_bpe_merges); application is 12 chained Catalyst
    array folds over the distinct-word table, then one broadcast-join
    of docs' words to their final symbol counts — the corpus is touched
    exactly twice (vocab build, final join). Oracle: the recursive-CTE
    replay's final vocabulary state joined the same way.
    """
    _merges, final_vocab = learned_bpe(spark, sf_dir)
    return bpe_token_budgets(_gate_docs(spark, sf_dir), final_vocab)


def char_vocab(docs: DataFrame) -> DataFrame:
    """(w, symbols, cnt) character-level vocabulary of a (doc_id, text)
    frame — the BPE learning input."""
    return (
        docs.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .select("w", F.split("w", "").alias("symbols"), "cnt")
    )


def bpe_token_budgets(docs: DataFrame, final_vocab: DataFrame) -> DataFrame:
    """Per-doc (bpe_tokens, chars, words) from an already-learned final
    vocabulary (learn_bpe_with_vocab with carry=("w",)) — shared by the
    gate and by one-build callers (examples/tokenizer_pipeline.py)."""
    merged = final_vocab.select("w", F.size("symbols").alias("n_sym"))
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    return (
        tok.join(F.broadcast(merged), tok.w == merged.w)
        .groupBy("doc_id")
        .agg(
            F.sum("n_sym").cast("bigint").alias("bpe_tokens"),
            F.sum(F.length(tok.w)).cast("bigint").alias("chars"),
            F.count("*").cast("bigint").alias("words"),
        )
    )


def merges_frame(spark: SparkSession, merges: list[tuple]) -> DataFrame:
    """Learned merge list -> (rank, left, right, pair_count) frame."""
    return spark.createDataFrame(
        [(rank, l, r, c) for rank, l, r, c in merges],
        "rank bigint, left string, right string, pair_count bigint",
    )


# Encode: final vocabulary symbols -> dense lexicographic ids -> per-doc
# token-id sequences in reading order. Shares the recursive replay; the
# CTE block is its own constant because the pack oracle extends it.
_BPE_ENCODE_CTES = rf""", final AS (
      SELECT wid, symbols FROM bpe WHERE iter = (SELECT MAX(iter) FROM bpe)
    ),
    sym_ids AS (
      SELECT sym, ROW_NUMBER() OVER (ORDER BY sym) - 1 AS sym_id
      FROM (SELECT DISTINCT unnest(symbols) AS sym FROM final)
    ),
    word_ids AS (
      SELECT wid, list(sym_id ORDER BY sp) AS wids
      FROM (
        SELECT wid, sp, symbols[sp] AS sym
        FROM final, unnest(range(1, len(symbols) + 1)) AS u(sp)
      ) fx JOIN sym_ids USING (sym)
      GROUP BY wid
    ),
    tok AS (
      SELECT doc_id, i AS tp, t[i] AS w
      FROM (
        SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS t
        FROM documents WHERE LENGTH(TRIM(text)) > 0
      ), unnest(range(1, len(t) + 1)) AS u(i)
    ),
    doc_seqs AS (
      SELECT doc_id, flatten(list(wids ORDER BY tp)) AS ids
      FROM tok JOIN word_ids ON word_ids.wid = tok.w
      GROUP BY doc_id
    )
    """

_BPE_ENCODE_ORACLE = (
    _BPE_CTE_PREFIX
    + _BPE_ENCODE_CTES
    + """
    SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_tokens,
           array_to_string(ids, ',') AS token_ids
    FROM doc_seqs
    """
)


@gate("op_bpe_encode_docs", _BPE_ENCODE_ORACLE)
def op_bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus under the learned BPE vocabulary: every final
    symbol gets a dense lexicographic id, every document becomes its
    token-id sequence in reading order — the ACTUAL input a sequence-
    packing / training-data writer consumes (op_bpe_apply_tokens gives
    the counts; this gives the sequences). Gate output: (doc_id,
    n_tokens, token_ids comma-string) — serialized because the external
    driver's pandas canonicalizer can't hash list cells; the raw
    array<bigint> form stays available via bpe_encode /
    encode_with_vocab for pipeline callers.

    Scale: merges learn on vocab-sized state; the symbol-id table is
    vocabulary-bounded (the single-partition ROW_NUMBER is over distinct
    SYMBOLS, thousands at web scale — never the corpus); per-word id
    arrays broadcast to one corpus-order join + one per-doc groupBy.
    Deterministic throughout → hash-checked against the recursive-CTE
    replay's final vocabulary.
    """
    seqs, _sym_ids = encoded_bpe(spark, sf_dir)
    _note_corpus_consumer(spark, sf_dir, "op_bpe_encode_docs")
    return seqs.select(
        "doc_id",
        F.size("token_ids").cast("bigint").alias("n_tokens"),
        F.array_join("token_ids", ",").alias("token_ids"),
    )


def bpe_encode(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Learn merges and tokenize a (doc_id, text) frame. Returns
    (sequences, sym_ids) — see encode_with_vocab for the single-learn
    composition path."""
    docs = docs.filter(F.length(F.trim("text")) > 0)
    _merges, final_vocab = learn_bpe_with_vocab(char_vocab(docs), carry=("w",))
    return encode_with_vocab(docs, final_vocab)


def encode_with_vocab(
    docs: DataFrame, final_vocab: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Tokenize docs under an ALREADY-learned final vocabulary
    (learn_bpe_with_vocab with carry=("w",)). Returns (sequences,
    sym_ids): sequences = (doc_id, token_ids array<bigint>), sym_ids =
    the (sym, sym_id) dense-id table — lets one merge-learning pass feed
    merges, budgets, sequences AND packed rows
    (examples/tokenizer_pipeline.py).

    Blank/whitespace-only docs are dropped HERE (tokens('') is ['']; an
    unfiltered blank doc would otherwise encode a bogus empty-string
    token) — same contract as chunk_passages."""
    docs = docs.filter(F.length(F.trim("text")) > 0)
    sym_ids = _sym_id_table(final_vocab).localCheckpoint()
    return _encode_seqs(docs, final_vocab, sym_ids), sym_ids


def _sym_id_table(final_vocab: DataFrame) -> DataFrame:
    """(sym, sym_id) dense lexicographic id table — pure expression; the
    single-partition row_number is over distinct SYMBOLS (thousands at
    web scale, never the corpus)."""
    from pyspark.sql import Window as W

    return (
        final_vocab.select(F.explode("symbols").alias("sym"))
        .distinct()
        .withColumn("sym_id", F.row_number().over(W.orderBy("sym")) - 1)
    )


def _encode_seqs(
    docs: DataFrame, final_vocab: DataFrame, sym_ids: DataFrame
) -> DataFrame:
    """(doc_id, token_ids) sequences — pure expression over an already
    materialized sym_ids table (callers checkpoint/pin it)."""
    word_ids = (
        final_vocab.select("w", F.posexplode("symbols").alias("sp", "sym"))
        .join(sym_ids, "sym")
        .groupBy("w")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sp", "sym_id"))),
                lambda s: s["sym_id"].cast("bigint"),
            ).alias("wids")
        )
    )
    tok = docs.select("doc_id", F.posexplode(tokens("text")).alias("tp", "w"))
    seqs = (
        tok.join(F.broadcast(word_ids), "w")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tp", "wids"))),
                    lambda s: s["wids"],
                )
            ).alias("token_ids")
        )
    )
    return seqs


SEQ_LEN = 128  # tokens per packed training row
PACK_BUCKET = 1024  # doc_ids per offset bucket (two-phase prefix sum)

# Pack: concatenate all encoded docs (doc_id order, EOS-terminated) into
# one global token stream, cut every SEQ_LEN tokens. The oracle uses a
# plain global running sum for doc offsets; the Spark side computes the
# SAME integers with the two-phase bucketed prefix sum (scale path).
_BPE_PACK_ORACLE = (
    _BPE_CTE_PREFIX
    + _BPE_ENCODE_CTES
    + rf""", docs_enc AS (
      SELECT doc_id,
             list_append(ids, (SELECT COUNT(*) FROM sym_ids)) AS ids
      FROM doc_seqs
    ),
    offs AS (
      SELECT doc_id, ids,
             COALESCE(SUM(len(ids)) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS doff
      FROM docs_enc
    ),
    stream AS (
      SELECT doff + i - 1 AS gpos, ids[i] AS tid
      FROM offs, unnest(range(1, len(ids) + 1)) AS u(i)
    )
    SELECT CAST(gpos // {SEQ_LEN} AS BIGINT) AS row_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           array_to_string(list(tid ORDER BY gpos), ',') AS token_ids
    FROM stream GROUP BY 1
    """
)


@gate("op_bpe_pack_training_rows", _BPE_PACK_ORACLE)
def op_bpe_pack_training_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's terminal artifact: EOS-terminated encoded documents
    concatenated in doc_id order and cut into fixed SEQ_LEN-token
    training rows — (row_id, n_tokens, token_ids); every row is full
    except possibly the last. EOS id = vocabulary size.

    Scale: document offsets come from a TWO-PHASE prefix sum (per-bucket
    totals broadcast back as offsets + bucket-local windows, the
    op_shard_plan pattern) — the widest window partition is
    corpus/PACK_BUCKET docs, never the whole corpus; token explode and
    the row_id groupBy shuffle O(total tokens) once, which is the
    output's own size. The oracle computes the same integers with a
    plain global running sum.
    """
    packed = _packed_rows(spark, sf_dir)
    _note_corpus_consumer(spark, sf_dir, "op_bpe_pack_training_rows")
    # Gate projection serializes token_ids (driver pandas canonicalizer
    # can't hash list cells); pack_rows_frame keeps the raw array.
    return packed.withColumn("token_ids", F.array_join("token_ids", ","))


def _packed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized packed training rows. The build lambda is the ONLY place
    encoded_bpe is touched: a memo hit must not re-request ``bpe_seqs``
    (which may already be released — re-requesting would rebuild the
    corpus-sized frame just to throw it away). The EOS id (= vocabulary
    size) is counted on the pinned sym_ids table inside the build, its
    only consumer."""

    def build() -> DataFrame:
        seqs, sym_ids = encoded_bpe(spark, sf_dir)
        return pack_rows_frame(seqs, sym_ids.count())

    # The packed frame is memoized too (pinned checkpoint): the
    # shuffle-plan gate composes the pack gate, so without the memo the
    # explode+groupBy over the full token stream ran twice per suite.
    return memo(spark, ("bpe_packed", sf_dir), build, family="bpe")


def pack_rows_frame(seqs: DataFrame, eos: int) -> DataFrame:
    """Pack (doc_id, token_ids) sequences into SEQ_LEN training rows with
    the given EOS id — shared by the gate and one-learn composition
    callers (examples/tokenizer_pipeline.py)."""
    from pyspark.sql import Window as W

    with_eos = seqs.select(
        "doc_id",
        F.concat(
            "token_ids", F.array(F.lit(eos).cast("bigint"))
        ).alias("ids"),
    ).withColumn("n", F.size("ids")).withColumn(
        # integer div, not floor(double /): Column `/` casts to double and
        # loses exactness for hash-derived doc_ids above 2^53
        "b", F.expr(f"doc_id div {PACK_BUCKET}")
    ).localCheckpoint()
    # ^ feeds both the bucket-total branch and the doc-offset probe —
    # without the checkpoint the ENTIRE upstream encode chain (learn ->
    # apply -> encode) lazily re-runs once per consumer.
    btotals = with_eos.groupBy("b").agg(F.sum("n").alias("bt"))
    offsets = btotals.withColumn(
        "boff",
        F.coalesce(
            F.sum("bt").over(
                W.orderBy("b").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("b", "boff")
    w_local = (
        W.partitionBy("b").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    )
    docoff = with_eos.join(F.broadcast(offsets), "b").withColumn(
        "doff", F.coalesce(F.sum("n").over(w_local), F.lit(0)) + F.col("boff")
    )
    stream = docoff.select(
        F.posexplode("ids").alias("i", "tid"),
        F.col("doff").alias("doff"),
    ).select((F.col("doff") + F.col("i")).alias("gpos"), "tid")
    return (
        stream.groupBy(F.expr(f"gpos div {SEQ_LEN}").alias("row_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("gpos", "tid"))),
                lambda s: s["tid"],
            ).alias("token_ids"),
        )
    )


@gate("op_bpe_learn_merges", _BPE_ORACLE)
def op_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first N_MERGES BPE merges over the documents corpus.
    Output: (rank, left, right, pair_count) — the head of the merge
    table a tokenizer build would persist.

    Hash-checked against a DuckDB recursive-CTE replay (round-2 verdict
    #5; was rows-only): the algorithm is hash-free and its float-free
    integer counts replay exactly; the greedy merge fold has a
    closed-form SQL equivalent (see _BPE_ORACLE). The plain-Python
    equality pytest remains the semantic anchor."""
    merges, _fv = learned_bpe(spark, sf_dir)
    # createDataFrame, not f-string VALUES SQL: learned symbols may contain
    # quote/backslash characters that no escaping scheme keeps portable.
    return merges_frame(spark, merges)


# Tokenizer fertility per language: the post-BPE budget joined to the
# document's lang shard — fertility (tokens/word) and compression
# (chars/token) are THE metrics a tokenizer report card publishes per
# language (multilingual vocabularies are judged on fertility skew).
_BPE_FERTILITY_ORACLE = (
    _BPE_CTE_PREFIX
    + rf""", budgets AS (
      SELECT doc_id,
             CAST(SUM(len(b.symbols)) AS BIGINT) AS bpe_tokens,
             CAST(SUM(LENGTH(b.wid)) AS BIGINT) AS chars,
             CAST(COUNT(*) AS BIGINT) AS words
      FROM (
        SELECT doc_id, unnest(string_split_regex(TRIM(text), '\s+')) AS w
        FROM documents WHERE LENGTH(TRIM(text)) > 0
      ) tok
      JOIN (SELECT wid, symbols FROM bpe
            WHERE iter = (SELECT MAX(iter) FROM bpe)) b
        ON b.wid = tok.w
      GROUP BY doc_id
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(b.words) AS BIGINT) AS words,
           CAST(SUM(b.bpe_tokens) AS BIGINT) AS bpe_tokens,
           CAST(SUM(b.chars) AS BIGINT) AS chars,
           CAST(SUM(b.bpe_tokens) AS DOUBLE) / CAST(SUM(b.words) AS DOUBLE)
             AS fertility,
           CAST(SUM(b.chars) AS DOUBLE) / CAST(SUM(b.bpe_tokens) AS DOUBLE)
             AS chars_per_token
    FROM budgets b JOIN documents d ON d.doc_id = b.doc_id
    GROUP BY d.lang
    """
)


@gate("op_bpe_fertility_by_lang", _BPE_FERTILITY_ORACLE)
def op_bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility report: (lang, n_docs, words,
    bpe_tokens, chars, fertility, chars_per_token). Fertility =
    BPE tokens per whitespace word; chars_per_token = the compression
    the learned vocabulary achieves. Languages whose fertility runs hot
    are under-served by the vocabulary — the skew a multilingual
    tokenizer build iterates on (cf. the fertility analyses in public
    multilingual-LM reports).

    Scale: reuses the vocab-sized BPE learning (corpus touched twice:
    vocab build + one broadcast join), then a lang-keyed integer
    aggregate — counts sum in bigint, the two ratios divide once at the
    end in a fixed chain, so the gate hash-checks against the
    recursive-CTE replay.
    """
    docs = _gate_docs(spark, sf_dir)
    _merges, final_vocab = learned_bpe(spark, sf_dir)
    budgets = bpe_token_budgets(docs, final_vocab)
    joined = budgets.join(docs.select("doc_id", "lang"), "doc_id")
    bpe_tokens = F.sum("bpe_tokens")
    words = F.sum("words")
    chars = F.sum("chars")
    return joined.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        words.cast("bigint").alias("words"),
        bpe_tokens.cast("bigint").alias("bpe_tokens"),
        chars.cast("bigint").alias("chars"),
        (bpe_tokens.cast("double") / words.cast("double")).alias("fertility"),
        (chars.cast("double") / bpe_tokens.cast("double")).alias(
            "chars_per_token"
        ),
    )


# --- L108: decode-roundtrip audit (tokenizer lifecycle closure) -------------

_BPE_ROUNDTRIP_ORACLE = (
    _BPE_CTE_PREFIX
    + _BPE_ENCODE_CTES
    + r""",
    decoded AS (
      SELECT d.doc_id,
             array_to_string(list(s.sym ORDER BY x.i), '') AS dec
      FROM doc_seqs d,
           unnest(range(1, len(d.ids) + 1)) AS x(i)
      JOIN sym_ids s ON s.sym_id = d.ids[x.i]
      GROUP BY d.doc_id
    )
    SELECT doc.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN dec.dec =
                  regexp_replace(TRIM(doc.text), '\s+', '', 'g')
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok,
           CAST(SUM(LENGTH(dec.dec)) AS BIGINT) AS total_decoded_chars
    FROM decoded dec JOIN documents doc ON doc.doc_id = dec.doc_id
    GROUP BY doc.source
    """
)


@gate("op_bpe_decode_roundtrip", _BPE_ROUNDTRIP_ORACLE)
def op_bpe_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer decode-roundtrip audit, closing the BPE lifecycle
    (learn → budget → encode → pack → DECODE): rebuild every document
    from its dense token-id sequence alone (ids → symbols via the
    inverted id table → in-order concatenation) and compare against the
    whitespace-stripped source text. ``n_roundtrip_ok == n_docs`` per
    source proves the id assignment is invertible and the encode path
    is lossless — the check a training-data pipeline runs before
    shipping a tokenizer+corpus pair (a lossy tokenizer silently
    corrupts every downstream training token).

    Scale shape: decode is one explode of the id stream, one broadcast
    join against the vocabulary-sized id table, and one per-doc ordered
    re-assembly (the exact inverse of encode's shuffle shape — O(tokens)
    linear, no pairwise work); the verdict aggregate is map-side
    combined per source.
    """
    docs = _gate_docs(spark, sf_dir)
    seqs, sym_ids = encoded_bpe(spark, sf_dir)
    _note_corpus_consumer(spark, sf_dir, "op_bpe_decode_roundtrip")
    exploded = seqs.select(
        "doc_id", F.posexplode("token_ids").alias("i", "sym_id")
    )
    decoded = (
        exploded.join(F.broadcast(sym_ids), "sym_id")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "sym"))),
                    lambda s: s["sym"],
                ),
                "",
            ).alias("dec")
        )
    )
    stripped = docs.select(
        "doc_id",
        "source",
        F.regexp_replace(F.trim("text"), r"\s+", "").alias("src_stripped"),
    )
    return (
        decoded.join(stripped, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("dec") == F.col("src_stripped")).cast("int"))
            .cast("bigint")
            .alias("n_roundtrip_ok"),
            F.sum(F.length("dec")).cast("bigint").alias("total_decoded_chars"),
        )
    )


# --- L115: WordPiece-style greedy longest-match encoder ---------------------

_WORDPIECE_ORACLE = (
    _BPE_CTE_PREFIX
    + _BPE_ENCODE_CTES
    + r""",
    words AS (SELECT DISTINCT wid AS w FROM final),
    wp(w, pos, toks, unks) AS (
      SELECT w, 1, 0, 0 FROM words
      UNION ALL
      SELECT w, pos + COALESCE(best, 1),
             toks + CASE WHEN best IS NULL THEN 0 ELSE 1 END,
             unks + CASE WHEN best IS NULL THEN 1 ELSE 0 END
      FROM (
        SELECT w, pos, toks, unks,
               (SELECT MAX(LENGTH(s.sym)) FROM sym_ids s
                WHERE s.sym = substr(w, pos, LENGTH(s.sym))) AS best
        FROM wp WHERE pos <= LENGTH(w)
      )
    ),
    done AS (SELECT w, toks, unks FROM wp WHERE pos > LENGTH(w)),
    corpus AS (
      SELECT d.source, u.w
      FROM (SELECT source, string_split_regex(TRIM(text), '\s+') AS t
            FROM documents WHERE LENGTH(TRIM(text)) > 0) d,
           UNNEST(d.t) AS u(w)
    )
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(done.toks) AS BIGINT) AS wp_tokens,
           CAST(SUM(done.unks) AS BIGINT) AS wp_unks,
           CAST(SUM(done.toks) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS tokens_per_word
    FROM corpus c JOIN done ON done.w = c.w
    GROUP BY c.source
    """
)


@gate("op_wordpiece_encode", _WORDPIECE_ORACLE)
def op_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece-style tokenization (greedy longest-match-first against
    the learned symbol inventory — the second tokenizer FAMILY next to
    BPE's merge-order application; Schuster & Nakajima 2012 / the BERT
    tokenizer's inference rule, re-derived from the published
    algorithm). Per word: scan left to right, at each position take the
    LONGEST inventory symbol matching the remaining prefix, else emit
    one unknown character and advance. Per-source output weights the
    per-word results by corpus occurrences: word counts, WordPiece
    token counts, unknown-character counts, and tokens/word — directly
    comparable with the BPE fertility gate to quantify how much the
    two inference rules disagree under the SAME vocabulary.

    Scale shape: the greedy loop runs over the DISTINCT-WORD table
    (vocab-sized, never the corpus), max-word-length rounds of pure
    projections; the symbol inventory is a bounded driver collect
    (vocab-sized, same pattern as the k-means/argmax probes) compiled
    into per-length literal IN-lists; the corpus is touched once by a
    broadcast join of the finished per-word table. The oracle replays
    the identical greedy scan in a recursive CTE whose longest-match is
    a correlated MAX over the symbol table.
    """
    docs = _gate_docs(spark, sf_dir)
    _merges, final_vocab = learned_bpe(spark, sf_dir)
    syms = [
        r["sym"]
        for r in final_vocab.select(F.explode("symbols").alias("sym"))
        .distinct()
        .collect()
    ]
    by_len: dict[int, list[str]] = {}
    for sym in syms:
        by_len.setdefault(len(sym), []).append(sym)
    lens_desc = sorted(by_len, reverse=True)

    words = final_vocab.select(F.col("w")).distinct()
    max_len = words.agg(F.max(F.length("w"))).collect()[0][0]
    state = words.select(
        "w",
        F.lit(1).alias("pos"),
        F.lit(0).alias("toks"),
        F.lit(0).alias("unks"),
    )
    for _ in range(int(max_len)):
        best = F.coalesce(
            *[
                F.when(
                    F.expr(f"substring(w, pos, {L})").isin(by_len[L]), F.lit(L)
                )
                for L in lens_desc
            ],
            F.lit(None).cast("int"),
        )
        active = F.col("pos") <= F.length("w")
        matched = active & best.isNotNull()
        missed = active & best.isNull()
        state = state.select(
            "w",
            F.when(active, F.col("pos") + F.coalesce(best, F.lit(1)))
            .otherwise(F.col("pos"))
            .alias("pos"),
            (F.col("toks") + matched.cast("int")).alias("toks"),
            (F.col("unks") + missed.cast("int")).alias("unks"),
        )
    done = state.select("w", "toks", "unks").localCheckpoint()
    corpus = docs.select("source", F.explode(tokens("text")).alias("w"))
    n = F.count("*").cast("bigint")
    return corpus.join(F.broadcast(done), "w").groupBy("source").agg(
        n.alias("n_words"),
        F.sum("toks").cast("bigint").alias("wp_tokens"),
        F.sum("unks").cast("bigint").alias("wp_unks"),
        (F.sum("toks").cast("double") / n.cast("double")).alias(
            "tokens_per_word"
        ),
    )


# --- L119: deterministic training-shuffle shard plan ------------------------

SHUFFLE_SEED = 42
SHUFFLE_SHARDS = 8

_SHUFFLE_ORACLE = f"""
    WITH packed AS (SELECT * FROM ({_BPE_PACK_ORACLE}) t),
    keyed AS (
      SELECT row_id, n_tokens,
             CAST('0x' || substr(md5('{SHUFFLE_SEED}|' ||
                  CAST(row_id AS VARCHAR)), 1, 15) AS BIGINT)
               % {SHUFFLE_SHARDS} AS shard
      FROM packed
    ),
    tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS all_tokens FROM keyed)
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           ROUND(CAST(SUM(n_tokens) AS DOUBLE) / CAST(all_tokens AS DOUBLE), 6)
             AS token_share
    FROM keyed CROSS JOIN tot
    GROUP BY shard, all_tokens
"""


@gate("op_training_shuffle_plan", _SHUFFLE_ORACLE)
def op_training_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-data shuffle: every packed SEQ_LEN row is
    assigned to a shard by a seeded content-independent hash
    (md5(seed|row_id) mod S) — the reproducible global shuffle a
    training run needs (epoch order must not follow document order, and
    re-running the pipeline must yield the SAME order for exact
    restart/repro). Output is the shard balance report: rows and tokens
    per shard with each shard's token share — imbalance here means GPU
    data-loader stalls.

    Scale shape: hash-mod assignment IS the distributed shuffle (no
    global sort, no global window, unlike rank-based shuffles); the
    balance report is one map-side-combined aggregate over shard
    (S rows out). Composes the whole BPE chain: learn → encode → pack →
    shuffle — the oracle nests the pack replay and re-derives the
    assignment.
    """
    packed = _packed_rows(spark, sf_dir).select("row_id", "n_tokens")
    _note_corpus_consumer(spark, sf_dir, "op_training_shuffle_plan")
    shard = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{SHUFFLE_SEED}|"),
                        F.col("row_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % SHUFFLE_SHARDS
    )
    keyed = packed.select("row_id", "n_tokens", shard.alias("shard"))
    # Total tokens via a window over the S-row shard aggregate (the
    # op_benford_audit pattern): a separate agg-then-crossJoin would
    # materialize the whole learn->encode->pack chain TWICE — round-5
    # plan audit caught exactly that (2x Window/Generate nodes).  The
    # global window is over SHUFFLE_SHARDS rows, not the corpus.
    from pyspark.sql import Window

    per_shard = keyed.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
    )
    all_tokens = F.sum("shard_tokens").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ).cast("bigint")
    return per_shard.select(
        "shard",
        "n_rows",
        "shard_tokens",
        F.round(
            F.col("shard_tokens").cast("double")
            / all_tokens.cast("double"),
            6,
        ).alias("token_share"),
    )


# --- Unigram-LM tokenizer: one Viterbi EM step (Kudo 2018) ---------------

UNI_PIECE_MAX = 4  # candidate piece length cap
UNI_VOCAB = 256  # seed vocab: top pieces by corpus count (plus all chars)
UNI_WORD_MAX = 24  # DP length cap (longer tokens are URL/hash junk here)
UNI_TOPK = 50

_UNI_TOK = r"string_split_regex(TRIM(text), '\s+')"

_UNIGRAM_ORACLE = rf"""
    WITH RECURSIVE
    words AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest({_UNI_TOK}) AS w FROM documents)
      WHERE w <> '' AND LEN(w) <= {UNI_WORD_MAX}
      GROUP BY w
    ),
    subs AS (
      SELECT substr(wo.w, g.s + 1, g.l) AS p,
             CAST(SUM(wo.n) AS BIGINT) AS c
      FROM words wo
      JOIN LATERAL (
        SELECT s, l
        FROM unnest(range(0, LEN(wo.w))) AS t1(s),
             unnest(range(1, {UNI_PIECE_MAX} + 1)) AS t2(l)
        WHERE s + l <= LEN(wo.w)
      ) g ON TRUE
      GROUP BY 1
    ),
    vocab0 AS (
      -- DISTINCT wrapper, NOT a top-level UNION: under WITH RECURSIVE
      -- DuckDB gives any `a UNION b` CTE recursive working-table
      -- semantics and does NOT dedup across the branches (measured:
      -- `WITH RECURSIVE x AS (SELECT 1 UNION SELECT 1)` has 2 rows) —
      -- single-char pieces inside the top-{UNI_VOCAB} doubled and the
      -- final join fanned out.
      SELECT DISTINCT p, c FROM (
        SELECT p, c FROM (
          SELECT p, c, ROW_NUMBER() OVER (ORDER BY c DESC, p) AS rk
          FROM subs
        ) WHERE rk <= {UNI_VOCAB}
        UNION ALL
        SELECT p, c FROM subs WHERE LEN(p) = 1
      )
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS ct FROM vocab0),
    vocab AS (
      SELECT v.p, v.c,
             CAST(ROUND(ln(CAST(t.ct AS DOUBLE) / CAST(v.c AS DOUBLE))
                        * 1000000.0, 0) AS BIGINT) AS u
      FROM vocab0 v CROSS JOIN tot t
    ),
    pc AS (
      SELECT w, e, list(struct_pack(s := s, u := u) ORDER BY s, u) AS lst
      FROM (
        SELECT wo.w, g.s, g.s + g.l AS e, v.u
        FROM words wo
        JOIN LATERAL (
          SELECT s::INT AS s, l::INT AS l
          FROM unnest(range(0, LEN(wo.w))) AS t1(s),
               unnest(range(1, {UNI_PIECE_MAX} + 1)) AS t2(l)
          WHERE s + l <= LEN(wo.w)
        ) g ON TRUE
        JOIN vocab v ON v.p = substr(wo.w, g.s + 1, g.l)
      ) GROUP BY w, e
    ),
    lmax AS (SELECT CAST(MAX(LEN(w)) AS INT) AS m FROM words),
    dp(w, iter, st) AS (
      SELECT w, 0,
             [struct_pack(cost := CAST(0 AS BIGINT), s := CAST(-1 AS INT))]
      FROM words
      UNION ALL
      SELECT d.w, d.iter + 1,
        CASE WHEN p.lst IS NULL THEN d.st
             ELSE d.st || [struct_pack(
               cost := list_min(list_transform(p.lst,
                         x -> d.st[x.s + 1].cost + x.u)),
               s := CAST(list_min(list_transform(
                      list_filter(p.lst, x -> d.st[x.s + 1].cost + x.u =
                        list_min(list_transform(p.lst,
                          y -> d.st[y.s + 1].cost + y.u))),
                      x -> x.s)) AS INT))]
        END
      FROM dp d
      CROSS JOIN lmax
      LEFT JOIN pc p ON p.w = d.w AND p.e = d.iter + 1
      WHERE d.iter < lmax.m
    ),
    dpf AS (
      SELECT d.w, d.st FROM dp d CROSS JOIN lmax WHERE d.iter = lmax.m
    ),
    walk(w, bounds) AS (
      SELECT w, [CAST(len(st) - 1 AS INT)] FROM dpf
      UNION ALL
      SELECT wk.w, wk.bounds || [d.st[wk.bounds[-1] + 1].s]
      FROM walk wk JOIN dpf d ON d.w = wk.w
      WHERE wk.bounds[-1] > 0
    ),
    seg AS (SELECT w, bounds FROM walk WHERE bounds[-1] = 0),
    vit AS (
      SELECT piece, CAST(SUM(n) AS BIGINT) AS viterbi_count
      FROM (
        SELECT wo.n,
               unnest(list_transform(range(1, len(s.bounds)),
                 i -> substr(s.w, s.bounds[i + 1] + 1,
                             s.bounds[i] - s.bounds[i + 1]))) AS piece
        FROM seg s JOIN words wo ON wo.w = s.w
      ) GROUP BY piece
    )
    SELECT piece, v.c AS seed_count, v.u AS score_micro, t.viterbi_count,
           CAST(ROW_NUMBER() OVER (ORDER BY t.viterbi_count DESC, piece)
                AS BIGINT) AS rk
    FROM vit t JOIN vocab v ON v.p = t.piece
    ORDER BY t.viterbi_count DESC, piece
    LIMIT {UNI_TOPK}
"""


@gate("op_tokenizer_unigram_viterbi", _UNIGRAM_ORACLE)
def op_tokenizer_unigram_viterbi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One EM step of the unigram-LM tokenizer (Kudo 2018,
    arXiv:1804.10959 — the SentencePiece algorithm), completing the
    tokenizer-training family next to BPE and WordPiece: seed a piece
    vocabulary from corpus substring counts, score pieces with
    micro-nat negative log likelihood, Viterbi-segment every distinct
    word under those scores (the E-step), and recount piece usage over
    the optimal segmentations (the M-step counts whose normalization
    feeds the next iteration / prune step). Output: the TOPK pieces by
    Viterbi count with their seed counts and scores.

    Exactness: the only transcendental is ONE ln per vocab piece on a
    bit-identical exact-integer ratio, rounded once to micro-nats (the
    naive-Bayes precedent); the DP then runs entirely in int64
    (cost ≤ word_len·max_score ≈ 5·10⁸), with ties broken (min cost,
    then min start = longest piece) identically in both engines; the
    DuckDB oracle replays the DP as a recursive CTE over a
    struct-list state and the backtrack as a second recursive walk.

    Scale shape: the DP runs over DISTINCT words (vocabulary
    cardinality, not corpus size) as ONE JVM `aggregate` HOF per word
    — no Python, no driver loop, no per-position shuffle; candidate
    generation is an equi-join of exploded substrings against the
    broadcast ≤{UNI_VOCAB}+σ piece vocab; the M-step is one
    map-side-combined count. 100× more documents grows only the word
    COUNT aggregate; the DP cost is unchanged once the vocabulary
    saturates (Heaps-law sublinear).
    """
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") <= UNI_WORD_MAX))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint()
    )
    # ^ distinct-word frame feeds substring counting, the DP grid, and
    # the M-step weight join — three consumers of one token explode.
    grid = words.select(
        "w", "n",
        F.explode(F.expr("sequence(0, length(w) - 1)")).alias("s"),
    ).select(
        "w", "n", "s",
        F.explode(
            F.expr(
                f"sequence(1, least({UNI_PIECE_MAX}, length(w) - s))"
            )
        ).alias("l"),
    ).select(
        "w", "n", F.col("s").cast("int").alias("s"),
        F.expr("substr(w, s + 1, l)").alias("p"),
        (F.col("s") + F.col("l")).cast("int").alias("e"),
    )
    subs = grid.groupBy("p").agg(F.sum("n").cast("bigint").alias("c"))
    top = (
        subs.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc("c"), F.asc("p"))
            ),
        )
        .filter(F.col("rk") <= UNI_VOCAB)
        .select("p", "c")
    )
    vocab0 = top.unionByName(
        subs.filter(F.length("p") == 1).select("p", "c")
    ).distinct().localCheckpoint()
    tot = vocab0.agg(F.sum("c").cast("bigint").alias("ct"))
    vocab = (
        vocab0.crossJoin(F.broadcast(tot))
        .select(
            "p", "c",
            F.round(
                F.log(F.col("ct").cast("double") / F.col("c").cast("double"))
                * 1000000.0,
                0,
            )
            .cast("bigint")
            .alias("u"),
        )
        .localCheckpoint()
    )
    ps = (
        grid.join(F.broadcast(vocab.select("p", "u")), "p")
        .groupBy("w")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("e").alias("e"),
                        F.col("s").alias("s"),
                        F.col("u").alias("u"),
                    )
                )
            ).alias("ps")
        )
    )
    dp = words.join(ps, "w").withColumn(
        "st",
        F.expr(
            """
            aggregate(sequence(1, length(w)),
              array(struct(cast(0 as bigint) as cost, -1 as s)),
              (acc, i) -> concat(acc, array(
                array_min(transform(filter(ps, p -> p.e = i),
                  p -> struct(element_at(acc, p.s + 1).cost + p.u as cost,
                              p.s as s))))))
            """
        ),
    )
    walk = dp.withColumn(
        "bounds",
        F.expr(
            """
            aggregate(sequence(1, length(w)),
              array(cast(length(w) as int)),
              (acc, i) -> CASE WHEN element_at(acc, -1) > 0
                THEN concat(acc, array(
                  element_at(st, element_at(acc, -1) + 1).s))
                ELSE acc END)
            """
        ),
    )
    vit = (
        walk.select(
            "n",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(bounds) - 1),"
                    " i -> substr(w, element_at(bounds, i + 1) + 1,"
                    " element_at(bounds, i) - element_at(bounds, i + 1)))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("n").cast("bigint").alias("viterbi_count"))
    )
    w_rk = Window.orderBy(F.desc("viterbi_count"), F.asc("piece"))
    return (
        vit.join(
            vocab.select(
                F.col("p").alias("piece"),
                F.col("c").alias("seed_count"),
                F.col("u").alias("score_micro"),
            ),
            "piece",
        )
        .withColumn("rk", F.row_number().over(w_rk).cast("bigint"))
        .filter(F.col("rk") <= UNI_TOPK)
        .select("piece", "seed_count", "score_micro", "viterbi_count", "rk")
    )
