"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Query inventory lives in ``apitap_spark.plans`` (relational
SURVEY §2.2 coverage) and ``apitap_spark.operators`` (dedup /
similarity / text-analysis / multimodal operators).
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

_SHIPPED: set[int] = set()

# Gates whose IMPLEMENTATION was modified this round (semantics-
# preserving rewrites included): front-of-window recheck so the change
# ships WITH a fresh oracle row the same round instead of waiting for
# the oldest-evidence rotation to reach it (round-7 ADVICE #2 — the
# round-6 wedge co-location rewrite shipped without post-change
# evidence).  Reset this set each round to only the gates actually
# touched; they sort right behind true reds.
_RECHECK_FRONT: set[str] = {
    # embedding kernels: one conversion and one cosine fold, shared from
    # functions/vectors.py; the isotropy rounding goes through
    # ml._half_up_arr and top-PC reads the corpus width up front
    "op_ann_greedy_graph_search",
    "op_crosslingual_neardup",
    "op_dbscan_clusters",
    "op_dedup_embedding_cosine",
    "op_embedding_isotropy_audit",
    "op_embedding_knn_graph",
    "op_embedding_rp_sketch",
    "op_embedding_top_pc",
    "op_knn_label_accuracy",
    "op_mmr_diversity_rerank",
    "op_semantic_dedup",
    # stage budget: PageRank and TrustRank share one checkpointed round
    # with observed scalars, basket pairs are built inside each basket
    # array, and q5 stands for every gate reading through the footer
    # schema of session.read_table
    "op_basket_association_rules",
    "op_graph_pagerank",
    "q5_region_revenue",
    # every gate that reads a cross-gate memo: all memo accessors now go
    # through session.memo (one keyed store instead of per-module dict
    # caches). strict_audit and pandas_mimic green at sf0.001 and
    # sf0.01. The r11 set rotated out: each got its fresh row in
    # CORRECTNESS_r11.
    # graph: coactivity edges, LP labels, (deg, wedge) tuple
    "op_graph_assortativity",
    "op_graph_bfs_hops",
    "op_graph_degree_profile",
    "op_graph_kcore_peel",
    "op_graph_label_propagation",
    "op_graph_link_prediction",
    "op_graph_modularity",
    "op_graph_resource_allocation",
    "op_graph_transitivity",
    "op_graph_triangles",
    "op_graph_trustrank_seeded",
    # dedup: df-capped shingles, exact/LSH pairs, MinHash buckets
    "op_dedup_blocking_audit",
    "op_dedup_cluster_size_histogram",
    "op_dedup_clusters",
    "op_dedup_containment",
    "op_dedup_incremental_minhash",
    "op_dedup_keep_best",
    "op_dedup_minhash_lsh",
    "op_dedup_ngram_jaccard",
    "op_dedup_threshold_curve",
    "op_lsh_tuning_curve",
    "op_minhash_estimate_audit",
    # ANN: exact/LSH top-k, (assigned, codebook) PQ tuple
    "op_ann_cosine_topk",
    "op_ann_ivfpq_recall_audit",
    "op_ann_ivfpq_search",
    "op_ann_lsh_bucketed",
    "op_ann_lsh_recall_curve",
    "op_ann_mrr_audit",
    "op_ann_ndcg_audit",
    "op_ann_pq_adc",
    "op_ann_pq_codes",
    "op_ann_recall_audit",
    # logreg weights (plain-value entry)
    "op_ml_logreg_eval_auc",
    "op_ml_logreg_quality",
    # BPE: (merges, vocab) tuple, EOS counted in the packed build
    "op_bpe_apply_tokens",
    "op_bpe_decode_roundtrip",
    "op_bpe_encode_docs",
    "op_bpe_fertility_by_lang",
    "op_bpe_learn_merges",
    "op_bpe_pack_training_rows",
    "op_training_shuffle_plan",
    "op_wordpiece_encode",
}


def _gate_priority(names: list[str]) -> list[str]:
    """Order gates so the driver's 50-row CORRECTNESS window hits the gates
    that most need a verdict.

    The driver only writes CORRECTNESS rows for the first 50 entries of
    ``queries()``.  We read every prior round's ``CORRECTNESS_r*.json`` and
    sort gates into tiers, each preserving registration order:

    0. gates whose most recent driver row is a genuine red (an oracle ran
       and mismatched — must be re-proven),
    1. gates modified this round (_RECHECK_FRONT) — a rewrite must get
       a fresh oracle row the same round it ships (round-7 ADVICE #2),
    2. oracle-able gates with no driver row yet, plus previously
       rows-only gates that have since GAINED an oracle (re-run now
       yields a hash verdict — new information),
    3. gates whose most recent row is a HARNESS error (the driver's
       comparator crashed — a traceback in ``err`` rather than an oracle
       verdict).  These re-run after never-tested gates, not before: a
       deterministic harness crash would otherwise camp at the front
       every round and starve the never-tested queue (round-3 ADVICE),
    4. gates with no driver row and no oracle (one rows-only row is worth
       recording, but never at the cost of an oracle-able gate),
    5. gates whose most recent driver row is green — rotated OLDEST
       EVIDENCE FIRST: within this tier gates sort by the round of
       their latest driver row, so the handful of re-verification
       slots left after the never-tested queue cycle through all
       greens across rounds instead of re-proving the same
       first-registered gates forever (a plain stable sort on
       registration order would starve late-registered greens of
       fresh evidence indefinitely),
    6. gates whose most recent row is ``err='no_oracle'`` and that still
       have no oracle — a re-run records the identical no_oracle row
       (zero new information), so these sort LAST, after green
       refreshes (round-8 verdict #2: below green they camped in every
       window from r6 on, displacing oldest-evidence refreshes).

    Across rounds this guarantees every gate — including ones added later —
    eventually gets a green driver row.
    """
    import glob
    import json

    # verdict: name -> "green" | "red" | "no_oracle" (latest round wins);
    # last_round: name -> round number of the gate's most recent row
    verdict: dict[str, str] = {}
    last_round: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(_REPO_DIR, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        try:
            rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
        except (IndexError, ValueError):
            rnd = 0
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            last_round[name] = rnd
            if row.get("err") == "no_oracle":
                verdict[name] = "no_oracle"
                continue
            err = row.get("err")
            if err:
                # A traceback/exception in err means the driver HARNESS
                # crashed (e.g. pandas sort_values on a list column) —
                # no oracle verdict was reached.  Not a tier-0 red.
                verdict[name] = "harness_err"
                continue
            ok = (
                row.get("rows_match") is not False
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            )
            verdict[name] = "green" if ok else "red"

    oracled = _oracle_names()

    def tier(name: str) -> int:
        state = verdict.get(name)
        if state == "red":
            return 0
        if name in _RECHECK_FRONT:
            return 1
        if state is None:
            return 2 if name in oracled else 4
        if state == "no_oracle":
            return 2 if name in oracled else 6
        return {"harness_err": 3, "green": 5}[state]

    def key(name: str) -> tuple[int, int]:
        t = tier(name)
        # greens: oldest driver evidence first (see docstring); other
        # tiers keep pure registration order
        return (t, last_round.get(name, 0) if t == 5 else 0)

    return sorted(names, key=key)  # stable within (tier, evidence age)


def _oracle_names() -> set[str]:
    """Names of gates that currently have a DuckDB oracle registered."""
    from apitap_spark.operators import ORACLES as OPS
    from apitap_spark.plans import ORACLES as REL

    return set(REL) | set(OPS)


def _prioritized(mapping: dict) -> dict:
    """Reorder a gate mapping so unverified/red gates come first."""
    return {n: mapping[n] for n in _gate_priority(list(mapping))}


def _ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship apitap_spark to executor Python workers via addPyFile.

    Functions used inside mapInPandas/foreachPartition pickle by reference
    to their module, so workers must be able to ``import apitap_spark``
    regardless of the driver's cwd/PYTHONPATH. A zip of the package is
    registered once per SparkContext.
    """
    sc = spark.sparkContext
    if id(sc) in _SHIPPED:
        return
    pkg_dir = os.path.join(_REPO_DIR, "apitap_spark")
    zpath = os.path.join(
        tempfile.gettempdir(), f"apitap_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                zf.write(full, os.path.relpath(full, _REPO_DIR))
    sc.addPyFile(zpath)
    _SHIPPED.add(id(sc))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    TPC-H Q3-style shipping priority: 3-way join → decimal-exact revenue
    aggregation → top-k. Exercises scan, broadcast join, partial agg and
    TakeOrderedAndProject in one plan.
    """
    _ensure_workers_can_import(spark)
    from apitap_spark.plans.relational import q3_shipping_priority

    return q3_shipping_priority(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from apitap_spark.operators import QUERIES as OPS
    from apitap_spark.plans import QUERIES as REL

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ensure_workers_can_import(spark)
            return fn(spark, sf_dir)

        run.__name__ = getattr(fn, "__name__", "query")
        run.__doc__ = fn.__doc__
        return run

    return _prioritized({name: _wrap(fn) for name, fn in {**REL, **OPS}.items()})


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each queries() key."""
    from apitap_spark.operators import ORACLES as OPS
    from apitap_spark.plans import ORACLES as REL

    return _prioritized({**REL, **OPS})
