"""Physical-plan assertions: the scale properties claimed in docstrings must
actually appear in the executed plans (pushdown, pruning, broadcast, partial
aggregation, top-k). Guards against regressions that stay correct but stop
scaling."""

from __future__ import annotations

import pytest


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _node_names(df) -> list[str]:
    """Physical operator names of ``df``'s plan, read off the JVM plan
    tree (through the adaptive wrapper) instead of explain() text."""
    names = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        names.append(node.nodeName())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return names


def test_q6_pushdown_and_pruning(spark, sf_dir):
    from apitap_spark.plans.relational import q6_revenue_forecast

    p = _plan(q6_revenue_forecast(spark, sf_dir))
    assert "PushedFilters:" in p
    assert "GreaterThanOrEqual(l_shipdate" in p  # predicate reached the scan
    assert "LessThan(l_quantity,24.0)" in p
    # column pruning: scan reads only the 4 needed columns
    assert "l_orderkey" not in p.split("ReadSchema")[1].split("\n")[0]
    assert "partial_sum" in p  # map-side combine before the shuffle


def test_q3_broadcasts_dimensions(spark, sf_dir):
    from apitap_spark.plans.relational import q3_shipping_priority

    p = _plan(q3_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p  # ordered LIMIT never globally sorts


def test_q5_single_shuffle_join_among_broadcasts(spark, sf_dir):
    from apitap_spark.plans.relational import q5_region_revenue

    p = _plan(q5_region_revenue(spark, sf_dir))
    # dims broadcast; the only SortMergeJoin/shuffle join allowed is
    # orders⋈lineitem (and AQE may demote even that to broadcast at sf0.001)
    assert p.count("BroadcastHashJoin") >= 4


def test_q1_partial_aggregation(spark, sf_dir):
    from apitap_spark.plans.relational import q1_pricing_summary

    p = _plan(q1_pricing_summary(spark, sf_dir))
    assert "partial_sum" in p and "partial_count" in p


def test_window_topn_group_limit(spark, sf_dir):
    from apitap_spark.plans.relational import q_window_topn_per_group

    p = _plan(q_window_topn_per_group(spark, sf_dir))
    # Spark 3.5+/4.x inserts WindowGroupLimit so only rk<=3 rows survive the sort
    assert "WindowGroupLimit" in p


def test_ann_topk_broadcasts_queries(spark, sf_dir):
    # asserted on the lazy builder — the gate returns the pinned memo
    from apitap_spark.operators.similarity import _cosine_topk_build

    p = _plan(_cosine_topk_build(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_ann_topk_memo_survives_release_persisted(spark, sf_dir):
    """The audit gates read the memoized exact/LSH top-k between
    release_persisted sweeps — pinned blocks must survive."""
    from apitap_spark.operators.similarity import (
        clear_ann_frame_caches,
        op_ann_cosine_topk,
        op_ann_mrr_audit,
    )
    from apitap_spark.session import release_persisted

    clear_ann_frame_caches()
    release_persisted(spark)
    a = op_ann_cosine_topk(spark, sf_dir)
    assert a is op_ann_cosine_topk(spark, sf_dir)
    n = a.count()
    release_persisted(spark)
    assert a.count() == n
    assert op_ann_mrr_audit(spark, sf_dir).count() > 0
    clear_ann_frame_caches()
    assert release_persisted(spark) >= 0


def _frames(value):
    from pyspark.sql import DataFrame

    parts = value if isinstance(value, tuple) else (value,)
    return [v for v in parts if isinstance(v, DataFrame)]


def test_pinned_memos_survive_release_persisted(spark, sf_dir):
    """Every pinned memo family is read by later gates across the bench
    loop's between-gate sweep (clearCache + release_persisted): the
    pinned blocks must survive it (unpinned, the second gate dies with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — reproduced in the r8 bench),
    the second lookup must return the same object, and clear_memos()
    must make every block sweepable again."""
    from apitap_spark.operators import bpe, dedup, graph, similarity
    from apitap_spark.session import (
        _MEMO,
        _persistent_rdd_ids,
        clear_memos,
        context_key,
        release_persisted,
    )

    table = [  # (memo key, accessor)
        (("coactivity_edges", sf_dir, graph.TRI_NEXT_K),
         lambda: graph.coactivity_edges_cached(spark, sf_dir)),
        (("lp_labels", sf_dir), lambda: graph.lp_labels_cached(spark, sf_dir)),
        (("wedge_stats", sf_dir), lambda: graph._wedge_stats(spark, sf_dir)),
        (("df_capped_shingles", sf_dir),
         lambda: dedup._df_capped_shingles(spark, sf_dir)),
        (("exact_pairs_02", sf_dir),
         lambda: dedup.exact_pairs_cached(spark, sf_dir)),
        (("minhash_lsh_pairs", sf_dir),
         lambda: dedup.lsh_pairs_cached(spark, sf_dir)),
        (("minhash_buckets", sf_dir),
         lambda: dedup.minhash_buckets_cached(spark, sf_dir)),
        (("exact_topk", sf_dir),
         lambda: similarity.op_ann_cosine_topk(spark, sf_dir)),
        (("lsh_topk", sf_dir),
         lambda: similarity.op_ann_lsh_bucketed(spark, sf_dir)),
        (("pq_build", sf_dir), lambda: similarity.pq_build_cached(spark, sf_dir)),
        (("bpe_final_vocab", sf_dir), lambda: bpe.learned_bpe(spark, sf_dir)),
    ]
    clear_memos()
    release_persisted(spark)
    ctx = context_key(spark)
    pinned: set[int] = set()
    for key, gate in table:
        first = gate()
        ids = _MEMO[(ctx, *key)][1]
        assert ids, f"{key} pinned no blocks"
        pinned |= ids
        counts = [f.count() for f in _frames(first)]
        spark.catalog.clearCache()
        release_persisted(spark)  # the between-gate sweep
        assert ids <= _persistent_rdd_ids(spark), f"{key} blocks swept"
        second = gate()
        assert second is first, f"{key} rebuilt instead of hitting"
        assert [f.count() for f in _frames(second)] == counts
    clear_memos()
    release_persisted(spark)
    assert not (pinned & _persistent_rdd_ids(spark))


def test_exact_dedup_is_single_shuffle(spark, sf_dir):
    import re

    from apitap_spark.operators.dedup import op_dedup_exact

    p = _plan(op_dedup_exact(spark, sf_dir))
    # one hash shuffle on the digest (formatted output names each op once
    # in the tree and once in detail — count the detail headers)
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1
    assert "partial_min" in p or "partial_count" in p


def test_multimodal_no_shuffle(spark, sf_dir):
    from apitap_spark.operators.multimodal import op_multimodal_features

    p = _plan(op_multimodal_features(spark, sf_dir))
    assert "Exchange" not in p  # narrow pipeline: scan → project → mapInPandas


@pytest.mark.parametrize(
    "qname",
    ["q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue"],
)
def test_whole_stage_codegen_present(spark, sf_dir, qname):
    """The hot path stays inside whole-stage codegen (no Python, no
    interpreted expressions)."""
    import contextlib
    import io

    import apitap_spark.plans.relational  # noqa: F401  (registers the gates)
    from apitap_spark.registry import QUERIES

    spark.conf.set("spark.sql.adaptive.enabled", "false")  # AQE defers codegen
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            QUERIES[qname](spark, sf_dir).explain("codegen")
        assert "WholeStageCodegen subtrees" in buf.getvalue()
        assert "Found 0" not in buf.getvalue()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")

def test_q8_dims_broadcast_no_cartesian(spark, sf_dir):
    from apitap_spark.plans.relational4 import q8_market_share

    p = _plan(q8_market_share(spark, sf_dir))
    # 5 dimension joins broadcast; never a cartesian product
    assert p.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in p


def test_q4_semi_join_with_date_pushdown(spark, sf_dir):
    from apitap_spark.plans.relational4 import q4_order_priority

    p = _plan(q4_order_priority(spark, sf_dir))
    assert "LeftSemi" in p
    assert "GreaterThanOrEqual(o_orderdate" in p  # window filter at the scan


def test_q21_single_lineitem_shuffle_family(spark, sf_dir):
    from apitap_spark.plans.relational4 import q21_waiting_supplier

    p = _plan(q21_waiting_supplier(spark, sf_dir))
    # the aggregate rewrite must not reintroduce a cartesian or
    # nested-loop self-join
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_cosine_dedup_is_tiled_mapinpandas(spark, sf_dir):
    from apitap_spark.operators.similarity import op_dedup_embedding_cosine

    p = _plan(op_dedup_embedding_cosine(spark, sf_dir))
    # blocked kernel: tiles scored in Python batches, not a per-pair join
    assert "MapInPandas" in p or "PythonMapInArrow" in p


def test_split_is_pure_projection(spark, sf_dir):
    from apitap_spark.operators.sampling import op_split_train_valid_test

    p = _plan(op_split_train_valid_test(spark, sf_dir))
    assert "Exchange" not in p  # membership is row-local: no shuffle


def test_asof_join_single_shuffle(spark, sf_dir):
    import re

    from apitap_spark.operators.temporal import op_asof_join_attribution

    p = _plan(op_asof_join_attribution(spark, sf_dir))
    # both sides co-partition on user_id: window + pre-agg reuse the
    # same exchange; no join operator at all in the plan
    assert "Join" not in p
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 2


def test_mode_median_windows_only_aggregated_input(spark, sf_dir):
    from apitap_spark.plans.relational5 import q_mode_median_price

    p = _plan(q_mode_median_price(spark, sf_dir))
    # both the mode rank and the median cumulative count must window the
    # pre-aggregated (priority, price, cnt) relation, never the raw
    # 5-partition orders rows; the old row-level formulation tie-broke on
    # o_orderkey, so its presence means a full-table window crept back
    assert "o_orderkey" not in p
    # every Window sits above a HashAggregate output (cnt column present)
    assert "Window" in p


def test_dedup_clusters_distributed_no_collect(spark, sf_dir):
    """op_dedup_clusters must assign every doc a cluster and keep exactly
    one doc per cluster, using the distributed CC (no driver union-find)."""
    import inspect

    from apitap_spark.operators import dedup

    src = inspect.getsource(dedup.op_dedup_clusters)
    assert ".collect()" not in src  # unbounded pair list never hits the driver
    assert "connected_components" in src


def test_data_profile_single_scan(spark, sf_dir):
    """The column profile must cost exactly one scan + one aggregation —
    a per-column union would read a 100 TB table once per column."""
    from apitap_spark.operators.quality import op_data_profile

    p = _plan(op_data_profile(spark, sf_dir))
    assert p.count(") Scan parquet") == 1  # detail section: one real scan
    assert "partial" in p  # map-side combine before the single shuffle


def test_resample_single_raw_scan(spark, sf_dir):
    """Gap-fill grid (bounds + type list) derives from the checkpointed
    aggregate, so raw events are scanned exactly once."""
    from apitap_spark.plans.timeseries import q_resample_hourly_gapfill

    p = _plan(q_resample_hourly_gapfill(spark, sf_dir))
    # raw events were scanned once, at checkpoint time: the final plan
    # reads only the checkpointed aggregate (types x hours rows)
    assert ") Scan parquet" not in p
    assert "Scan ExistingRDD" in p
    assert "BroadcastHashJoin" in p  # grid joins the aggregate broadcast-side


def test_pack_sequences_partitioned_window(spark, sf_dir):
    """Packing must sort within shard partitions only — a global sort
    would serialize the corpus through one reducer."""
    from apitap_spark.operators.corpus import op_pack_sequences

    p = _plan(op_pack_sequences(spark, sf_dir))
    assert p.count(") Scan parquet") == 1
    assert "hashpartitioning(lang" in p  # shard-keyed shuffle
    assert "rangepartitioning" not in p  # no global ordering


def test_repetition_zero_shuffle(spark, sf_dir):
    """Repetition signals are per-doc array math — any Exchange means the
    corpus is being shuffled for a map-side computation."""
    from apitap_spark.operators.textclean import op_text_repetition

    p = _plan(op_text_repetition(spark, sf_dir))
    assert "Exchange" not in p


def test_contamination_broadcasts_benchmark(spark, sf_dir):
    """The benchmark gram set must broadcast — shuffling the corpus side
    against a benchmark of eval-set size is never right."""
    from apitap_spark.operators.corpus import op_contamination_ngram

    p = _plan(op_contamination_ngram(spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_passages_single_hash_exchange_no_join(spark, sf_dir):
    """The shared-window flag is a window aggregate over ONE wh exchange —
    the groupBy-df + join-back shape (second explode + second exchange)
    must not come back."""
    import re

    from apitap_spark.operators.dedup import op_dedup_passages

    p = _plan(op_dedup_passages(spark, sf_dir))
    assert "Join" not in p
    # one exchange for the wh window + one for the doc_id aggregate
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 2
    # the explode runs once, not per side (count detail headers)
    assert len(re.findall(r"^\(\d+\) Generate", p, re.M)) == 1


def test_tfidf_single_token_generate_and_group_limit(spark, sf_dir):
    """tf and df both derive from ONE exploded token stream; the per-doc
    top-k is a WindowGroupLimit (pruned before full sort)."""
    from apitap_spark.operators.textstats import op_text_tfidf_topterms

    p = _plan(op_text_tfidf_topterms(spark, sf_dir))
    assert "WindowGroupLimit" in p


def test_quota_sample_group_limit_no_extra_exchange(spark, sf_dir):
    """Quota = row_number filter → WindowGroupLimit prunes each source
    partition to the quota before the full window sort."""
    import re

    from apitap_spark.operators.sampling import op_source_quota_sample

    p = _plan(op_source_quota_sample(spark, sf_dir))
    assert "WindowGroupLimit" in p
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1


def test_fk_integrity_broadcasts_dimensions(spark, sf_dir):
    """Every parent side joins broadcast; no shuffle of the fact tables."""
    from apitap_spark.operators.quality import op_fk_integrity

    p = _plan(op_fk_integrity(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_shard_plan_two_phase_no_global_window_on_base(spark, sf_dir):
    """The corpus-sized cumulative sum runs in bucket-partitioned windows;
    the only unpartitioned work is the 64-row offsets aggregate, which
    broadcasts back (exactly one BroadcastExchange)."""
    import re

    from apitap_spark.operators.corpus import op_shard_plan

    p = _plan(op_shard_plan(spark, sf_dir))
    assert "hashpartitioning(bucket" in p  # phase-2 windows keyed by bucket
    assert len(re.findall(r"^\(\d+\) BroadcastExchange", p, re.M)) == 1
    # 3 shuffles total: bucket grouping, offsets ordering, local windows
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 3


def test_feature_snapshot_single_user_shuffle(spark, sf_dir):
    """Trailing windows are conditional aggregates against a broadcast
    cutoff — one user-keyed shuffle, no self-join; the cutoff pass scans
    only the pruned ts column (2 scans total, never per-window)."""
    import re

    from apitap_spark.operators.temporal import op_feature_snapshot

    p = _plan(op_feature_snapshot(spark, sf_dir))
    assert p.count(") Scan parquet") == 2  # cutoff probe + main pass
    assert len(re.findall(r"^\(\d+\) BroadcastExchange", p, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Exchange", p, re.M)) <= 2


def test_semantic_dedup_cell_join_no_cartesian(spark, sf_dir):
    """Round-10 shape (r10 ADVICE #5 re-pin): ALL per-cell pair work
    runs in ONE cluster-keyed Python kernel — no cartesian pair join
    anywhere, exactly one FlatMapGroupsInPandas, and nothing joins
    ABOVE the kernel (the only join left is the vec_id/assignment join
    feeding it)."""
    from apitap_spark.operators.similarity import op_semantic_dedup

    p = _plan(op_semantic_dedup(spark, sf_dir))
    assert "CartesianProduct" not in p
    # one kernel: the operator appears once in the numbered detail list
    assert p.count(") FlatMapGroupsInPandas") == 1
    # the kernel's output flows join-free to the gate projection: in the
    # formatted tree sketch (root-first), no join sits above the kernel
    sketch = p.split("\n\n")[0]
    above = sketch.split("FlatMapGroupsInPandas")[0]
    assert "Join" not in above
    # the assignment join below the kernel is keyed, and there is only it
    assert "Join" in p


def test_bpe_apply_tokens_broadcasts_vocab(spark, sf_dir):
    """The corpus-side join against the merged vocabulary must broadcast
    the vocab (distinct words), never shuffle the token stream."""
    from apitap_spark.operators.bpe import op_bpe_apply_tokens

    p = _plan(op_bpe_apply_tokens(spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_corpus_card_single_scan(spark, sf_dir):
    """Every card statistic rides one scan + one global aggregate."""
    from apitap_spark.operators.corpus import op_corpus_summary_card

    p = _plan(op_corpus_summary_card(spark, sf_dir))
    assert p.count(") Scan parquet") == 1
    assert "partial" in p  # map-side combine before the tiny shuffle


def test_recall_audit_broadcasts_probe_sides(spark, sf_dir):
    """Both audit inputs keep their probe sides broadcast — the exact
    kernel and the IVF cell probe each add no corpus-side cartesian."""
    from apitap_spark.operators.similarity import op_ann_recall_audit

    p = _plan(op_ann_recall_audit(spark, sf_dir))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    # the final intersection groups by q_id only — tiny aggregate
    assert "partial_count" in p


def test_silhouette_broadcasts_probes_single_pair_aggregate(spark, sf_dir):
    """Probe side broadcast (no corpus shuffle for the Q x N distance
    work); the only exchanges key on (q, cluster) aggregates."""
    from apitap_spark.operators.ml import op_kmeans_silhouette

    p = _plan(op_kmeans_silhouette(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "partial_sum" in p  # map-side combine of micro distances


def test_doc_novelty_single_gram_exchange(spark, sf_dir):
    """The df window computes document frequency in place — exactly one
    hashpartitioning on the gram column, no gram self-join."""
    from apitap_spark.operators.textstats import op_doc_novelty

    p = _plan(op_doc_novelty(spark, sf_dir))
    assert p.count("hashpartitioning(gram") == 1
    assert "SortMergeJoin" not in p


def test_script_profile_map_side_combine(spark, sf_dir):
    """Per-lang class counts partial-aggregate before the tiny lang
    shuffle — the whole pass is map-side at scale."""
    from apitap_spark.operators.textstats import op_text_script_profile

    p = _plan(op_text_script_profile(spark, sf_dir))
    assert "partial_sum" in p and "partial_count" in p
    assert p.count("Exchange") <= 2  # lang shuffle (+AQE read)


def test_unigram_shift_broadcasts_totals(spark, sf_dir):
    """Language totals broadcast to the shared-word join; the only big
    exchange keys on the word."""
    from apitap_spark.operators.corpus import op_unigram_shift

    p = _plan(op_unigram_shift(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "partial_sum" in p


def test_phash_no_shuffle(spark, sf_dir):
    """Perceptual hashing is a narrow mapInPandas — zero exchanges."""
    from apitap_spark.operators.multimodal import op_multimodal_phash

    p = _plan(op_multimodal_phash(spark, sf_dir))
    assert "Exchange" not in p
    assert "ArrowEvalPython" in p or "MapInPandas" in p or "PythonMapInArrow" in p


def test_leakage_audit_single_hash_shuffle(spark, sf_dir):
    """Both hashes are per-row projections; one head_hash aggregate."""
    from apitap_spark.operators.sampling import op_split_leakage_audit

    p = _plan(op_split_leakage_audit(spark, sf_dir))
    assert p.count("hashpartitioning(head_hash") == 1
    assert "SortMergeJoin" not in p


def test_centroid_drift_kxd_aggregates_only(spark, sf_dir):
    """Shuffles key on (label, pos)/(label) — k x d cardinality,
    corpus-size independent; the final join is label-keyed (k rows)."""
    from apitap_spark.operators.ml import op_embedding_centroid_drift

    p = _plan(op_embedding_centroid_drift(spark, sf_dir))
    assert "partial_sum" in p
    assert "CartesianProduct" not in p


def test_bloom_filter_broadcasts_and_probe_is_map_side(spark, sf_dir):
    """The <=m-row bit-position filter rides a BroadcastHashJoin; no
    cartesian anywhere."""
    from apitap_spark.operators.dedup import op_dedup_bloom_filter

    p = _plan(op_dedup_bloom_filter(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "partial_sum" in p  # per-source verdict is map-side combined


def test_gopher_rules_zero_shuffle(spark, sf_dir):
    """Pure per-doc projection: no Exchange at all."""
    from apitap_spark.operators.textclean import op_text_gopher_rules

    p = _plan(op_text_gopher_rules(spark, sf_dir))
    assert "Exchange" not in p
    assert "codegen id" in p  # rule columns stay inside whole-stage codegen


def test_skew_audit_takeordered_no_global_window_on_counts(spark, sf_dir):
    """Heavy hitters come from TakeOrdered over the count table, not a
    global window over every key."""
    from apitap_spark.operators.quality import op_skew_key_audit

    p = _plan(op_skew_key_audit(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p or "partial_sum" in p


def test_collocations_topk_and_partial_aggs(spark, sf_dir):
    """Unigram/bigram counts are map-side combined; top-K is
    TakeOrdered, never a global sort of the pair table."""
    from apitap_spark.operators.textstats import op_text_collocations_lift

    p = _plan(op_text_collocations_lift(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "partial_count" in p or "partial_sum" in p
    assert "CartesianProduct" not in p


def test_cms_sketch_fixed_cells_broadcast_probe(spark, sf_dir):
    """The 4096-cell sketch joins the probe rows via broadcast."""
    from apitap_spark.operators.textstats import op_text_heavy_hitters_cms

    p = _plan(op_text_heavy_hitters_cms(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p


def test_audio_vad_no_shuffle(spark, sf_dir):
    """Narrow mapInPandas: no Exchange in the plan."""
    from apitap_spark.operators.multimodal import op_multimodal_audio_vad

    p = _plan(op_multimodal_audio_vad(spark, sf_dir))
    assert "Exchange" not in p


def test_triangles_no_cartesian_oriented_joins(spark, sf_dir):
    """The 3-way triangle join is equi-keyed (SortMerge/Hash), never a
    cartesian; per-node counts are map-side combined. Asserted on the
    un-checkpointed helper — the gate's localCheckpoint truncates the
    visible plan (round-5: checkpointing pernode is what makes the
    triangle join enumerate once instead of twice)."""
    from apitap_spark.operators.graph import (
        op_graph_triangles,
        tri_pernode_counts,
    )

    ph = _plan(tri_pernode_counts(spark, sf_dir))
    assert "CartesianProduct" not in ph
    assert "partial_count" in ph
    p = _plan(op_graph_triangles(spark, sf_dir))
    assert "CartesianProduct" not in p


def test_coactivity_edges_window_only_no_join(spark, sf_dir):
    """The shared co-activity edge builder (feeds triangles, degree
    profile, link prediction, BFS) must be a lead() window over the
    bucket-partitioned frame — never the rank-difference self-join,
    which enumerates |g|^2 rank pairs per (hour, event_type) bucket
    before filtering (round-6 verdict's main 100x-scale hazard)."""
    from apitap_spark.operators.graph import coactivity_edges

    for k in (1, 2):
        p = _plan(coactivity_edges(spark, sf_dir, k))
        assert "Join" not in p, f"k={k}: edge construction must not join"
        assert "Window" in p


def test_dim_profile_single_dim_keyed_aggregate(spark, sf_dir):
    """One explode + one d-keyed aggregate with map-side combine."""
    from apitap_spark.operators.quality import op_embedding_dim_profile

    p = _plan(op_embedding_dim_profile(spark, sf_dir))
    assert "partial_min" in p or "partial_sum" in p
    assert p.count("Exchange hashpartitioning") <= 1


def test_decode_roundtrip_broadcasts_id_table(spark, sf_dir):
    """The vocabulary-sized inverted id table rides a broadcast join."""
    from apitap_spark.operators.bpe import op_bpe_decode_roundtrip

    p = _plan(op_bpe_decode_roundtrip(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_runtime_bloom_filter_injection_on_selective_join(spark, sf_dir):
    """Catalyst's runtime-filter rule injects a bloom_filter_agg on the
    selective dimension side and a might_contain probe into the fact
    scan's filter when the join is too big to broadcast — the mechanism
    that prunes most of a 100 TB fact scan before the shuffle. Verified
    live with thresholds lowered to make the small test tables eligible
    (confs restored afterwards)."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        p = _plan(j)
        assert "might_contain" in p
        assert "bloom_filter_agg" in p
        assert "partial_bloom_filter_agg" in p  # map-side sketch build
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_qualify_rewrite_window_group_limit(spark, sf_dir):
    """The QUALIFY rewrite must compile to WindowGroupLimit (per-group
    top-k pruned below the window sort), with the date filter pushed
    to the scan."""
    from apitap_spark.plans.relational6 import q_qualify_clause

    p = _plan(q_qualify_clause(spark, sf_dir))
    assert "WindowGroupLimit" in p
    assert "PushedFilters:" in p and "o_orderdate" in p.split("PushedFilters:")[1].split("\n")[0]


def test_named_window_single_window_exchange(spark, sf_dir):
    """All three functions over the shared named window definition must
    ride ONE hash exchange on o_custkey (no per-function re-shuffle)."""
    import re

    from apitap_spark.plans.relational6 import q_window_named

    p = _plan(q_window_named(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1


def test_higher_order_array_jvm_only(spark, sf_dir):
    """Lambda HOFs must stay JVM-side (no Python eval node) with
    map-side partial aggregation for the collect_list."""
    from apitap_spark.plans.relational6 import q_higher_order_array

    p = _plan(q_higher_order_array(spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "partial_collect_list" in p or "ObjectHashAggregate" in p
    # the l_orderkey filter prunes BEFORE the aggregation shuffle
    assert "PushedFilters:" in p and "l_orderkey" in p.split("PushedFilters:")[1].split("\n")[0]


def test_map_functions_jvm_only(spark, sf_dir):
    """MAP construction/lookups are Catalyst expressions — no Python."""
    from apitap_spark.plans.relational6 import q_map_functions

    p = _plan(q_map_functions(spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_ewma_single_window_pass(spark, sf_dir):
    """The 16-tap kernel must evaluate in ONE Window operator (one sort
    per event_type), not 16 self-joins; bucketing pre-aggregates
    map-side."""
    from apitap_spark.plans.timeseries import q_ewma_smoothing

    p = _plan(q_ewma_smoothing(spark, sf_dir))
    import re

    assert p.count("Window") - p.count("WindowGroupLimit") >= 1
    assert "partial_sum" in p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) <= 2  # groupBy + window


def test_bm25_topk_take_ordered(spark, sf_dir):
    """BM25 global top-k is TakeOrderedAndProject (distributed heads +
    driver merge — never a global-partition window over all scored
    docs); df side broadcasts; everything stays JVM-side."""
    from apitap_spark.operators.textstats import op_text_bm25_topk

    p = _plan(op_text_bm25_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p


def test_knn_graph_mutual_broadcast_over_checkpointed_edges(spark, sf_dir):
    """The mutual flag joins the checkpointed N*k edge list against its
    broadcast reverse — the visible plan is exactly [checkpoint scan +
    BroadcastHashJoin LeftOuter], proving no second pairwise pass (the
    localCheckpoint truncates the scoring lineage, so any pairwise
    re-execution would surface as a join/window above the scan)."""
    from apitap_spark.operators.similarity import op_embedding_knn_graph

    p = _plan(op_embedding_knn_graph(spark, sf_dir))
    assert "BroadcastHashJoin" in p and "LeftOuter" in p
    assert "WindowGroupLimit" not in p  # ranking happened pre-checkpoint


def test_quantile_binning_windows_over_distinct_values_not_corpus(spark, sf_dir):
    """The discrete-quantile pattern: the only Window runs over the
    DISTINCT-value cumulative-count table (cardinality bounded by the
    pre-discretized value range), never an NTILE over the corpus rows —
    a corpus-sized single-partition global sort is the anti-pattern."""
    from apitap_spark.operators.features import op_quantile_binning

    p = _plan(op_quantile_binning(spark, sf_dir))
    assert "ntile" not in p.lower()
    # the corpus-side work is aggregates (map-side combined), and any
    # window sits above a value-keyed aggregate, not the raw scan
    assert "partial_count" in p or "partial_sum" in p


def test_knn_label_accuracy_constant_bounded_sample(spark, sf_dir):
    """The kNN audit's pair scoring is one Arrow-batched NumPy pass of
    the constant-bounded query sample over each corpus partition
    (round-10: replaced the broadcast theta join whose interpreted HOF
    dot fold dominated the gate); per-query top-k still rides
    WindowGroupLimit. The corpus side is NEVER shuffled before the
    kernel — the MapInPandas node sits directly on the checkpointed
    scan."""
    from apitap_spark.operators.similarity import op_knn_label_accuracy

    p = _plan(op_knn_label_accuracy(spark, sf_dir))
    assert "MapInPandas" in p  # Arrow-batched exact kernel
    assert "WindowGroupLimit" in p  # per-query top-k pushed into sort
    assert "BroadcastNestedLoopJoin" not in p  # theta join replaced


def test_dpo_pairs_two_window_sorts_one_partitioning(spark, sf_dir):
    """Both rankings partition by the same (lang, source) keys: one hash
    exchange feeds both Window sorts; the pairing join is broadcast."""
    from apitap_spark.operators.sampling import op_sample_dpo_pairs

    p = _plan(op_sample_dpo_pairs(spark, sf_dir))
    assert "BatchEvalPython" not in p
    assert "BroadcastHashJoin" in p


def test_rfm_collapses_before_global_sorts(spark, sf_dir):
    """RFM: orders collapse to customer cardinality (partial agg) before
    the NTILE sorts; the scalar ref date broadcasts."""
    from apitap_spark.plans.relational6 import q_rfm_segmentation

    p = _plan(q_rfm_segmentation(spark, sf_dir))
    assert "partial_" in p  # map-side combine on the customer groupBy
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_basket_rules_broadcast_item_counts(spark, sf_dir):
    """Basket rules: the pair self-join shuffles on the basket key once;
    item counts and the rule join sides broadcast."""
    from apitap_spark.operators.ml import op_basket_association_rules

    p = _plan(op_basket_association_rules(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p


def test_twap_one_sort_reused_by_groupby(spark, sf_dir):
    """TWAP: the lead() window and the groupBy share the event_type
    hash partitioning — exactly one exchange in the plan."""
    import re

    from apitap_spark.plans.timeseries import q_time_weighted_avg

    p = _plan(q_time_weighted_avg(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
    assert "partial_" in p  # final agg still partial/final


def test_cusum_single_window_sort(spark, sf_dir):
    """CUSUM: running sum + running min share ONE Window sort per
    event_type; per-type scalars broadcast."""
    from apitap_spark.plans.timeseries import q_cusum_changepoint

    p = _plan(q_cusum_changepoint(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p


def test_ab_chi2_single_scan_single_aggregate(spark, sf_dir):
    """Chi-square A/B: one scan, one partial/final aggregate, all four
    cells as conditional sums — no joins, no Python."""
    import re

    from apitap_spark.plans.relational6 import q_ab_test_chi2

    p = _plan(q_ab_test_chi2(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
    assert "Join" not in p and "BatchEvalPython" not in p


def test_tcloseness_grid_broadcasts(spark, sf_dir):
    """t-closeness: everything after the (QI, sensitive) count is
    broadcast-sized — the grid joins must all be broadcast."""
    from apitap_spark.operators.quality import op_tcloseness_audit

    p = _plan(op_tcloseness_audit(spark, sf_dir))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "SortMergeJoin" not in p


def test_mahalanobis_takeordered_no_global_window(spark, sf_dir):
    """Mahalanobis outliers: stats ride one aggregate, the fold is
    JVM-side, and the top-K is TakeOrderedAndProject (never a
    global-partition window over all vectors)."""
    from apitap_spark.operators.quality import (
        op_embedding_outliers_mahalanobis,
    )

    p = _plan(op_embedding_outliers_mahalanobis(spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p


def test_markov_window_and_matrix_broadcast(spark, sf_dir):
    """Markov: one window sort per user; the transition matrix joins
    its row totals broadcast; no Python."""
    from apitap_spark.operators.temporal import op_markov_transitions

    p = _plan(op_markov_transitions(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p


def test_journey_paths_window_group_limit(spark, sf_dir):
    """Journey paths: the first-N truncation must prune below the
    per-user window sort (WindowGroupLimit), and the top-K is
    TakeOrdered."""
    from apitap_spark.operators.temporal import op_journey_paths

    p = _plan(op_journey_paths(spark, sf_dir))
    assert "WindowGroupLimit" in p
    assert "TakeOrderedAndProject" in p


def test_seasonal_anomaly_broadcast_slots(spark, sf_dir):
    """Seasonal anomaly: (type, hod) stats join back broadcast onto the
    checkpointed hourly frame; the gate is division-free (no doubles
    in the projection)."""
    from apitap_spark.plans.timeseries import q_seasonal_anomaly

    p = _plan(q_seasonal_anomaly(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p


def test_linear_trend_single_moment_aggregate(spark, sf_dir):
    """OLS trend: the five moments ride ONE partial/final aggregate
    after the per-type MIN window."""
    from apitap_spark.operators.ml import op_ml_linear_trend

    p = _plan(op_ml_linear_trend(spark, sf_dir))
    assert "partial_sum" in p
    assert "Join" not in p  # recentering is a window, never a self-join


def test_ks_window_on_distinct_values_only(spark, sf_dir):
    """KS: the ECDF window sorts the per-(type, value) collapsed frame,
    with map-side partial counts before it; totals broadcast."""
    from apitap_spark.operators.ml import op_ab_test_ks

    p = _plan(op_ab_test_ks(spark, sf_dir))
    assert "partial_sum" in p
    assert "BroadcastHashJoin" in p


def test_cohort_ltv_broadcast_sizes(spark, sf_dir):
    """Cohort LTV: cohort sizes and the (cohort, age) matrix stay
    broadcast-sized after the orders groupBys."""
    from apitap_spark.plans.relational6 import q_cohort_ltv

    p = _plan(q_cohort_ltv(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "partial_" in p


def test_benford_single_scan(spark, sf_dir):
    """Benford: one scan, a 9-group aggregate, a broadcast scalar —
    nothing else."""
    import re

    from apitap_spark.operators.quality import op_benford_audit

    p = _plan(op_benford_audit(spark, sf_dir))
    assert p.count(") Scan parquet") == 1
    assert "BatchEvalPython" not in p


def test_erasure_direct_tables_no_join(spark, sf_dir):
    """Erasure audit: the three direct tables are conditional aggregates
    over their own scans (modular predicate, no set materialization);
    only the cascade hop joins."""
    from apitap_spark.operators.quality import op_erasure_impact

    p = _plan(op_erasure_impact(spark, sf_dir))
    assert p.count(") Scan parquet") >= 4  # events/customer/orders/lineitem
    assert "BatchEvalPython" not in p


def test_logreg_auc_global_window_scoped_to_audit_frame(spark, sf_dir):
    """op_ml_logreg_eval_auc's global rank window is documented as
    audit-sample-only (ml.py: 'run the eval on the audit sample (as
    here), not the full corpus'). Two guards so a refactor can't
    silently send a corpus-sized frame through the unpartitioned sort:

    1. plan: no Generate (explode) node — the window input stays one
       row per document, never per-token/per-pair multiplication;
    2. row count: rows entering the window (n_pos + n_neg in the
       1-row output) equal the bounded audit frame exactly — the
       non-empty-text documents of the SF under test.
    """
    import pyspark.sql.functions as F

    from apitap_spark.operators.ml import op_ml_logreg_eval_auc
    from apitap_spark.session import read_table

    df = op_ml_logreg_eval_auc(spark, sf_dir)
    p = _plan(df)
    assert "Generate" not in p  # no explode upstream of the global window
    # the global sort is the rank window's single partition; formatted
    # explain keeps Exchange arguments in the details section, so count
    # SinglePartition argument lines rather than inline node text
    assert p.count("Arguments: SinglePartition") == 1

    row = df.collect()[0]
    audit_rows = (
        read_table(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .count()
    )
    assert row["n_pos"] + row["n_neg"] == audit_rows


def test_target_encoding_broadcasts_stats_no_fact_shuffle_join(spark, sf_dir):
    """LOO target encoding: category stats and the global mean come back
    onto the fact scan as broadcasts — the fact table itself is never
    shuffle-joined (docstring: 'encoding 100 TB costs one scan plus two
    kilobyte-scale broadcasts')."""
    from apitap_spark.operators.features import op_target_encoding

    p = _plan(op_target_encoding(spark, sf_dir))
    assert "BroadcastHashJoin" in p  # per-category stats
    assert "SortMergeJoin" not in p  # fact side never shuffle-joined
    assert "partial_sum" in p  # stats aggregate map-side combines


def test_bootstrap_ci_expansion_jvm_side_with_partial_agg(spark, sf_dir):
    """Poisson bootstrap: the xB expansion is a JVM-side Generate and the
    resample means partial-aggregate before the shuffle — the shuffle
    carries B x |sources| rows, never the expanded corpus."""
    from apitap_spark.operators.features import op_bootstrap_ci_mean

    p = _plan(op_bootstrap_ci_mean(spark, sf_dir))
    assert "Generate" in p  # the xB expansion is a JVM-side explode
    assert "partial_sum" in p
    assert "BatchEvalPython" not in p


def test_kanonymity_single_scan_partial_agg(spark, sf_dir):
    """k-anonymity: one map-side-combined aggregate over the
    quasi-identifier pair — the audit costs exactly the scan."""
    from apitap_spark.operators.quality import op_kanonymity_audit

    p = _plan(op_kanonymity_audit(spark, sf_dir))
    assert p.count(") Scan parquet") == 1
    assert "partial_count" in p
    assert "BatchEvalPython" not in p


def test_training_shuffle_single_pass_over_pack_chain(spark, sf_dir):
    """Seeded shard assignment is hash-mod, not rank: relative to the
    upstream pack chain it may add exactly ONE window and ONE
    single-partition exchange — both over the S-row shard aggregate,
    never the packed corpus. Round-5 plan audit caught the previous
    agg-then-crossJoin formulation materializing the whole
    learn->encode->pack chain twice (2x Window/Generate nodes)."""
    import re

    from apitap_spark.operators.bpe import (
        op_bpe_pack_training_rows,
        op_training_shuffle_plan,
    )

    def facts(df):
        p = _plan(df)
        return (
            len(re.findall(r"^\(\d+\) Window", p, re.M)),
            p.count("Arguments: SinglePartition"),
            len(re.findall(r"^\(\d+\) Generate", p, re.M)),
        )

    pack_win, pack_single, pack_gen = facts(
        op_bpe_pack_training_rows(spark, sf_dir)
    )
    shuf_win, shuf_single, shuf_gen = facts(
        op_training_shuffle_plan(spark, sf_dir)
    )
    assert shuf_win == pack_win + 1  # the S-row token-share window
    assert shuf_single == pack_single + 1  # its bounded exchange
    assert shuf_gen == pack_gen  # pack chain materialized exactly once


def test_wordpiece_encode_jvm_side(spark, sf_dir):
    """WordPiece greedy longest-match runs in Catalyst expressions, not a
    Python UDF — the hot tokenizer path stays inside codegen."""
    from apitap_spark.operators.bpe import op_wordpiece_encode

    p = _plan(op_wordpiece_encode(spark, sf_dir))
    assert "BatchEvalPython" not in p


# --- round-6 operators ------------------------------------------------------


def test_rp_sketch_no_shuffle_pure_projection(spark, sf_dir):
    """The JL sketch is one narrow per-row pass: no Exchange of any
    kind, and since round 11 the projection runs as ONE Arrow kernel
    (NumPy int64 matmul) instead of 16 interpreted zip_with/aggregate
    folds — exactly one MapInPandas, no row-at-a-time Python."""
    from apitap_spark.operators.similarity import op_embedding_rp_sketch

    df = op_embedding_rp_sketch(spark, sf_dir)
    p = _plan(df)
    assert "Exchange" not in p
    assert _node_names(df).count("MapInPandas") == 1
    assert "BatchEvalPython" not in p


def test_histogram_drift_single_scan_partial_agg(spark, sf_dir):
    """One parquet scan feeds the checkpointed (source, bucket) aggregate;
    everything downstream is aggregate-cardinality."""
    from apitap_spark.operators.quality import op_histogram_drift_l1

    p = _plan(op_histogram_drift_l1(spark, sf_dir))
    # the visible plan starts above the checkpoint: no second corpus scan
    assert p.count("Scan parquet") == 0  # all inputs are the tiny RDD
    assert "partial_" in p or "HashAggregate" in p


def test_substring_spans_semi_join_keyed_by_gram(spark, sf_dir):
    """Candidate generation is gram-keyed (groupBy + join back), with
    map-side combine; no cartesian anywhere."""
    from apitap_spark.operators.dedup import op_dedup_substring_spans

    p = _plan(op_dedup_substring_spans(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "partial_" in p  # distinct-doc count combines map-side


def test_gini_split_constant_size_shuffle(spark, sf_dir):
    """The (dim, threshold) aggregate is map-side combined, so the shuffle
    carries GINI_DIMS x |grid| rows regardless of corpus size."""
    from apitap_spark.operators.ml import op_gini_best_split

    p = _plan(op_gini_best_split(spark, sf_dir))
    assert "partial_count" in p or "partial_sum" in p
    assert "CartesianProduct" not in p


def test_knn_kernel_partition_local(spark, sf_dir):
    """The query sample scores against the corpus inside the Arrow
    kernel (never a corpus x corpus shuffle join; the only exchange is
    the q_id-keyed window above the kernel) and top-k rides
    WindowGroupLimit."""
    from apitap_spark.operators.similarity import op_knn_label_accuracy

    p = _plan(op_knn_label_accuracy(spark, sf_dir))
    assert "MapInPandas" in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "WindowGroupLimit" in p


def test_int8_quantization_audit_broadcasts_dim_stats(spark, sf_dir):
    """The per-dim min/max table (d rows) rides a broadcast back over
    the exploded frame — never a corpus-sized shuffle join — and both
    aggregates are map-side combined."""
    from apitap_spark.operators.similarity import (
        op_embedding_int8_quantization_audit,
    )

    p = _plan(op_embedding_int8_quantization_audit(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "partial_min" in p or "partial_max" in p


def test_bloom_prefilter_no_cartesian_and_counter_output(spark, sf_dir):
    """The bitmap stays a distributed position set probed by a keyed
    join: the only crossJoins are the broadcast 1-row params frame, and
    no CartesianProduct appears anywhere."""
    from apitap_spark.operators.dedup import op_dedup_bloom_prefilter

    p = _plan(op_dedup_bloom_prefilter(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # the 1-row params attach


def test_kfold_windows_over_cell_aggregate_not_corpus(spark, sf_dir):
    """The share windows run over the k x |lang| cell aggregate (25
    rows), never the document table: exactly one corpus-keyed exchange
    (the fold/lang groupBy with map-side combine) below the windows."""
    from apitap_spark.operators.sampling import op_stratified_kfold_assignment

    p = _plan(op_stratified_kfold_assignment(spark, sf_dir))
    assert "partial_count" in p
    assert p.count("Window") >= 1
    # single corpus aggregate; everything above operates on 25 rows
    assert p.count("partial_count") == 1


# --- round 8 operators -------------------------------------------------------


def test_psi_drift_grid_is_broadcast_above_checkpoint(spark, sf_dir):
    """The (source, bucket) aggregate is checkpointed; the smoothed-share
    grid is broadcast crossJoins over it — no corpus re-scan, no
    CartesianProduct, and the final per-source reduce combines map-side."""
    from apitap_spark.operators.quality import op_psi_drift

    p = _plan(op_psi_drift(spark, sf_dir))
    assert p.count("Scan parquet") == 0  # all inputs are the tiny RDD
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "partial_sum" in p


def test_mutual_information_single_row_over_grid(spark, sf_dir):
    """Contingency checkpointed once; marginals/total/terms all ride
    broadcast joins over it; output is one row."""
    from apitap_spark.operators.quality import op_mutual_information

    p = _plan(op_mutual_information(spark, sf_dir))
    assert p.count("Scan parquet") == 0
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_mmr_bounded_kernel_over_broadcast_candidates(spark, sf_dir):
    """Queries attach by broadcast, the candidate pool is WindowGroupLimit-
    pruned to MMR_C per query, and the greedy loop runs as one Arrow
    grouped-map kernel — never a corpus-sized pairwise join."""
    from apitap_spark.operators.similarity import op_mmr_diversity_rerank

    p = _plan(op_mmr_diversity_rerank(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "WindowGroupLimit" in p
    assert "FlatMapGroupsInPandas" in p
    assert "CartesianProduct" not in p


def test_naive_bayes_no_cartesian_model_joins(spark, sf_dir):
    """Scoring joins ride the token key; the language fan-out is the
    broadcast prior/fallback frames (constant rows); counts combine
    map-side."""
    from apitap_spark.operators.ml import op_ml_naive_bayes_lang

    p = _plan(op_ml_naive_bayes_lang(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "partial_count" in p or "partial_sum" in p


def test_zipf_fit_one_scan_one_vocab_shuffle(spark, sf_dir):
    """One parquet scan feeds the vocab aggregate (map-side combined);
    Catalyst rewrites the top-R rank window into TakeOrderedAndProject
    (partial top-k per partition — never a single-partition sort of the
    vocabulary), and the regression is a single-row aggregate."""
    import re

    from apitap_spark.operators.textstats import op_text_zipf_fit

    p = _plan(op_text_zipf_fit(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Scan parquet", p, re.M)) == 1
    assert "partial_count" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_adaboost_constant_size_shuffles_broadcast_h1(spark, sf_dir):
    """Both rounds' (dim, threshold) aggregates combine map-side to a
    constant-size shuffle; h1's parameters attach by broadcast; no
    cartesian anywhere."""
    from apitap_spark.operators.ml import op_ml_adaboost_stump_round

    p = _plan(op_ml_adaboost_stump_round(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "partial_sum" in p


def test_assortativity_exact_sums_over_checkpointed_edges(spark, sf_dir):
    """Edges and degrees are checkpointed (visible plan has no parquet
    scan); the endpoint-degree attach is a keyed join, and the
    correlation is one single-row aggregate with map-side combine."""
    from apitap_spark.operators.graph import op_graph_assortativity

    p = _plan(op_graph_assortativity(spark, sf_dir))
    assert p.count("Scan parquet") == 0
    assert "CartesianProduct" not in p
    assert "partial_sum" in p


def test_boilerplate_prefix_no_explode_windowgrouplimit(spark, sf_dir):
    """The prefix is an array slice + join (no per-token explode); the
    per-source top-1 rides WindowGroupLimit over the checkpointed
    (source, prefix) aggregate."""
    from apitap_spark.operators.textstats import op_text_boilerplate_prefix

    p = _plan(op_text_boilerplate_prefix(spark, sf_dir))
    assert p.count("Scan parquet") == 0  # aggregate is checkpointed
    assert "WindowGroupLimit" in p
    assert "Generate" not in p  # no explode anywhere above the checkpoint


def test_kcore_edge_build_stays_window_only(spark, sf_dir):
    """op_graph_kcore_peel reuses the lead()-window edge builder; its
    result is a local trajectory table (the heavy lifting ran as bounded
    rounds of broadcast semi-joins during construction)."""
    from apitap_spark.operators.graph import op_graph_kcore_peel

    df = op_graph_kcore_peel(spark, sf_dir)
    assert df.columns == ["peel_round", "k", "survivors", "edges_remaining"]
    p = _plan(df)
    assert "Join" not in p  # trajectory rows are already materialized


def test_token_budget_windows_over_source_aggregate(spark, sf_dir):
    """Every window runs over the checkpointed source-cardinality frame
    (no parquet rescan above the checkpoint); the capped-set reduce is a
    broadcast 1-row join; nothing cartesian."""
    from apitap_spark.operators.planning import op_token_budget_epochs

    p = _plan(op_token_budget_epochs(spark, sf_dir))
    assert p.count("Scan parquet") == 0  # corpus scanned once, below ckpt
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    # the source-cardinality windows sit BELOW the flagged checkpoint
    # (truncated from this plan — tri_pernode_counts pattern); what must
    # hold above it: both consumers read the checkpointed RDD, not parquet
    assert p.count("Scan ExistingRDD") >= 2


def test_pad_waste_single_scan_partial_agg(spark, sf_dir):
    """One corpus scan pruned to the text column, map-side-combined
    groupBy on the bucket cap, global max broadcast back — no window,
    no second scan in the final plan (the scalar aggregate rides a
    broadcast join of the SAME scan subtree, reused or re-scanned: both
    appear as Scan parquet nodes; assert no window + no cartesian)."""
    from apitap_spark.operators.planning import op_pad_waste_audit

    p = _plan(op_pad_waste_audit(spark, sf_dir))
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "partial_count" in p or "partial_sum" in p


def test_retention_sweep_grid_broadcast_partial_agg(spark, sf_dir):
    """The 10-row grid joins by broadcast above the checkpointed per-doc
    frame; the aggregate combines map-side so the shuffle carries <=10
    rows per partition; totals ride a broadcast 1-row join."""
    from apitap_spark.operators.planning import op_quality_retention_sweep

    p = _plan(op_quality_retention_sweep(spark, sf_dir))
    assert p.count("Scan parquet") == 0  # per-doc metrics checkpointed
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "partial_sum" in p


def test_randomized_response_broadcast_mechanism(spark, sf_dir):
    """The K-row lang rank table and the K count attach by broadcast;
    both histograms are map-side-combined groupBys; no cartesian, no
    corpus self-join."""
    from apitap_spark.operators.planning import (
        op_privacy_randomized_response,
    )

    p = _plan(op_privacy_randomized_response(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "partial_count" in p


def test_fairness_single_scan_broadcast_pooled(spark, sf_dir):
    """One corpus projection feeds the checkpointed K-row group table;
    pooled rates ride a broadcast 1-row join over it — the final plan
    never rescans parquet."""
    from apitap_spark.operators.ml import op_fairness_equalized_odds

    p = _plan(op_fairness_equalized_odds(spark, sf_dir))
    assert p.count("Scan parquet") == 0
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_winsorized_windows_over_distinct_values_only(spark, sf_dir):
    """The quantile windows run over the distinct (source, n_chars)
    aggregate (never raw docs — partial_count proves the pre-window
    combine), bounds attach by broadcast, and the moment groupBy
    combines map-side."""
    from apitap_spark.operators.quality import op_winsorized_moments

    p = _plan(op_winsorized_moments(spark, sf_dir))
    assert "Window" in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "partial_count" in p


def test_onion_share_linear_gram_join_no_pairs(spark, sf_dir):
    """Gram-df attaches by a LINEAR gram-keyed shuffle join (never a
    doc-pair self-join): one explode, partial-agg df, no cartesian.
    The round-10 checkpoint truncates the explode out of the gate's
    visible plan, so the single-Generate assertion moved to the
    factored pre-checkpoint helper (tri_pernode_counts pattern)."""
    from apitap_spark.operators.dedup import (
        _onion_gram_stream,
        op_dedup_onion_share,
    )
    from apitap_spark.session import read_table

    p = _plan(op_dedup_onion_share(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_count" in p
    g = _plan(_onion_gram_stream(read_table(spark, sf_dir, "documents")))
    assert g.count("Generate") >= 1  # the single explode, pre-checkpoint


def test_mcnemar_one_scan_one_row(spark, sf_dir):
    """Single corpus scan, single global aggregate — no joins at all."""
    from apitap_spark.operators.ml import op_ml_mcnemar_paired

    p = _plan(op_ml_mcnemar_paired(spark, sf_dir))
    assert "Join" not in p
    assert p.count(") Scan parquet") == 1  # detail section: one real scan
    assert "partial_count" in p or "partial_sum" in p


def test_curriculum_windows_over_score_buckets(spark, sf_dir):
    """The cumulative window runs over the distinct-score aggregate
    (partial_count proves the pre-window combine), never raw docs."""
    from apitap_spark.operators.planning import op_curriculum_phases

    p = _plan(op_curriculum_phases(spark, sf_dir))
    assert "Window" in p
    assert "CartesianProduct" not in p
    assert p.count(") Scan parquet") == 1  # detail section: one real scan
    assert "partial_count" in p


def test_vocab_coverage_broadcasts_only_bench_state(spark, sf_dir):
    """Only bench-bounded sets broadcast; the corpus gram stream never
    shuffles into a distinct (its only aggregation is the bench-filtered
    'present' set) — no corpus-sized broadcast, no cartesian."""
    from apitap_spark.operators.corpus import op_benchmark_vocab_coverage

    p = _plan(op_benchmark_vocab_coverage(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert p.count("BroadcastHashJoin") >= 2  # bench_set probe + present
    assert "SortMergeJoin" not in p


def test_linkpred_wedge_aggregate_colocated_with_probe(spark, sf_dir):
    """The common-neighbor wedge stream must NEVER shuffle: the probe
    side repartitions by cu BEFORE the broadcast wedge join, so the
    join output's hashpartitioning(cu) satisfies groupBy(cu, cv) and
    the Sum deg(w)^2 intermediate aggregates in the same stage
    (measured 8.2s -> 0.55s at sf0.1). A pair-keyed exchange above the
    join would mean the co-location regressed. Asserted on the LAZY
    shared builder (_build_wedge_stats) — the gates themselves read
    the memoized checkpoint, whose plan hides the wedge stage."""
    from apitap_spark.operators.graph import _build_wedge_stats

    _e, _deg, wedge = _build_wedge_stats(spark, sf_dir)
    p = _plan(wedge)
    import re

    assert "BroadcastHashJoin" in p
    # the single intentional exchange: probe side keyed by cu alone
    assert "hashpartitioning(cu" in p
    # no exchange keyed by the wedge PAIR anywhere (that was the 8s)
    pair_exchanges = [
        m for m in re.findall(r"hashpartitioning\(([^)]*)\)", p)
        if ("cu#" in m and "cv#" in m) or ("u#" in m and "v#" in m and "cu#" not in m)
    ]
    assert pair_exchanges == [], pair_exchanges


def test_linkpred_and_ra_share_memoized_wedge_frame(spark, sf_dir):
    """op_graph_link_prediction and op_graph_resource_allocation must
    consume the SAME checkpointed wedge-candidate frame (round-7
    verdict task #3): two calls to _wedge_stats return identical
    objects, and both gate plans read a checkpointed RDD rather than
    re-running the wedge join."""
    from apitap_spark.operators.graph import (
        _wedge_stats,
        op_graph_link_prediction,
        op_graph_resource_allocation,
    )

    a = _wedge_stats(spark, sf_dir)
    b = _wedge_stats(spark, sf_dir)
    assert a[1] is b[1]  # memoized checkpoint, not a rebuild
    for gate in (op_graph_link_prediction, op_graph_resource_allocation):
        p = _plan(gate(spark, sf_dir))
        assert "Scan ExistingRDD" in p  # reads the shared checkpoint
        assert "Scan parquet" not in p  # never rebuilds from events


def test_wedge_cache_survives_release_persisted(spark, sf_dir):
    """The bench loop calls release_persisted between gates; the
    memoized wedge checkpoint is PINNED so the sweep must not free its
    blocks (unpinned, the second gate dies with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — reproduced in the r8 bench)."""
    from apitap_spark.operators.graph import (
        op_graph_link_prediction,
        op_graph_resource_allocation,
    )
    from apitap_spark.session import clear_memos, release_persisted

    clear_memos()  # force a fresh pin-checkpoint
    release_persisted(spark)
    assert op_graph_link_prediction(spark, sf_dir).count() >= 0
    spark.catalog.clearCache()
    release_persisted(spark)  # the between-gate sweep
    assert op_graph_resource_allocation(spark, sf_dir).count() > 0
    # and a full clear makes the blocks sweepable again
    clear_memos()
    assert release_persisted(spark) >= 0


def test_trustrank_loop_shape_node_keyed(spark, sf_dir):
    """Each TrustRank round is one node-keyed join + groupBy over the
    checkpointed edge frame; the returned frame is a projection of the
    final contrib checkpoint joined to the node set — no parquet rescan
    above the checkpoints, nothing cartesian."""
    from apitap_spark.operators.graph import op_graph_trustrank_seeded

    p = _plan(op_graph_trustrank_seeded(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "Scan parquet" not in p  # all inputs are checkpointed RDDs
    assert p.count("Scan ExistingRDD") >= 2  # nodes + final contrib


def test_resource_allocation_reads_shared_wedge_frame(spark, sf_dir):
    """op_graph_resource_allocation inherits the link-prediction wedge
    co-location by construction — it reads the SAME memoized
    _wedge_stats checkpoint (the co-location itself is asserted on the
    lazy builder in test_linkpred_wedge_aggregate_colocated_with_probe).
    Its own plan must be checkpoint → TakeOrdered, nothing heavier."""
    from apitap_spark.operators.graph import op_graph_resource_allocation

    p = _plan(op_graph_resource_allocation(spark, sf_dir))
    assert "Scan ExistingRDD" in p
    assert "TakeOrderedAndProject" in p  # top-K never globally sorts
    assert "CartesianProduct" not in p


def test_brier_single_scan_ten_row_tail(spark, sf_dir):
    """The corpus is scanned once BELOW the checkpointed ≤10-row bucket
    aggregate (both the base-rate scalar and the component sums read
    the checkpoint, never parquet); everything above is scalar."""
    from apitap_spark.operators.quality import op_quality_brier_decomposition

    p = _plan(op_quality_brier_decomposition(spark, sf_dir))
    assert "Scan parquet" not in p  # corpus scan lives below the ckpt
    assert p.count("Scan ExistingRDD") >= 2  # both consumers read it
    assert "CartesianProduct" not in p


def test_dsir_weight_table_broadcasts(spark, sf_dir):
    """The hashed-bucket weight table is constant-size and must
    BROADCAST into the per-doc gram stream; the gram stream itself is
    read from the checkpoint, never re-exploded per consumer."""
    from apitap_spark.operators.corpus import op_dsir_importance_weights

    p = _plan(op_dsir_importance_weights(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # feat is checkpointed: consumers read the RDD, not parquet
    assert p.count("Scan ExistingRDD") >= 2


def test_lpt_fold_single_scan_constant_state(spark, sf_dir):
    """One corpus scan into the per-source token aggregate; the LPT
    greedy is a JVM aggregate HOF over the |sources|-struct array —
    no join, no driver loop, nothing cartesian above the aggregate."""
    from apitap_spark.operators.planning import op_shard_makespan_lpt

    p = _plan(op_shard_makespan_lpt(spark, sf_dir))
    assert p.count(") Scan parquet") == 1
    assert "CartesianProduct" not in p
    assert "partial_sum" in p  # map-side combined token counts


def test_krippendorff_single_scan_one_row(spark, sf_dir):
    """One narrow scan, one global 3-counter aggregate, single row."""
    from apitap_spark.operators.quality import op_krippendorff_alpha

    p = _plan(op_krippendorff_alpha(spark, sf_dir))
    assert p.count(") Scan parquet") == 1
    assert "Join" not in p


def test_unigram_dp_jvm_fold_over_distinct_words(spark, sf_dir):
    """The Viterbi DP runs as a JVM aggregate HOF over the checkpointed
    distinct-word frame: no Python evaluator in the plan, candidate
    pieces equi-join against the BROADCAST vocab, nothing cartesian."""
    from apitap_spark.operators.bpe import op_tokenizer_unigram_viterbi

    p = _plan(op_tokenizer_unigram_viterbi(spark, sf_dir))
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # the word explode happened below the checkpoint; consumers read RDDs
    assert "Scan ExistingRDD" in p


def test_isotropy_no_pairwise_join(spark, sf_dir):
    """The N^2 mean-cosine collapses to a per-dim sum: the plan must
    contain NO join at all between embedding rows — one scan feeding
    the Arrow partial-sum kernel (round 11: quantize + per-dim sums
    moved from an interpreted transform + posexplode into MapInPandas),
    then a 64-group aggregate and the scalar tail."""
    from apitap_spark.operators.similarity import op_embedding_isotropy_audit

    p = _plan(op_embedding_isotropy_audit(spark, sf_dir))
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "MapInPandas" in p          # the quantize+partial-sum kernel
    assert "Generate" not in p         # posexplode gone
    assert p.count(") Scan parquet") == 1  # single embedding pass


def test_lsh_recall_curve_single_bucket_join(spark, sf_dir):
    """One bucket equi-join computes min-collision-table for ALL curve
    prefixes at once; the per-prefix expansion is a broadcast grid
    against the Q x k hit list — never a re-join per prefix."""
    from apitap_spark.operators.similarity import op_ann_lsh_recall_curve

    p = _plan(op_ann_lsh_recall_curve(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p


def test_dedup_threshold_curve_single_pairs_pass(spark, sf_dir):
    """The pair list is checkpointed and the 8-row bar grid is the
    BROADCAST side of the non-equi join (the pair list is
    corpus-proportional — broadcasting it would OOM at 100x); the
    shingle self-join must NOT re-run per threshold (the plan above
    the checkpoint contains no shingle explode)."""
    from apitap_spark.operators.dedup import op_dedup_threshold_curve

    p = _plan(op_dedup_threshold_curve(spark, sf_dir))
    assert "Scan parquet" not in p  # pairs live below the checkpoint
    assert "CartesianProduct" not in p
    # Orientation: the BNLJ streams the checkpointed pairs (":-" side,
    # printed first) and broadcasts the Range grid — the ExistingRDD
    # scan must appear BEFORE the BroadcastExchange in the tree.
    tree = p[: p.index("\n\n")]
    j = tree.index("BroadcastNestedLoopJoin")
    assert tree.index("Scan ExistingRDD", j) < tree.index(
        "BroadcastExchange", j
    ), "pairs must be the streamed side; only the grid broadcasts"


def test_dedup_pair_caches_survive_release_persisted(spark, sf_dir):
    """The memoized exact/LSH pair frames are pinned: a between-gate
    release_persisted must not free them (the graph-cache regression
    mode), consumers must share the same object, and a full clear must
    make the blocks sweepable again."""
    from apitap_spark.operators.dedup import (
        clear_dedup_frame_caches,
        exact_pairs_cached,
        lsh_pairs_cached,
        op_dedup_clusters,
        op_dedup_threshold_curve,
    )
    from apitap_spark.session import release_persisted

    clear_dedup_frame_caches()
    release_persisted(spark)
    a = exact_pairs_cached(spark, sf_dir)
    assert a is exact_pairs_cached(spark, sf_dir)
    n = a.count()
    spark.catalog.clearCache()
    release_persisted(spark)  # the between-gate sweep
    assert a.count() == n  # pinned blocks survived
    assert op_dedup_threshold_curve(spark, sf_dir).count() == 8
    b = lsh_pairs_cached(spark, sf_dir)
    release_persisted(spark)
    assert op_dedup_clusters(spark, sf_dir).count() > 0
    assert b is lsh_pairs_cached(spark, sf_dir)
    clear_dedup_frame_caches()
    assert release_persisted(spark) >= 0


def test_chi2_selection_broadcasts_label_totals(spark, sf_dir):
    """The chi² join must broadcast language totals + N (label-sized
    frames) and never SortMergeJoin them; the only shuffles are the
    token-keyed aggregates — no corpus-sized exchange above the token
    frame."""
    from apitap_spark.operators.corpus import op_chi2_token_selection

    p = _plan(op_chi2_token_selection(spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" in p  # the N scalar crossJoin
    assert "CartesianProduct" not in p
    assert "partial_count" in p  # map-side combine on the token agg


def test_rouge_overlap_no_cartesian_and_partial_counts(spark, sf_dir):
    """Adjacent-pair ROUGE must stay linear: gram counts partially
    aggregate map-side and the overlap join is keyed (pair, gram) —
    never a cartesian/nested-loop pairing of documents."""
    from apitap_spark.operators.textstats import op_text_rouge_overlap

    p = _plan(op_text_rouge_overlap(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_count" in p or "partial_sum" in p


def test_bigram_predictability_two_stage_partial_agg(spark, sf_dir):
    """Both aggregates (doc,prev,next) and (doc,prev) must partially
    aggregate before their exchanges, and the whole plan carries no
    join or window at all — it is two shuffles over doc-keyed data."""
    from apitap_spark.operators.textstats import (
        op_text_bigram_predictability,
    )

    p = _plan(op_text_bigram_predictability(spark, sf_dir))
    assert "partial_count" in p
    assert "partial_sum" in p
    assert "Join" not in p
    assert "Window" not in p


def test_burstiness_shares_seasonality_shuffle_shape(spark, sf_dir):
    """Fano buckets aggregate map-side on (type, hour); the per-type
    reduction runs on the bucket frame — no window, no join, no second
    scan of events."""
    from apitap_spark.operators.temporal import op_event_burstiness

    p = _plan(op_event_burstiness(spark, sf_dir))
    assert "partial_count" in p
    assert "Join" not in p
    assert "Window" not in p
    # exactly one parquet scan (the formatted details section repeats
    # each scan node's Location line once per scan)
    assert p.count("Location: InMemoryFileIndex") == 1


def test_blocking_audit_no_cartesian_no_python(spark, sf_dir):
    """Blocking audit: the caught joins are keyed (doc_id/strategy) and
    the 1-row totals ride broadcast nested-loop — never a
    CartesianProduct; the whole gate stays JVM-side. (The keyed frame
    itself sits under a localCheckpoint, so this asserts the operators
    ABOVE it — cand, caught, totals.)"""
    from apitap_spark.operators.dedup import op_dedup_blocking_audit

    p = _plan(op_dedup_blocking_audit(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_wasserstein_grid_windows_broadcast(spark, sf_dir):
    """W1 drift: the (source x value) grid cross-join is dims-sized and
    must compile to a broadcast nested loop (never CartesianProduct);
    the CDF accumulations are source-partitioned windows; no Python."""
    from apitap_spark.operators.quality import op_drift_wasserstein

    p = _plan(op_drift_wasserstein(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "Window" in p
    assert "BatchEvalPython" not in p


def test_stationarity_drift_window_and_broadcast(spark, sf_dir):
    """Markov stationarity drift: one user-keyed window for the lag
    sequences; the per-period totals and the both-halves frame join
    back broadcast (dims-sized); no Python."""
    from apitap_spark.operators.temporal import op_markov_stationarity_drift

    p = _plan(op_markov_stationarity_drift(spark, sf_dir))
    assert "Window" in p
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p
