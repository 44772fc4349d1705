#!/usr/bin/env python
"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "rows_per_sec": ...}

Comparable baseline (BASELINE.md): the reference sustains ~25-50K rows/sec
through transform+load and runs its "complex SQL" scenario in ~5-6 s on a
single node. Our gate: within 2x at the same scale factor (sf0.1,
~600K lineitem rows).
"""

from __future__ import annotations

import json
import os
import sys
import time


# Queries that drifted >30% between the round-3 and round-4 controlled
# freezes (plus q_setop_except, the worst drift in the round-4 driver
# run). Each gets THREE timed runs per bench so the freeze record can
# separate run-to-run noise from a real plan regression without
# re-deriving the list (round-4 verdict #7). q_event_funnel's 9.2x entry
# was root-caused separately (duplicate registration, fixed round 5) but
# stays listed so the freeze documents the post-fix timing of both
# funnels.
DRIFT_WATCHLIST = [
    "q_event_funnel", "q_funnel_conditional_min", "op_semantic_dedup",
    "op_ann_cosine_topk", "op_crosslingual_neardup",
    "op_contamination_ngram", "op_data_profile", "q_window_range_time",
    "op_corpus_curation", "op_split_train_valid_test",
    "op_ml_logreg_quality", "op_data_validate", "op_dedup_ngram_jaccard",
    "op_ann_ivfpq_search", "op_length_histogram", "op_bpe_learn_merges",
    "op_ann_pq_adc", "q_setop_except",
    # round-6 freeze's only >2x like-for-like mover (0.28->0.96s);
    # round-7 watchlist samples spanned 0.21-0.38s — closed as variance.
    "q_ab_test_chi2",
    # round-7: the lead()-window edge rewrite left the full gate ~1s
    # slower; round-10 root-caused the remaining cost to the pair-keyed
    # exchange above the wedge join and removed it by co-locating the
    # aggregate with the cu-repartitioned probe side (12.5s -> ~6.5s).
    # Stays listed so the freeze medians pin the post-fix level.
    "op_graph_link_prediction",
    # round-10: the RA index shares the wedge co-location and is the
    # new slowest gate (~8-9s isolated); medians guard the BuildRight
    # broadcast choice that the co-location depends on.
    "op_graph_resource_allocation",
    # round-8 freeze: 1.94 -> 3.97s with untouched code (verdict #4
    # watch item) — medians decide variance vs regression.
    "op_kmeans_refine",
    # round-10: 6.7s -> 17.5s between two same-day freezes of byte-
    # identical code (the suite's biggest position-dependent swing);
    # medians separate the shuffle-plan gate's real cost from whatever
    # the suite left in the page cache ahead of it.
    "op_training_shuffle_plan",
    # round-10 optimization freeze: 1.42 -> 3.15s with untouched code
    # (isolated warm 1.4-1.9s, so suite-position variance is the
    # suspect); medians decide before anyone "fixes" it.
    "q_mode_median_price",
    # round-10 report: 1.5 -> 5.0s between baseline and mid-round bench
    # with byte-identical code (r10 verdict #7) — medians adjudicate
    # suite-position variance vs a real regression before any code
    # change.
    "op_vocab_coverage_curve",
]

SINK_RUNS = 3


def main(out_path: str | None = None) -> None:
    """Run the suite; write the full JSON artifact to ``out_path``.

    ``out_path`` defaults to $SPARK_GRAFT_BENCH_OUT, falling back to
    ``bench_full.json`` — which is .gitignored (the driver's own bench
    overwrites it every round); the round's frozen timing record is
    committed separately as ``bench_freeze.json`` (round-3 verdict #6).
    Tests MUST still pass a tmp path (or set the env var) so a 2-query
    sf0.001 run never clobbers a full local run (round-2 verdict #1).
    """
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from apitap_spark.session import get_session, release_persisted

    spark = get_session(app_name="apitap-bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    # Warm the JVM + parquet footer/page cache for EVERY table so per-query
    # timings reflect steady state (alphabetically-first queries otherwise
    # absorb all the cold-read cost), plus one query for codegen warmup.
    t0 = time.perf_counter()
    from apitap_spark.session import load_tables

    for df in load_tables(spark, sf_dir).values():
        df.count()
    # FIXED warmup gate (r10 verdict #1): the old `next(iter(qs))` was
    # rotation-dependent — with the recheck-front ordering it warmed a
    # memo-consumer gate, so that family's memo build landed in the
    # untimed warmup and appeared in NO timed row. q1 is a plain scan-agg
    # that builds no memo; every memo build now lands in a timed row.
    warm = qs.get("q1_pricing_summary") or next(iter(qs.values()))
    warm(spark, sf_dir).count()
    warmup = time.perf_counter() - t0

    # Memo honesty (round-8 verdict #4): cross-gate caches make a
    # consumer gate's timing a cache READ, not the operator's cost.
    # Tag each gate with the memo events its run produced so freeze
    # diffs compare like with like ("build" rows carry the family's
    # build cost; "hit" rows are warm reads).
    from apitap_spark.session import MEMO_COUNTERS, MEMO_FAMILY_COUNTERS

    timings: dict[str, float] = {}
    memo_gates: dict[str, str] = {}
    gate_families: dict[str, set] = {}
    total = 0.0
    for name, fn in sorted(qs.items()):
        ctr0 = dict(MEMO_COUNTERS)
        fam0 = dict(MEMO_FAMILY_COUNTERS)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        n = df.count()  # force full execution; driver-side result stays tiny
        dt = time.perf_counter() - t0
        timings[name] = round(dt, 4)
        total += dt
        built = MEMO_COUNTERS["builds"] > ctr0["builds"]
        hit = MEMO_COUNTERS["hits"] > ctr0["hits"]
        if built or hit:
            memo_gates[name] = (
                "build+hit" if built and hit else "build" if built else "hit"
            )
            gate_families[name] = {
                k.split(":")[0]
                for k, v in MEMO_FAMILY_COUNTERS.items()
                if v > fam0.get(k, 0)
            }
        # Ops persist()/localCheckpoint() intermediates for intra-plan
        # reuse; release them so later queries aren't timed under
        # accumulated storage-memory pressure (each op is an independent
        # job in production). clearCache() alone is NOT enough: it drops
        # catalog-cached Datasets but localCheckpoint blocks are RDD-level
        # persistence freed only by ContextCleaner GC (round-5 ADVICE) —
        # release_persisted() unpersists them explicitly, which is safe
        # here because the gate's job has fully completed.
        spark.catalog.clearCache()
        release_persisted(spark)

    # Drift watchlist: THREE timed runs each, all taken here in the
    # post-suite regime (warm JIT, warm page cache), so the three samples
    # share one regime and the median is meaningful (round-5 ADVICE: the
    # old version mixed the mid-suite timing with two post-suite runs —
    # e.g. op_ann_cosine_topk [1.05, 0.59, 0.55] is two regimes, not
    # noise). The mid-suite timing stays available in ``queries``.
    watchlist_runs: dict[str, list[float]] = {}
    for name in DRIFT_WATCHLIST:
        if name not in qs:
            continue
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).count()
            runs.append(round(time.perf_counter() - t0, 4))
            spark.catalog.clearCache()
            release_persisted(spark)
        watchlist_runs[name] = runs

    # Headline metric: the BASELINE-comparable "transform & load, complex
    # SQL" scenario (reference: ~5-6 s for ~100K rows, BASELINE.md) — the
    # four TPC-H-style core transforms over ~600K-row lineitem at sf0.1.
    core = ["q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue", "q6_revenue_forecast"]
    core_sec = round(sum(timings.get(c, 0.0) for c in core), 3)

    li_rows = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    q1_time = timings.get("q1_pricing_summary", None)
    rows_per_sec = round(li_rows / q1_time) if q1_time else None

    # Sink throughput comparable to BASELINE.md "database write 25-50K
    # rows/sec": merge lineitem-shaped rows into a DuckDB file (single
    # writer — a parallel Postgres fan-in only goes up from here).
    import tempfile

    import duckdb  # noqa: F401 — ensures stand-in availability

    from apitap_spark.sinks.jdbc_merge import DuckDbDialect, JdbcMergeWriter, WriteMode

    sink_rows = min(li_rows, 200_000)
    sink_df = (
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                "l_extendedprice")
        .limit(sink_rows)
    )
    # Three independent sink runs (fresh DuckDB file each): round-3 -> 4
    # sink "drift" (89.5K -> 76K rows/s) reproduced as ±20% swings between
    # controlled freezes with byte-identical sink code, so a single run
    # cannot separate noise from regression — publish the median.
    # An isolated fresh-JVM probe showed the write path is JIT-warmup
    # bound (35K -> 79K rows/s monotone over 4 consecutive writes), so
    # one UNTIMED warmup write precedes the timed runs: the baseline's
    # "sustained 25-50K rows/sec" is a steady-state figure and the timed
    # median should measure the same regime.
    sink_runs: list[float] = []
    for i in range(-1, SINK_RUNS):
        with tempfile.TemporaryDirectory() as td:
            writer = JdbcMergeWriter(
                (lambda p: (lambda: __import__("duckdb").connect(p)))(
                    os.path.join(td, "bench.duckdb")
                ),
                "bench_sink",
                dialect=DuckDbDialect(),
                mode=WriteMode.APPEND,
            )
            t0 = time.perf_counter()
            writer.write(sink_df)
            if i >= 0:  # i == -1 is the untimed JIT-warmup write
                sink_runs.append(time.perf_counter() - t0)
    sink_sec = sorted(sink_runs)[len(sink_runs) // 2]
    sink_rows_per_sec = round(sink_rows / sink_sec)

    # LIVE Postgres sink throughput — the apples-to-apples number: the
    # reference's published 25-50K rows/s IS a live-Postgres write path.
    # Measured only when the local throwaway server (tools/pg_local.sh)
    # answers on :54329; null otherwise so driver runs stay comparable.
    sink_pg_rows_per_sec = None
    sink_pg_merge_rows_per_sec = None
    source_pg_read_rows_per_sec = None
    source_pg_row_read_rows_per_sec = None
    source_pg_stream_rows_per_sec = None
    sink_pg_runs: list[float] = []
    read_runs: dict[str, list[float]] = {}
    merge_runs: list[float] = []
    import socket

    try:
        socket.create_connection(("127.0.0.1", 54329), timeout=0.5).close()
        pg_up = True
    except OSError:
        pg_up = False
    if pg_up:
        from apitap_spark.sinks import pgwire
        from apitap_spark.sinks.jdbc_merge import PostgresDialect

        dsn = "host=127.0.0.1 port=54329 user=postgres dbname=postgres"
        # a crashed earlier bench can leave the MERGE-keyed table behind;
        # the append bench must start from a constraint-free table
        conn = pgwire.connect(dsn)
        conn.cursor().execute("DROP TABLE IF EXISTS bench_pg_sink")
        conn.commit()
        conn.close()
        # parallel fan-in is the production shape: limit() collapses to a
        # single partition (one connection, 13K rows/s measured);
        # repartition(8) = 8 connections COPYing concurrently (313K rows/s)
        pg_df = sink_df.repartition(8)
        for i in range(-1, SINK_RUNS):
            writer = JdbcMergeWriter(
                (lambda d: (lambda: pgwire.connect(d)))(dsn),
                "bench_pg_sink",
                dialect=PostgresDialect(),
                mode=WriteMode.APPEND,
                truncate_first=True,
            )
            t0 = time.perf_counter()
            writer.write(pg_df)
            if i >= 0:
                sink_pg_runs.append(time.perf_counter() - t0)
        pg_sec = sorted(sink_pg_runs)[len(sink_pg_runs) // 2]
        sink_pg_rows_per_sec = round(sink_rows / pg_sec)

        # COPY-staged MERGE throughput (round-6 verdict #4): the write
        # mode the reference runner hard-codes is Merge
        # (reference src/cmd/mod.rs:157), so the staged-upsert path is
        # the real apples-to-apples rows/s. Same 8-way fan-in; each
        # timed run truncates first so every run measures the full
        # COPY-into-stage + server-side MERGE insert path.
        # drop the append-bench table first: prepare() must recreate it
        # WITH the primary key so the MERGE join has an index to probe
        conn = pgwire.connect(dsn)
        conn.cursor().execute("DROP TABLE IF EXISTS bench_pg_sink")
        conn.commit()
        conn.close()
        for i in range(-1, SINK_RUNS):
            writer = JdbcMergeWriter(
                (lambda d: (lambda: pgwire.connect(d)))(dsn),
                "bench_pg_sink",
                dialect=PostgresDialect(),
                mode=WriteMode.MERGE,
                primary_key=["l_orderkey", "l_linenumber"],
                truncate_first=True,
            )
            t0 = time.perf_counter()
            writer.write(pg_df)
            if i >= 0:
                merge_runs.append(time.perf_counter() - t0)
        merge_sec = sorted(merge_runs)[len(merge_runs) // 2]
        sink_pg_merge_rows_per_sec = round(sink_rows / merge_sec)

        # Read-back throughput (round-7 verdict #5): the merge bench
        # leaves bench_pg_sink populated — time the DataSource stride
        # reader directly (driver-side; Spark task scheduling would
        # swamp a 200K-row delta), COPY-CSV→Arrow against a pgwire
        # fetchall() of the same SELECT over the extended-query row
        # protocol.
        from apitap_spark.sources.pgsource import (
            PostgresDataSource,
            PostgresReader,
            RangePartition,
        )

        src_opts = {"dsn": dsn, "table": "bench_pg_sink"}
        src_schema = PostgresDataSource(options=src_opts).schema()
        reader = PostgresReader(src_opts, src_schema)
        select = (
            "SELECT " + ", ".join(f'"{n}"' for n in src_schema.names)
            + ' FROM "bench_pg_sink"'
        )

        def fetch_rows():
            conn = pgwire.connect(dsn)
            try:
                return conn.cursor().execute(select).fetchall()
            finally:
                conn.close()

        for method, read in (
            ("row", fetch_rows),
            ("copy", lambda: list(reader.read(RangePartition(None)))),
        ):
            read()  # warm
            runs = []
            for _ in range(SINK_RUNS):
                t0 = time.perf_counter()
                read()
                runs.append(time.perf_counter() - t0)
            read_runs[method] = runs
        source_pg_read_rows_per_sec = round(
            sink_rows / sorted(read_runs["copy"])[len(read_runs["copy"]) // 2]
        )
        source_pg_row_read_rows_per_sec = round(
            sink_rows / sorted(read_runs["row"])[len(read_runs["row"]) // 2]
        )

        # Streaming read-back drain rate (round-9 feature): full
        # high-watermark drain of the same table through the
        # SimpleDataSourceStreamReader in 4 cursor batches — the
        # incremental-sync rows/s a continuous pipeline sustains.
        from apitap_spark.sources.pgsource import PostgresSimpleStreamReader

        stream_reader = PostgresSimpleStreamReader(
            {
                "dsn": dsn,
                "table": "bench_pg_sink",
                "cursor_column": "l_orderkey",
                "max_rows_per_batch": 50000,
            },
            src_schema,
        )
        stream_runs = []
        stream_rows = 0
        for _ in range(SINK_RUNS):
            t0 = time.perf_counter()
            off = stream_reader.initialOffset()
            drained = 0
            while True:
                rows, new_off = stream_reader.read(off)
                n_batch = sum(1 for _ in rows)
                if n_batch == 0 and new_off == off:
                    break
                drained += n_batch
                off = new_off
            stream_runs.append(time.perf_counter() - t0)
            # NOTE: the merge table holds DISTINCT (orderkey, linenumber)
            # rows — the synthetic lineitem carries duplicate pairs, so
            # this is FEWER than sink_rows; rate over what was drained.
            assert drained > 0 and (not stream_rows or drained == stream_rows)
            stream_rows = drained
        source_pg_stream_rows_per_sec = round(
            stream_rows / sorted(stream_runs)[len(stream_runs) // 2]
        )

        conn = pgwire.connect(dsn)
        cur = conn.cursor()
        cur.execute("DROP TABLE IF EXISTS bench_pg_sink")
        conn.commit()
        conn.close()

    # Training-data pipeline throughput: docs/sec through the composed
    # curation pass (quality + lang-id + exact dedup -> keep/drop) — the
    # operator a pretraining-data run actually executes per corpus pass.
    doc_rows = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
    cur_time = timings.get("op_corpus_curation")
    curation_docs_per_sec = round(doc_rows / cur_time) if cur_time else None

    # Dedup-ladder throughput per rung (docs/sec), so regressions in the
    # LLM-pipeline half surface as visibly as the TPC-H half: exact →
    # simhash → minhash+LSH are the scale rungs; ngram-jaccard and
    # containment are the df-capped exact/oracle rungs.
    dedup_docs_per_sec = {
        name: round(doc_rows / timings[name])
        for name in (
            "op_dedup_exact",
            "op_dedup_simhash",
            "op_dedup_minhash_lsh",
            "op_dedup_ngram_jaccard",
            "op_dedup_containment",
            "op_dedup_clusters",
        )
        if timings.get(name)
    }

    # Tokenizer-family throughput (round-3 verdict #8): the BPE passes
    # are the heaviest corpus transforms — publish docs/sec per stage and
    # whitespace-tokens/sec for the full encode so tokenizer-path
    # regressions are visible at a glance.
    bpe_docs_per_sec = {
        name: round(doc_rows / timings[name])
        for name in (
            "op_bpe_learn_merges",
            "op_bpe_apply_tokens",
            "op_bpe_encode_docs",
            "op_bpe_pack_training_rows",
        )
        if timings.get(name)
    }
    from pyspark.sql import functions as F

    from apitap_spark.functions.text import token_count

    ws_tokens = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .agg(F.sum(token_count("text")))
        .collect()[0][0]
    )
    enc_time = timings.get("op_bpe_encode_docs")
    encode_ws_tokens_per_sec = (
        round(ws_tokens / enc_time) if enc_time and ws_tokens else None
    )

    # Evidence-age visibility (round-7 verdict #2 corollary): how stale
    # is each gate's most recent driver CORRECTNESS row? Published here
    # so the refresh debt is visible in every BENCH_r{N}.json.
    evidence_age: dict[str, int] = {}
    max_evidence_age_round = None
    try:
        import glob as _glob

        last_row: dict[str, int] = {}
        here = os.path.dirname(os.path.abspath(__file__))
        for path in sorted(_glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
            rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
            with open(path) as fh:
                for gname in json.load(fh):
                    last_row[gname] = rnd
        for rnd in sorted(set(last_row.values())):
            evidence_age[f"r{rnd}"] = sum(
                1 for v in last_row.values() if v == rnd
            )
        max_evidence_age_round = min(last_row.values()) if last_row else None
    except (OSError, ValueError, IndexError):
        pass

    # Build-inclusive per-family memo totals (r10 verdict #3): a family's
    # honest cost is the sum over every timed gate that touched its memo
    # (the build lands in the first such gate — the fixed q1 warmup
    # guarantees no build hides in the untimed warmup). Freeze diffs
    # should compare these, not the redistributed per-gate rows.
    memo_family_sec: dict[str, float] = {}
    for gname, fams in gate_families.items():
        for fam in fams:
            memo_family_sec[fam] = round(
                memo_family_sec.get(fam, 0.0) + timings[gname], 3
            )

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # Printed-line robustness (r10 verdict #2): round 9's one-line JSON
    # outgrew the driver's stdout tail and was truncated mid-object,
    # losing the whole round-over-round comparison. The driver contract
    # REQUIRES the per-query timings in the printed line, so they stay;
    # everything auxiliary (per-run arrays, watchlist samples, evidence
    # ages) now lives only in the file artifact, keeping the printed
    # line several KB smaller than round 10's.
    compact = {
        "metric": "core_transform_seconds_sf" + sf,
        "value": core_sec,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else None,
        "n_queries": len(timings),
        "suite_total_sec": round(total, 3),
        "warmup_sec": round(warmup, 3),
        "lineitem_rows": li_rows,
        "q1_rows_per_sec": rows_per_sec,
        "sink_rows_per_sec": sink_rows_per_sec,
        "sink_rows": sink_rows,
        "sink_pg_rows_per_sec": sink_pg_rows_per_sec,
        "sink_pg_merge_rows_per_sec": sink_pg_merge_rows_per_sec,
        "source_pg_read_rows_per_sec": source_pg_read_rows_per_sec,
        "source_pg_row_read_rows_per_sec": source_pg_row_read_rows_per_sec,
        "source_pg_stream_rows_per_sec": source_pg_stream_rows_per_sec,
        "memo_gates": memo_gates,
        "memo_family_sec": memo_family_sec,
        "curation_docs_per_sec": curation_docs_per_sec,
        "dedup_docs_per_sec": dedup_docs_per_sec,
        "bpe_docs_per_sec": bpe_docs_per_sec,
        "encode_ws_tokens_per_sec": encode_ws_tokens_per_sec,
        "ws_tokens": ws_tokens,
        "document_rows": doc_rows,
        "cpus": cpus,
    }
    full = dict(compact)
    full.update(
        {
            "sink_runs_sec": [round(s, 4) for s in sink_runs],
            "sink_pg_runs_sec": [round(s, 4) for s in sink_pg_runs],
            "sink_pg_merge_runs_sec": [round(s, 4) for s in merge_runs],
            "source_pg_read_runs_sec": {
                k: [round(s, 4) for s in v] for k, v in read_runs.items()
            },
            "watchlist_runs": watchlist_runs,
            "evidence_rows_by_round": evidence_age,
            "oldest_evidence_round": max_evidence_age_round,
        }
    )
    # The driver keeps only a tail of stdout — persist the complete
    # per-query JSON in-repo so every round's timings stay recoverable.
    if out_path is None:
        out_path = os.environ.get(
            "SPARK_GRAFT_BENCH_OUT",
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
            ),
        )
    try:
        with open(out_path, "w") as f:
            f.write(json.dumps(full) + "\n")
    except OSError:
        pass
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
