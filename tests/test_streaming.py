"""Structured Streaming tests: windowed aggs, streaming dedup, foreachBatch
merge sink — file-source micro-batches with availableNow triggers."""

from __future__ import annotations

import json
import os

import duckdb

from apitap_spark.sinks.jdbc_merge import DuckDbDialect, JdbcMergeWriter, WriteMode
from apitap_spark.streaming.ingest import (
    read_event_stream,
    stream_merge_to_sink,
    streaming_dedup,
    windowed_event_counts,
)


def _write_events(path: str, name: str, events: list[dict]):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as fh:
        for e in events:
            fh.write(json.dumps(e) + "\n")


def _ev(i, ts, typ="click", value=1.0, user=1):
    return {
        "event_id": i,
        "ts": ts,
        "user_id": user,
        "event_type": typ,
        "value": value,
        "props": "{}",
    }


def test_stateless_text_operators_run_on_streams(spark, tmp_path):
    """The stateless text operators (chunking here as the exemplar) are
    plain Catalyst projections, so the SAME column logic runs unchanged
    on a streaming DataFrame — documents arriving as micro-batches chunk
    identically to a batch pass. This is the library property that makes
    the ingest → curate path streamable without rewrites."""
    import json
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    docs = [
        {"doc_id": 1, "text": " ".join(f"w{i}" for i in range(150))},
        {"doc_id": 2, "text": "just a few tokens"},
    ]
    with open(os.path.join(src, "b0.ndjson"), "w") as fh:
        for d in docs:
            fh.write(json.dumps(d) + "\n")

    from apitap_spark.operators.textstats import chunk_passages

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .json(src)
        .filter(F.length(F.trim("text")) > 0)
    )
    chunked = chunk_passages(stream)
    q = (
        chunked.writeStream.format("memory")
        .queryName("stream_chunks")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM stream_chunks").collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 150 tokens -> starts 1, 49, 97 (145 <= 150-64+48=134? no) -> 1,49,97
    assert len(by_doc[1]) == 3
    assert sorted(r["start_tok"] for r in by_doc[1]) == [1, 49, 97]
    assert len(by_doc[2]) == 1
    assert by_doc[2][0]["chunk_text"] == "just a few tokens"


def test_stream_pack_tokens_carries_remainder_across_batches(spark, tmp_path):
    """The stateful packer emits only FULL rows, carries the partial row
    across micro-batches, and the re-assembled stream equals the
    EOS-joined concatenation of all documents in arrival order."""
    import json
    import os

    from apitap_spark.streaming.ingest import stream_pack_tokens

    src = str(tmp_path / "seqs")
    os.makedirs(src, exist_ok=True)
    seq_len, eos = 8, 99
    batch1 = [
        {"doc_id": 1, "token_ids": [1, 2, 3]},          # +eos -> 4
        {"doc_id": 2, "token_ids": [4, 5, 6, 7, 8]},    # +eos -> 10 total
    ]
    batch2 = [{"doc_id": 3, "token_ids": [10, 11, 12, 13, 14, 15]}]  # +eos -> 17
    with open(os.path.join(src, "b0.ndjson"), "w") as fh:
        for d in batch1:
            fh.write(json.dumps(d) + "\n")

    out = str(tmp_path / "packed")

    def run():
        stream = spark.readStream.schema(
            "doc_id long, token_ids array<bigint>"
        ).json(src)
        q = (
            stream_pack_tokens(stream, seq_len=seq_len, eos=eos)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    rows1 = sorted(spark.read.parquet(out).collect(), key=lambda r: r["row_id"])
    # 10 tokens -> one full row of 8, remainder [8, eos] carried in state
    assert [r["row_id"] for r in rows1] == [0]
    assert rows1[0]["token_ids"] == [1, 2, 3, eos, 4, 5, 6, 7]

    with open(os.path.join(src, "b1.ndjson"), "w") as fh:
        for d in batch2:
            fh.write(json.dumps(d) + "\n")
    run()
    rows2 = sorted(spark.read.parquet(out).collect(), key=lambda r: r["row_id"])
    stream_tokens = [t for r in rows2 for t in r["token_ids"]]
    expected = (
        [1, 2, 3, eos, 4, 5, 6, 7, 8, eos]
        + [10, 11, 12, 13, 14, 15, eos]
    )
    # 17 total -> two full rows emitted, [eos] remainder still in state
    assert [r["row_id"] for r in rows2] == [0, 1]
    assert stream_tokens == expected[: 2 * seq_len]


def test_windowed_counts_with_watermark(spark, tmp_path):
    src = str(tmp_path / "events")
    _write_events(
        src,
        "b1.json",
        [
            _ev(1, "2024-01-01T00:01:00Z"),
            _ev(2, "2024-01-01T00:05:00Z"),
            _ev(3, "2024-01-01T00:12:00Z", typ="view", value=2.5),
        ],
    )
    out = windowed_event_counts(read_event_stream(spark, src), window="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["window_start"].minute, r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert rows[(0, "click")] == (2, 2.0)
    assert rows[(10, "view")] == (1, 2.5)


def test_streaming_dedup_across_microbatches(spark, tmp_path):
    src = str(tmp_path / "events")
    _write_events(src, "b1.json", [_ev(1, "2024-01-01T00:01:00Z"), _ev(2, "2024-01-01T00:02:00Z")])
    _write_events(src, "b2.json", [_ev(2, "2024-01-01T00:02:30Z"), _ev(3, "2024-01-01T00:03:00Z")])
    deduped = streaming_dedup(
        read_event_stream(spark, src, max_files_per_trigger=1)
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = sorted(
        r["event_id"] for r in spark.sql("SELECT event_id FROM dedup_out").collect()
    )
    assert ids == [1, 2, 3]  # duplicate event_id=2 dropped across micro-batches


def test_stream_merge_to_duckdb(spark, tmp_path):
    src = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    duck = str(tmp_path / "wh.duckdb")
    writer = JdbcMergeWriter(
        (lambda p: (lambda: __import__("duckdb").connect(p)))(duck),
        "events_sink",
        dialect=DuckDbDialect(),
        mode=WriteMode.MERGE,
        primary_key="event_id",
    )
    _write_events(src, "b1.json", [_ev(1, "2024-01-01T00:01:00Z", value=1.0)])
    q = stream_merge_to_sink(read_event_stream(spark, src), writer, ckpt)
    q.awaitTermination(120)

    # Second batch: update event 1, insert event 2; checkpoint resumes.
    _write_events(src, "b2.json", [_ev(1, "2024-01-01T00:01:00Z", value=9.0), _ev(2, "2024-01-01T00:02:00Z")])
    q = stream_merge_to_sink(read_event_stream(spark, src), writer, ckpt)
    q.awaitTermination(120)

    rows = duckdb.connect(duck).execute(
        "SELECT event_id, value FROM events_sink ORDER BY event_id"
    ).fetchall()
    assert rows == [(1, 9.0), (2, 1.0)]


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState: state carries across micro-batches."""
    from apitap_spark.streaming.ingest import running_user_totals

    src = str(tmp_path / "events")
    _write_events(
        src,
        "b1.json",
        [_ev(1, "2024-01-01T00:01:00Z", user=1, value=2.0),
         _ev(2, "2024-01-01T00:02:00Z", user=1, value=3.0),
         _ev(3, "2024-01-01T00:03:00Z", user=2, value=5.0)],
    )
    _write_events(
        src,
        "b2.json",
        [_ev(4, "2024-01-01T00:04:00Z", user=1, value=10.0)],
    )
    out = running_user_totals(read_event_stream(spark, src, max_files_per_trigger=1))
    # the processing-time timeout asks for a no-data batch after every
    # batch, so neither the query's end nor processAllAvailable() would
    # ever come (see running_user_totals); the conf is read at start()
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(no_data)
    spark.conf.set(no_data, "false")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName("running_totals")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(no_data, before)
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM running_totals").collect()
    finally:
        q.stop()
    # last emission per user wins (update mode): user 1 saw 3 events/15.0
    last = {}
    for r in rows:
        last[r["user_id"]] = (r["n_events"], r["total_value"])
    assert last[1] == (3, 15.0)
    assert last[2] == (1, 5.0)


def test_stream_stream_join_attribution(spark, tmp_path):
    """Purchases join to clicks within the window; outside-window ones drop."""
    from apitap_spark.streaming.ingest import click_purchase_attribution

    src = str(tmp_path / "events")
    _write_events(
        src,
        "b1.json",
        [
            _ev(1, "2024-01-01T00:00:00Z", typ="click", user=1),
            _ev(2, "2024-01-01T00:05:00Z", typ="purchase", user=1, value=9.99),
            _ev(3, "2024-01-01T01:00:00Z", typ="click", user=2),
            _ev(4, "2024-01-01T02:00:00Z", typ="purchase", user=2, value=5.0),  # too late
        ],
    )
    out = click_purchase_attribution(read_event_stream(spark, src))
    q = (
        out.writeStream.format("memory")
        .queryName("attribution")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT user_id, click_id, purchase_id, amount FROM attribution").collect()
    assert [(r["user_id"], r["click_id"], r["purchase_id"], r["amount"]) for r in rows] == [
        (1, 1, 2, 9.99)
    ]


def test_stateful_timeout_evicts_state():
    """When the ProcessingTimeTimeout fires (no input rows), the update fn
    must remove the user's state and emit nothing — not re-arm the timer
    with a spurious duplicate output row (unbounded idle-user state)."""
    from apitap_spark.streaming.ingest import _totals_update

    class StubState:
        def __init__(self):
            self.hasTimedOut = True
            self.exists = True
            self.get = (3, 7.5)
            self.removed = False
            self.updates = []

        def remove(self):
            self.removed = True

        def update(self, v):
            self.updates.append(v)

        def setTimeoutDuration(self, ms):
            raise AssertionError("must not re-arm the timer on timeout")

    st = StubState()
    out = list(_totals_update(60)((42,), iter(()), st))
    assert out == []
    assert st.removed and not st.updates

    # normal path still aggregates and re-arms
    import pandas as pd

    class LiveState(StubState):
        def __init__(self):
            super().__init__()
            self.hasTimedOut = False
            self.armed = None

        def setTimeoutDuration(self, ms):
            self.armed = ms

    live = LiveState()
    out = list(
        _totals_update(60)((42,), iter([pd.DataFrame({"value": [1.0, 2.0]})]), live)
    )
    assert live.updates == [(5, 10.5)] and live.armed == 60000
    assert out[0]["n_events"][0] == 5


def test_stream_incremental_dedup_store_lifecycle(spark, tmp_path):
    """Micro-batch 1 seeds the signature store; batch 2's repeat of an
    earlier text classifies as corpus_dup, and only new hashes join the
    store."""
    from apitap_spark.streaming.ingest import stream_incremental_dedup

    src = str(tmp_path / "docs")
    store = str(tmp_path / "store")
    out = str(tmp_path / "classified")
    ckpt = str(tmp_path / "ckpt")

    def doc(i, text):
        return {"doc_id": i, "text": text}

    _write_events(src, "b1.json", [doc(1, "alpha beta"), doc(2, "alpha beta"), doc(3, "gamma")])
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    stream_incremental_dedup(stream, store, out, ckpt).start().awaitTermination(120)

    _write_events(src, "b2.json", [doc(4, "alpha beta"), doc(5, "delta")])
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    stream_incremental_dedup(stream2, store, out, ckpt).start().awaitTermination(120)

    got = {r["doc_id"]: r["status"] for r in spark.read.parquet(out).collect()}
    assert got[1] == "unique"
    assert got[2] == "batch_dup"
    assert got[3] == "unique"
    assert got[4] == "corpus_dup"  # seen in batch 1's corpus now
    assert got[5] == "unique"
    sigs = spark.read.parquet(store)
    assert sigs.count() == 3  # alpha-beta, gamma, delta — no duplicate hashes


def test_streaming_session_window(spark, tmp_path):
    """Native session_window under readStream: events within the gap
    merge into one session; a beyond-gap event opens a new one."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "sess_events")
    _write_events(
        src,
        "b1.json",
        [
            _ev(1, "2024-01-01T10:00:00", user=1),
            _ev(2, "2024-01-01T10:10:00", user=1),
            _ev(3, "2024-01-01T12:00:00", user=1),  # >30min gap → new session
            _ev(4, "2024-01-01T10:05:00", user=2),
        ],
    )
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        ).json(src)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("sw.start").alias("start"), "n_events")
    )
    out = str(tmp_path / "sess_out")
    (
        agg.writeStream.format("memory")
        .queryName("sess_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
        .awaitTermination(120)
    )
    rows = {
        (r["user_id"], r["start"].isoformat()): r["n_events"]
        for r in spark.sql("SELECT * FROM sess_sink").collect()
    }
    assert rows == {
        (1, "2024-01-01T10:00:00"): 2,
        (1, "2024-01-01T12:00:00"): 1,
        (2, "2024-01-01T10:05:00"): 1,
    }


def test_streaming_multimodal_phash(spark, tmp_path):
    """The perceptual-hash extractor (Arrow-batched mapInPandas) is a
    narrow stateless transform, so the SAME function runs under
    readStream — streamed payload hashes equal the batch pass exactly.
    Proves the multimodal plumbing is streaming-compatible end to end."""
    import json
    import os

    from pyspark.sql import functions as F

    from apitap_spark.operators.multimodal import (
        PHASH_SCHEMA,
        _extract_phash,
        with_binary_payload,
    )

    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    docs = [
        {"doc_id": i, "text": f"payload text number {i} " + "x" * (i * 7), "source": "s"}
        for i in range(1, 9)
    ]
    with open(os.path.join(src, "b0.ndjson"), "w") as fh:
        for d in docs:
            fh.write(json.dumps(d) + "\n")

    schema = "doc_id long, text string, source string"
    batch_df = spark.read.schema(schema).json(src)
    expected = {
        r["doc_id"]: (r["phash_hi"], r["phash_lo"], r["modality"])
        for r in with_binary_payload(batch_df)
        .select("doc_id", "payload")
        .mapInPandas(_extract_phash, schema=PHASH_SCHEMA)
        .collect()
    }

    stream = spark.readStream.schema(schema).json(src)
    hashed = (
        with_binary_payload(stream)
        .select("doc_id", "payload")
        .mapInPandas(_extract_phash, schema=PHASH_SCHEMA)
    )
    q = (
        hashed.writeStream.format("memory")
        .queryName("stream_phash")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["phash_hi"], r["phash_lo"], r["modality"])
        for r in spark.sql("SELECT * FROM stream_phash").collect()
    }
    assert got == expected and len(got) == len(docs)


def test_streaming_cms_sketch_merges_across_microbatches(spark, tmp_path):
    """The count-min sketch is cell-wise additive, so the SAME cms_cells
    function running under readStream (update-mode aggregate over two
    micro-batch files) converges to exactly the batch-built sketch over
    the union — the mergeability property that lets per-day/per-shard
    sketches combine at 100 TB."""
    import json
    import os

    from pyspark.sql import functions as F

    from apitap_spark.functions.text import tokens
    from apitap_spark.operators.textstats import cms_cells

    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    batches = [
        [{"doc_id": i, "text": f"alpha beta gamma doc {i} alpha"} for i in range(5)],
        [{"doc_id": 10 + i, "text": f"beta delta epsilon doc {i}"} for i in range(5)],
    ]
    for bi, docs in enumerate(batches):
        with open(os.path.join(src, f"b{bi}.ndjson"), "w") as fh:
            for d in docs:
                fh.write(json.dumps(d) + "\n")

    schema = "doc_id long, text string"
    words_of = lambda df: df.select(F.explode(tokens("text")).alias("w"))

    batch_cells = {
        (r["d"], r["cell"]): r["cell_cnt"]
        for r in cms_cells(words_of(spark.read.schema(schema).json(src))).collect()
    }

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = (
        cms_cells(words_of(stream))
        .writeStream.format("memory")
        .queryName("stream_cms")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_cells = {
        (r["d"], r["cell"]): r["cell_cnt"]
        for r in spark.sql("SELECT * FROM stream_cms").collect()
    }
    assert stream_cells == batch_cells
    assert len(stream_cells) > 0


def test_stream_hourly_monitor_feed_equals_batch(spark, tmp_path):
    """The hourly cents pre-aggregate that feeds the monitoring family
    (EWMA / CUSUM / seasonal / TWAP baselines) must be computable
    incrementally: streaming it in two micro-batches (complete mode)
    yields exactly the batch groupBy's integers."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "events")
    b1 = [
        _ev(1, "2024-01-01T00:10:00Z", value=1.25),
        _ev(2, "2024-01-01T00:40:00Z", value=2.50),
        _ev(3, "2024-01-01T01:05:00Z", typ="view", value=3.75),
    ]
    b2 = [
        _ev(4, "2024-01-01T00:55:00Z", value=4.00),  # late into hour 0
        _ev(5, "2024-01-01T02:20:00Z", typ="view", value=0.30),
    ]
    _write_events(src, "b1.json", b1)

    def hourly(df):
        return (
            df.select(
                "event_type",
                F.floor(F.col("ts").cast("long") / 3600)
                .cast("bigint")
                .alias("h"),
                F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
            )
            .groupBy("event_type", "h")
            .agg(F.sum("c").cast("bigint").alias("v_cents"))
        )

    stream = hourly(read_event_stream(spark, src))
    q = (
        stream.writeStream.format("memory")
        .queryName("hourly_feed")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    _write_events(src, "b2.json", b2)
    q2 = (
        stream.writeStream.format("memory")
        .queryName("hourly_feed2")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    streamed = {
        (r["event_type"], r["h"]): r["v_cents"]
        for r in spark.sql("SELECT * FROM hourly_feed2").collect()
    }
    batch_df = spark.createDataFrame(
        [
            (e["event_id"], e["ts"], e["user_id"], e["event_type"], e["value"], e["props"])
            for e in b1 + b2
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    batch = {
        (r["event_type"], r["h"]): r["v_cents"]
        for r in hourly(batch_df).collect()
    }
    assert streamed == batch and len(batch) == 3
    assert batch[("click", 473352)] == 775  # 125 + 250 + 400 cents in hour 0
