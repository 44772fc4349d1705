"""Structured Streaming ingestion: event streams with watermarks, windowed
aggregation, streaming dedup, and a foreachBatch merge sink.

The reference executes bounded micro-batches only
(``Boundedness::Bounded``, reference ``src/utils/execution.rs:72``) and
lists webhook/streaming ingestion as future work (``README.md``); this
module is the Spark-native extension: the same merge sink and SQL surface
over an unbounded source.

Scale notes:
* watermarks bound state — without them windowed aggs grow forever;
* ``dropDuplicatesWithinWatermark`` keeps dedup state bounded the same way;
* ``foreachBatch`` reuses the batch JdbcMergeWriter per micro-batch —
  merge-by-PK makes redelivery after failure idempotent (effectively
  exactly-once into the warehouse).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENT_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source event stream (the container-friendly stand-in for
    Kafka/webhook sources — swap ``format`` only; the rest of the pipeline
    is source-agnostic)."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window counts/sums per event type with late-data handling.

    The watermark bounds aggregation state and admits events up to
    ``watermark`` late; later ones drop (documented, deterministic)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """At-most-once per event_id within the watermark horizon
    (dropDuplicatesWithinWatermark keeps state bounded — the streaming
    sibling of op_dedup_exact)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_merge_to_sink(
    stream_df: DataFrame,
    writer,
    checkpoint_dir: str,
    trigger: dict | None = None,
):
    """Continuously merge a stream into the warehouse via foreachBatch.

    ``writer`` is a JdbcMergeWriter; each micro-batch runs the same
    partition-parallel merge as the batch path. Returns the
    StreamingQuery (caller awaits/stops). ``trigger`` defaults to
    availableNow — note Python data sources (PythonMicroBatchStream)
    don't honor availableNow and fall back to ONE batch; callers
    streaming from those should pass
    ``{"processingTime": "0 seconds"}`` and drain with
    ``processAllAvailable()`` (run_module_stream does)."""
    def sink_batch(batch_df: DataFrame, _batch_id: int):
        if batch_df.take(1):
            writer.write(batch_df)  # prepare() inside is IF NOT EXISTS — idempotent

    return (
        stream_df.writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def stream_incremental_dedup(
    docs_stream: DataFrame, store_dir: str, out_dir: str, checkpoint_dir: str
):
    """Streaming ingestion dedup: classify each document micro-batch
    against the persistent corpus signature store, then fold the batch's
    genuinely-new signatures into the store.

    Per micro-batch (foreachBatch):
      1. read the store (text_hash → canonical_doc_id; empty on first
         batch),
      2. classify the batch via operators.incremental.incremental_exact
         ('corpus_dup' / 'batch_dup' / 'unique'),
      3. append classifications to ``out_dir``,
      4. append the batch canonicals whose hash is NOT yet stored
         (anti-join) to the store.

    Work per batch is proportional to the BATCH — the corpus appears
    only through its signature store, exactly like the batch-mode
    incremental operator. Production hardening: route both appends
    through the merge sink (sinks.jdbc_merge) or a transactional table
    format so a retried batch stays idempotent; plain parquet append is
    used here to keep the example self-contained.
    """
    from apitap_spark.operators.incremental import (
        build_signature_store,
        incremental_exact,
    )

    store_schema = "text_hash string, canonical_doc_id bigint"

    def per_batch(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            store = spark.read.schema(store_schema).parquet(store_dir)
            store.first()  # force existence check
        except Exception:
            store = spark.createDataFrame([], store_schema)
        store = store.localCheckpoint()  # one stable read per batch
        classified = incremental_exact(batch_df, store).localCheckpoint()
        classified.write.mode("append").parquet(out_dir)
        new_sigs = build_signature_store(batch_df).join(
            store.select("text_hash"), "text_hash", "anti"
        )
        new_sigs.write.mode("append").parquet(store_dir)

    return (
        docs_stream.writeStream.foreachBatch(per_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def running_user_totals(events: DataFrame, timeout_sec: int = 3600) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    event count + value total, emitted every micro-batch.

    The GroupState holds one (count, total) pair per user — O(users)
    state, partitioned by the grouping key across executors; the timeout
    reaps idle users so state stays bounded (the hand-rolled analog of
    watermark eviction).

    An availableNow trigger over it does not terminate, and
    ``processAllAvailable()`` does not return: with a processing-time
    timeout the operator asks for a no-data batch after every batch, so
    a next batch always exists. Stop the query yourself, or start it
    with ``spark.sql.streaming.noDataMicroBatches.enabled=false`` (then
    timeouts fire only in batches that carry data).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, total_value double"
    state_schema = "n bigint, total double"

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _totals_update(timeout_sec),
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def _totals_update(timeout_sec: int):
    """Build the applyInPandasWithState update fn for running_user_totals
    (module-level so the timeout branch is unit-testable with a stub
    GroupState)."""

    def update(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            # idle past the timeout: evict the user's state entirely and
            # emit nothing (re-updating here would both leak state forever
            # and emit a spurious duplicate row per timeout)
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        state.setTimeoutDuration(timeout_sec * 1000)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    return update


def stream_pack_tokens(
    seqs: DataFrame, seq_len: int, eos: int, shard_col: str | None = None
) -> DataFrame:
    """Streaming training-row packer: the stateful twin of
    op_bpe_pack_training_rows. Encoded documents arrive as micro-batches
    of (doc_id, token_ids); per shard the GroupState carries the packed
    remainder (< seq_len tokens) and the emitted-row counter across
    batches, so rows never straddle a batch boundary incorrectly and
    only FULL rows are emitted (the tail stays in state until more data
    arrives — standard training-shard semantics).

    ``shard_col`` keys the packer: one carry buffer per shard, packing
    parallel across shards (op_shard_plan output is the natural key).
    Without it everything packs through one sequential key — fine for a
    demo, a bottleneck at scale, exactly like a single-shard batch job.
    Docs within a micro-batch pack in doc_id order; cross-batch order is
    arrival order (deterministic under availableNow file listing).

    ``eos`` has no default on purpose: it must be OUT-OF-BAND (one past
    the dense id range, = vocabulary size, matching pack_rows_frame) —
    a silent in-band default would make every occurrence of that token
    indistinguishable from a document boundary downstream.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "shard bigint, row_id bigint, token_ids array<bigint>"
    state_schema = "carry array<bigint>, emitted bigint"

    def update(key, pdfs, state):
        import pandas as pd

        carry, emitted = state.get if state.exists else ([], 0)
        toks = list(carry)
        # materialize ALL pandas chunks before sorting: the group arrives
        # as an iterator of Arrow-sized chunks in arbitrary inter-chunk
        # order — per-chunk sorts would break the doc_id-order contract
        # for shards larger than one Arrow batch
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            batch = pd.concat(chunks).sort_values("doc_id")
            for ids in batch["token_ids"]:
                toks.extend(int(t) for t in ids)
                toks.append(eos)
        # emit by index, single remainder copy — no O(n^2) re-slicing
        n_full = len(toks) // seq_len
        rows = [
            (int(key[0]), emitted + i, toks[i * seq_len : (i + 1) * seq_len])
            for i in range(n_full)
        ]
        state.update((toks[n_full * seq_len :], emitted + n_full))
        yield pd.DataFrame(rows, columns=["shard", "row_id", "token_ids"])

    keyed = (
        seqs.withColumn("shard", F.col(shard_col).cast("bigint"))
        if shard_col
        else seqs.withColumn("shard", F.lit(0).cast("bigint"))
    )
    return keyed.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def click_purchase_attribution(
    events: DataFrame, attribution_window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked stream-stream join: each purchase attributed to the same
    user's click within the attribution window.

    Both sides carry watermarks and the join condition bounds event time,
    so Spark can expire join state — the requirement for an unbounded
    stream-stream join to run with bounded memory.
    """
    from pyspark.sql import functions as F

    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"""
            c_user = p_user
            AND purchase_ts >= click_ts
            AND purchase_ts <= click_ts + INTERVAL {attribution_window}
            """
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "amount",
    )
