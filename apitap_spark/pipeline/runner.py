"""Pipeline orchestrator + CLI (SURVEY §2.3 T7–T9, reference
``src/cmd/mod.rs:73-201``, ``src/pipeline/run.rs:20-124``).

Per module (sequentially, like the reference): render → resolve source +
target → register the HTTP source as a temp view → ``spark.sql`` over the
WHOLE source (entry 3.1 semantics — never the reference's per-page SQL
quirk, SURVEY §7.4) → merge/append into the target; per-module stats
logged.
"""

from __future__ import annotations

import argparse
import json as _json
import logging
import time
from dataclasses import dataclass

from pyspark.sql import SparkSession

from apitap_spark.config.models import Config, load_config_from_path
from apitap_spark.pipeline.templating import list_sql_templates, render_module
from apitap_spark.sinks.jdbc_merge import (
    DuckDbDialect,
    JdbcMergeWriter,
    PostgresDialect,
    WriteMode,
)

log = logging.getLogger("apitap_spark.pipeline")


@dataclass
class ModuleStats:
    module: str
    sink_table: str
    rows_written: int
    duration_sec: float
    # per-source fetch telemetry {source_name: {pages, rows, retries}} —
    # the reference's FetchStats observability (src/http/fetcher.rs:345-533)
    fetch_stats: dict = None


def _writer_for(cfg: Config, target_name: str, dest_table: str, primary_key, mode):
    tgt = cfg.target(target_name)
    dialect = DuckDbDialect() if tgt.kind == "duckdb" else PostgresDialect()
    table = dest_table if "." in dest_table or tgt.kind == "duckdb" else f"{tgt.schema}.{dest_table}"
    return JdbcMergeWriter(
        tgt.conn_factory(),
        table,
        dialect=dialect,
        mode=mode,
        primary_key=primary_key,
    )


# Largest kind: postgres table (bytes on disk, and bytes of COPY text)
# that _register_pg_source reads on the driver. Measured with local[4]
# and PG 15, register + module query, medians of 5 alternating runs,
# driver read against the apitap_postgres DataSource: 2.2 MB 0.44 vs
# 1.04 s (GROUP BY) and 0.19 vs 0.85 s (id <= 100); 6.6 MB 1.06 vs 1.27
# and 0.55 vs 1.07 s; 11 MB 1.29 vs 1.18 and 0.78 vs 1.10 s; 60 MB 6.7
# vs 2.3 and 3.9 vs 1.0 s. The driver read scales with the table and
# the DataSource costs ~1 s flat (planner workers, a Python scan stage,
# pushdown), so the bound sits below the crossover, with a margin for
# hosts with more cores, where the DataSource's strides gain more.
DRIVER_READ_MAX_BYTES = 4 << 20


def _register_pg_source(spark: SparkSession, sc, view: str, watermark=None):
    """Register a postgres-kind source as a temp view. A table no larger
    than ``DRIVER_READ_MAX_BYTES``, nor than the session's broadcast
    threshold, is read once on the driver (``pgsource.read_on_driver``):
    no planner workers, no Python scan stage. A threshold of -1, which
    disables broadcast joins, disables this read too. Larger tables,
    views and partitioned tables ride the parallel pgsource reader
    (range partitioning + filter pushdown). ``watermark`` is an
    incremental ``(cursor_field, last)``: both paths apply
    ``cursor > last`` inside Postgres, the driver read in its COPY's
    WHERE clause and the reader through Catalyst pushdown."""
    from pyspark.sql import functions as F

    from apitap_spark.sources.pgsource import PostgresDataSource, read_on_driver

    options = {
        "dsn": sc.resolved_dsn(),
        "table": sc.table,
        "num_partitions": str(sc.num_partitions),
    }
    if sc.partition_column:
        options["partition_column"] = sc.partition_column
    # spark.sql.autoBroadcastJoinThreshold in bytes, -1 when disabled
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    df = read_on_driver(
        spark, options, min(threshold, DRIVER_READ_MAX_BYTES), watermark
    )
    if df is None:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        spark.dataSource.register(PostgresDataSource)
        df = spark.read.format("apitap_postgres").options(**options).load()
        if watermark is not None and watermark[0] in df.columns:
            df = df.filter(F.col(watermark[0]) > F.lit(watermark[1]))
    df.createOrReplaceTempView(view)
    return df


def run_module(
    spark: SparkSession,
    cfg: Config,
    modules_dir: str,
    rel_path: str,
    target_name: str,
    mode: WriteMode = WriteMode.MERGE,
    state=None,
) -> ModuleStats:
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    rendered = render_module(modules_dir, rel_path)
    if not rendered.sources:
        raise ValueError(f"module {rel_path}: no {{{{ use_source(...) }}}} call")
    # Register every referenced source under its unique view name.
    pk = None
    dest = rendered.sink
    incr_sources = []  # (source_name, cursor_field, persisted src_df)
    http_sources = []  # (source_name, HttpSource) for fetch telemetry
    for src_name, view in rendered.sources.items():
        sc = cfg.source(src_name)
        if getattr(sc, "kind", "http") == "postgres":
            # warehouse read-back: the high-watermark sync runs inside
            # Postgres on either read path (see _register_pg_source)
            incremental = sc.incremental and state is not None
            cursor = sc.incremental.cursor_field if incremental else None
            last = state.get(src_name) if incremental else None
            src_df = _register_pg_source(
                spark, sc, view, None if last is None else (cursor, last)
            )
            if incremental and cursor in src_df.columns:
                src_df.persist()
                incr_sources.append((src_name, cursor, src_df))
            pk = pk or sc.primary_key
            dest = dest or sc.dest_table
            continue
        http_src = sc.to_http_source()
        http_sources.append((src_name, http_src))
        if sc.incremental and state is not None:
            last = state.get(src_name)
            if last is not None:
                # high-watermark param: only rows past the last sync
                http_src.extra_params = dict(http_src.extra_params)
                http_src.extra_params[sc.incremental.cursor_param] = last
        src_df = http_src.register(spark, view)
        if sc.incremental and state is not None and sc.incremental.cursor_field in src_df.columns:
            # persist: the watermark agg and the module SQL both consume
            # this view — without a cache each action re-runs the HTTP fetch
            src_df.persist()
            incr_sources.append((src_name, sc.incremental.cursor_field, src_df))
        pk = pk or sc.primary_key
        dest = dest or sc.dest_table
    if not dest:
        raise ValueError(f"module {rel_path}: no sink() and source has no dest_table")

    result = spark.sql(rendered.sql)
    if incr_sources:
        # the watermark probe below re-reads the result after the write
        result = result.persist()
    mode = mode if pk else WriteMode.APPEND  # merge needs a PK
    writer = _writer_for(cfg, target_name, dest, pk, mode)
    try:
        # one execution: the write job also counts the rows it loaded
        writer.write(result)
        n = writer.rows_written
        # Advance watermarks only after the write committed. Prefer the
        # cursor max observed in the WRITTEN result (when the transform
        # preserves the cursor column) — that ties the watermark to rows
        # actually in the warehouse even if a cache block was lost and
        # the source re-fetched mid-run; otherwise fall back to the
        # persisted source view (best-effort: cache loss between agg and
        # write could skip rows — see ARCHITECTURE.md).
        for src_name, field, src_df in incr_sources:
            probe = result if field in result.columns else src_df
            row = probe.agg(F.max(field).alias("m")).collect()
            if row and row[0]["m"] is not None:
                state.advance(src_name, field, row[0]["m"])
    finally:
        result.unpersist()
        for _, _, src_df in incr_sources:
            src_df.unpersist()
    # Accumulator-backed fetch counts are complete here: the write job
    # above consumed every source partition.
    fetch = {name: src.stats().as_dict() for name, src in http_sources}
    stats = ModuleStats(
        rel_path, dest, n, round(time.perf_counter() - t0, 3), fetch_stats=fetch
    )
    log.info("module done", extra={"stats": stats.__dict__})
    return stats


def run_module_stream(
    spark: SparkSession,
    cfg: Config,
    modules_dir: str,
    rel_path: str,
    target_name: str,
    checkpoint_dir: str,
    mode: WriteMode = WriteMode.MERGE,
    max_rows_per_batch: int = 10000,
    poll_interval: str = "5 seconds",
):
    """Continuous-sync variant of :func:`run_module`: the module's single
    postgres-kind source becomes a STREAMING high-watermark read
    (``readStream.format("apitap_postgres")``), the module SQL runs per
    micro-batch, and the result merges into the target through the
    batch writer's foreachBatch bridge — the reference roadmap's
    "incremental sync" (README.md:123) as a long-running query instead
    of scheduler-driven re-runs.

    Exactly-once end to end: the source's offset log replays committed
    (start, end] cursor ranges deterministically, and the MERGE-by-PK
    sink makes batch replays idempotent. The watermark lives in the
    stream checkpoint, not in pipeline/state.py — restart with the same
    ``checkpoint_dir`` to resume. The query triggers continuously at
    ``poll_interval`` (processingTime — Python data sources don't honor
    availableNow): a caught-up sync issues ONE watermark probe per
    interval, never a tight SELECT loop against the production server.
    Tests pass "0 seconds" to drain immediately via
    ``q.processAllAvailable(); q.stop()``.

    Contract: exactly ONE ``use_source`` per streaming module, kind=
    postgres with ``incremental.cursor_field``; the module SQL must be
    a stateless transform (projection/filter/static joins) — streaming
    aggregations need watermark semantics that batch MERGE modules
    don't express. Returns the never-terminating StreamingQuery — the
    caller owns its lifecycle (awaitTermination for a daemon,
    processAllAvailable + stop for a bounded drain).
    """
    from apitap_spark.streaming.ingest import stream_merge_to_sink

    rendered = render_module(modules_dir, rel_path)
    if len(rendered.sources) != 1:
        raise ValueError(
            f"module {rel_path}: streaming sync needs exactly one source"
        )
    src_name, view = next(iter(rendered.sources.items()))
    sc = cfg.source(src_name)
    if getattr(sc, "kind", "http") != "postgres" or not sc.incremental:
        raise ValueError(
            f"source {src_name!r}: streaming sync requires kind=postgres "
            "with incremental.cursor_field"
        )
    from apitap_spark.sources.pgsource import PostgresDataSource

    spark.dataSource.register(PostgresDataSource)
    reader = (
        spark.readStream.format("apitap_postgres")
        .option("dsn", sc.resolved_dsn())
        .option("table", sc.table)
        .option("cursor_column", sc.incremental.cursor_field)
        .option("max_rows_per_batch", max_rows_per_batch)
    )
    # Late-commit fences from the config's incremental: block — see
    # PostgresSimpleStreamReader's visibility contract.
    if sc.incremental.cursor_slack is not None:
        reader = reader.option("cursor_slack", sc.incremental.cursor_slack)
    if sc.incremental.xmin_fence:
        reader = reader.option("xmin_fence", "true")
    stream_df = reader.load()
    stream_df.createOrReplaceTempView(view)
    result = spark.sql(rendered.sql)
    dest = rendered.sink or sc.dest_table
    if not dest:
        raise ValueError(
            f"module {rel_path}: no sink() and source has no dest_table"
        )
    pk = sc.primary_key
    writer = _writer_for(
        cfg, target_name, dest, pk, mode if pk else WriteMode.APPEND
    )
    return stream_merge_to_sink(
        result, writer, checkpoint_dir,
        trigger={"processingTime": poll_interval},
    )


def run_pipeline(
    spark: SparkSession,
    modules_dir: str,
    config_path: str,
    target_name: str | None = None,
    mode: WriteMode = WriteMode.MERGE,
    state_path: str | None = None,
) -> list[ModuleStats]:
    """Sequential module loop (T7). ``target_name`` defaults to the config's
    single target; ``state_path`` enables incremental high-watermark sync."""
    from apitap_spark.pipeline.state import PipelineState

    cfg = load_config_from_path(config_path)
    if target_name is None:
        if len(cfg.targets) != 1:
            raise ValueError("target_name required when config has multiple targets")
        target_name = next(iter(cfg.targets))
    state = PipelineState(state_path) if state_path else None
    stats = []
    for rel in list_sql_templates(modules_dir):
        stats.append(
            run_module(spark, cfg, modules_dir, rel, target_name, mode, state=state)
        )
    total = sum(s.rows_written for s in stats)
    log.info("pipeline done: %d modules, %d rows", len(stats), total)
    return stats


def _setup_logging(json_logs: bool, level: str) -> None:
    """Structured logging (T9, reference src/log/mod.rs)."""
    handler = logging.StreamHandler()
    if json_logs:

        class JsonFormatter(logging.Formatter):
            def format(self, record):
                payload = {
                    "ts": self.formatTime(record),
                    "level": record.levelname,
                    "logger": record.name,
                    "msg": record.getMessage(),
                }
                if hasattr(record, "stats"):
                    payload["stats"] = record.stats
                return _json.dumps(payload)

        handler.setFormatter(JsonFormatter())
    else:
        handler.setFormatter(
            logging.Formatter("%(asctime)s %(levelname)s %(name)s %(message)s")
        )
    logging.basicConfig(level=level.upper(), handlers=[handler], force=True)


def main(argv: list[str] | None = None) -> int:
    """CLI (T8, reference src/cmd/mod.rs:23-55):
    ``apitap-spark -m sql_dir -y pipelines.yaml --log-level debug``"""
    ap = argparse.ArgumentParser(prog="apitap-spark")
    ap.add_argument("-m", "--modules", required=True, help="directory of .sql modules")
    ap.add_argument("-y", "--yaml-config", required=True, help="pipelines YAML")
    ap.add_argument("-t", "--target", default=None, help="target name (default: sole target)")
    ap.add_argument("--write-mode", default="merge", choices=[m.value for m in WriteMode])
    ap.add_argument(
        "--state", default=None, help="JSON state file enabling incremental sync"
    )
    ap.add_argument(
        "--stream",
        default=None,
        metavar="CHECKPOINT_DIR",
        help="continuous sync: run each module as a streaming "
        "high-watermark query (postgres sources with "
        "incremental.cursor_field); per-module checkpoints live under "
        "this directory and a restart resumes from them",
    )
    ap.add_argument(
        "--poll-interval",
        default="5 seconds",
        help="streaming trigger interval (with --stream): how often a "
        "caught-up sync probes the source for new rows",
    )
    ap.add_argument("--log-json", action="store_true")
    ap.add_argument("--log-level", default="info")
    args = ap.parse_args(argv)
    _setup_logging(args.log_json, args.log_level)

    from apitap_spark.session import get_session

    spark = get_session(app_name="apitap-pipeline")
    if args.stream:
        import os as _os

        cfg = load_config_from_path(args.yaml_config)
        target = args.target
        if target is None:
            if len(cfg.targets) != 1:
                ap.error("--target required when config has multiple targets")
            target = next(iter(cfg.targets))
        # Terminations are recorded process-wide until reset: without
        # this, any streaming query that ran earlier in the process
        # (embedded use, a prior sync) makes awaitAnyTermination below
        # return IMMEDIATELY and tear down the fresh queries before
        # they deliver a single batch. Reset BEFORE starting ours so a
        # fast-failing query's termination is never cleared.
        spark.streams.resetTerminated()
        queries = []
        for rel in list_sql_templates(args.modules):
            ckpt = _os.path.join(
                args.stream, rel.replace("/", "__").removesuffix(".sql")
            )
            queries.append(
                run_module_stream(
                    spark, cfg, args.modules, rel, target, ckpt,
                    mode=WriteMode(args.write_mode),
                    poll_interval=args.poll_interval,
                )
            )
        log.info("streaming sync: %d module queries running", len(queries))
        # awaitAnyTermination, not a sequential await: with a per-query
        # await, a failure in any query OTHER than the one currently
        # awaited would be silently swallowed while the process keeps
        # running as if healthy. Any termination here is abnormal
        # (processingTime queries never finish on their own), so stop
        # the survivors and surface the dead query's exception.
        spark.streams.awaitAnyTermination()
        failed = [q for q in queries if not q.isActive]
        for q in queries:
            if q.isActive:
                q.stop()
        for q in failed:
            if q.exception() is not None:
                raise q.exception()
        return 1  # a streaming query terminated without an exception
    stats = run_pipeline(
        spark,
        args.modules,
        args.yaml_config,
        target_name=args.target,
        mode=WriteMode(args.write_mode),
        state_path=args.state,
    )
    for s in stats:
        print(_json.dumps(s.__dict__))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
