"""Shared SparkSession management.

Mirrors the reference's single shared engine context
(``src/utils/datafusion_ext.rs:22-51`` — one global DataFusion
``SessionContext`` behind a OnceCell). In Spark the session *is* the
engine: one ``SparkSession`` per process, tuned for the target scale.

Scale notes (100 TB design, local[32] test):
* AQE on — runtime shuffle-partition coalescing, skew-join splitting
  and dynamic join-strategy demotion replace hand-tuning at scale.
* Arrow enabled — every Pandas UDF / toPandas crossing is columnar.
* ``spark.sql.shuffle.partitions`` defaults to 2x local cores for the
  test harness; on a real cluster AQE coalesces from a high initial
  number, so the static value matters little.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_APP_NAME = "apitap-spark"


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def get_session(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Get-or-create the shared SparkSession.

    Parameters are honored only on first creation (Spark semantics);
    subsequent calls return the live session, matching the reference's
    process-wide shared context.
    """
    par = _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python data sources may push filters (sources/pgsource.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(par * 2, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # JDK 17 defaults ReservedCodeCacheSize to 240 MB; a long-lived
        # session running hundreds of distinct whole-stage-codegen plans
        # (the bench suite, a pipeline scheduler) fills it, the JIT stops
        # compiling, and LATER jobs run progressively slower — measured as
        # a monotone 1.0x -> 1.3x per-gate inflation across the round-9
        # suite with flat warmup. Local mode = one JVM, so sizing the
        # driver's cache covers the executors too.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{par}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _persistent_rdd_ids(spark: SparkSession) -> set[int]:
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keySet().iterator()
    out: set[int] = set()
    while it.hasNext():
        out.add(it.next())
    return out


def pinned_local_checkpoint(df, spark: SparkSession):
    """``df.localCheckpoint()`` plus the persistent-RDD ids it created.

    The ids are diffed around the checkpoint — callers are the
    single-threaded driver loop, so the diff is exact. :func:`memo`
    records them on the entry, which exempts them from
    release_persisted until the entry is released or cleared.
    """
    before = _persistent_rdd_ids(spark)
    d = df.localCheckpoint()
    return d, _persistent_rdd_ids(spark) - before


# Session-wide memo telemetry: every memo lookup reports whether it
# BUILT the shared value or HIT an existing one. bench.py reads the
# deltas around each gate to tag freeze rows, so a 0.04s cache-read
# timing is never mistaken for the operator's cost (round-8 verdict #4).
# Round-11 (r10 verdict #3): events also carry the memo FAMILY name so
# the bench can publish build-inclusive per-family totals
# (memo_family_sec) next to the per-gate hit/build tags.
MEMO_COUNTERS = {"hits": 0, "builds": 0}
MEMO_FAMILY_COUNTERS: dict[str, int] = {}


def note_memo_event(hit: bool, family: str) -> None:
    MEMO_COUNTERS["hits" if hit else "builds"] += 1
    k = f"{family}:{'hit' if hit else 'build'}"
    MEMO_FAMILY_COUNTERS[k] = MEMO_FAMILY_COUNTERS.get(k, 0) + 1


def context_key(spark: SparkSession) -> str:
    """Stable identity for per-context cache keys.

    ``id(spark.sparkContext)`` is unsafe: after a context is stopped
    and garbage-collected, CPython can hand the same id to a NEW
    context, returning cached DataFrames bound to the dead JVM session
    (round-8 ADVICE #3). ``applicationId:startTime`` is unique per JVM
    context and never recycled. Cached on the Python wrapper so the
    two py4j round-trips happen once per context, not per lookup.
    """
    sc = spark.sparkContext
    tok = sc.__dict__.get("_apitap_ctx_token")
    if tok is None:
        tok = f"{sc.applicationId}:{sc.startTime}"
        sc.__dict__["_apitap_ctx_token"] = tok
    return tok


# The session memo: (context_key, *key) -> (value, pinned RDD ids).
# Values are results shared ACROSS independent gate jobs — built once
# per (context, sf_dir), held for the session's lifetime. Memoize ONLY
# values orders of magnitude smaller than their inputs (pair lists,
# top-k tables, degree tables, vocabularies, driver-side scalars).
_MEMO: dict[tuple, tuple] = {}
# Module bookkeeping that describes memo entries and must reset with
# them (bpe's consumed-gate sets); clear_memos() empties each dict.
MEMO_BOOKKEEPING: list[dict] = []


def memo(spark: SparkSession, key: tuple, build, family: str):
    """``build()`` once per (:func:`context_key`, *key); later calls
    return the same object.

    A DataFrame value is stored as a pinned local checkpoint, a tuple
    with each of its DataFrames pinned in tuple order, anything else
    as-is. Pinned blocks survive release_persisted sweeps (RDD-level,
    so they also survive ``spark.catalog.clearCache()``) until
    :func:`release_memo` or :func:`clear_memos` unpins them.
    """
    k = (context_key(spark), *key)
    if k in _MEMO:
        note_memo_event(hit=True, family=family)
        return _MEMO[k][0]
    note_memo_event(hit=False, family=family)
    value = build()
    ids: set[int] = set()

    def pin(v):
        if not isinstance(v, DataFrame):
            return v
        d, new = pinned_local_checkpoint(v, spark)
        ids.update(new)
        return d

    value = tuple(map(pin, value)) if isinstance(value, tuple) else pin(value)
    _MEMO[k] = (value, ids)
    return value


def release_memo(spark: SparkSession, key: tuple) -> None:
    """Unpin ONE entry and forget it (r10 verdict #4: bound
    corpus-sized pins). The blocks stay persisted until the host's next
    ``release_persisted`` sweep, so a frame the CURRENT gate still
    reads is safe — only future lookups rebuild."""
    _MEMO.pop((context_key(spark), *key), None)


def clear_memos() -> None:
    """Unpin and forget every entry; the next release_persisted sweep
    frees the blocks."""
    _MEMO.clear()
    for d in MEMO_BOOKKEEPING:
        d.clear()


def release_persisted(spark: SparkSession) -> int:
    """Unpersist every non-pinned RDD still in storage memory.

    ``spark.catalog.clearCache()`` only drops catalog-cached *Datasets*;
    ``DataFrame.localCheckpoint()`` pins RDD-level blocks that linger
    until ContextCleaner GC. In a long-lived session running many
    independent operator jobs (the bench suite, a pipeline scheduler),
    those blocks accumulate and later jobs execute under storage-memory
    pressure. Calling this BETWEEN jobs is safe — nothing references the
    finished job's frames — but never mid-job: unpersisting a
    localCheckpointed RDD whose lineage was truncated discards data that
    cannot be recomputed. Blocks pinned by :func:`memo` are skipped —
    they are still live by design (unpinning a truncated-lineage
    checkpoint a later gate reads fails it with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
    """
    pinned = set().union(*(ids for _value, ids in _MEMO.values()))
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
    n = 0
    it = jmap.keySet().iterator()
    while it.hasNext():
        rid = it.next()
        if rid in pinned:
            continue
        jmap.get(rid).get().unpersist(False)
        n += 1
    return n


def scan_parallel(df, spark: SparkSession):
    """Round-robin repartition a split-starved scan up to the session's
    parallelism (guide §2.5 "input skew: one huge unsplittable file …
    repartition immediately after the read").

    The driver testdata ships each table as ONE single-row-group parquet
    file, so every scan is one task and heavy per-row compute above it
    (the 128-permutation MinHash aggregate, corpus shingle explodes)
    runs single-threaded regardless of core count. At production scale
    inputs arrive as many splits and this is a no-op — the guard is the
    ACTUAL scan partition count, not a constant. Only use above
    order-independent math (integer counts, min/max, per-row hashes):
    round-robin changes row order, which would flip float-sum results.
    """
    n_par = max(1, spark.sparkContext.defaultParallelism)
    if df.rdd.getNumPartitions() < n_par:
        return df.repartition(n_par)
    return df


def _schema_file(fs, hpath):
    """The file whose footer Spark's schema inference reads for
    ``hpath``: the path itself, or a directory's first data file by
    path, skipping the names Spark's file index hides (``.crc`` files,
    ``_SUCCESS``, ``_temporary``; ``k=v`` partition directories stay)."""
    status = fs.getFileStatus(hpath)
    if not status.isDirectory():
        return status
    files, dirs = {}, [status]
    while dirs:
        for st in fs.listStatus(dirs.pop().getPath()):
            name = st.getPath().getName()
            if name.startswith(".") or (name.startswith("_") and "=" not in name):
                continue
            if st.isDirectory():
                dirs.append(st)
            else:
                files[st.getPath().toString()] = st
    if not files:
        raise ValueError(f"no parquet data file under {hpath.toString()}")
    return files[min(files)]


def parquet_footer_schema(spark: SparkSession, path: str):
    """The schema ``spark.read.parquet(path)`` infers for a file or a
    directory, read from one footer on the driver (the file
    :func:`_schema_file` picks, as inference does) instead of in a
    one-task job.

    Calls the converter inference itself calls
    (``ParquetFileFormat.readSchema`` over
    ``readParquetFootersInParallel``), under the session's current
    parquet confs and its ``spark.sql.files.ignoreCorruptFiles``.
    """
    import json

    from pyspark.sql.types import StructType

    jvm, jss = spark._jvm, spark._jsparkSession
    conf = jss.sessionState().newHadoopConf()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    files = jvm.java.util.ArrayList()
    files.add(_schema_file(hpath.getFileSystem(conf), hpath))
    parquet = getattr(
        getattr(jvm.org.apache.spark.sql.execution.datasources.parquet, "ParquetFileFormat$"),
        "MODULE$",
    )
    footers = parquet.readParquetFootersInParallel(
        conf,
        jvm.scala.jdk.javaapi.CollectionConverters.asScala(files).toSeq(),
        jss.sessionState().conf().ignoreCorruptFiles(),
    )
    schema = parquet.readSchema(footers, jss)
    if schema.isEmpty():
        raise ValueError(f"no readable parquet footer in {path}")
    return StructType.fromJson(json.loads(schema.get().json()))


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver parquet table, normalizing engine quirks.

    ``events.parquet`` has carried TIMESTAMP(NANOS) (rejected by Spark's
    vectorized reader; read as long + truncated to micros) and plain
    micros-no-tz (which Spark 4 infers as TIMESTAMP_NTZ, breaking
    ``cast(ts as long)`` epoch arithmetic). Both are normalized here to
    session-UTC TimestampType — the same instant DuckDB surfaces, so
    oracles agree across data generations.

    The schema comes from the file footer on the driver
    (:func:`parquet_footer_schema`), so a read launches no Spark job.
    """
    import os as _os

    from pyspark.sql import functions as F

    path = _os.path.join(sf_dir, f"{name}.parquet")
    # Read no-tz parquet timestamps as TimestampType (LTZ) — the session
    # timezone is pinned to UTC so the wall-clock values are unchanged.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(parquet_footer_schema(spark, path)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer div, not `/`: double division of ~1.7e18 nanos loses
        # precision (53-bit mantissa) and can round the microsecond up,
        # off-by-1µs vs DuckDB's truncation
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":  # defensive: pre-conf cached reads
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> dict:
    """Load the driver's parquet tables as DataFrames and register temp views.

    Returns {name: DataFrame}. Missing files are skipped silently so the
    same helper works for datasets lacking e.g. documents/embeddings.
    """
    names = tables or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
