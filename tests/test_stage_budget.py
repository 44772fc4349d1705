"""Job budgets of gate builds and of ``session.read_table``.

A gate build's eager jobs are its fixed cost at testdata scale, so the
budgets are asserted on job counts read through a job group (as
``test_pipeline.test_run_module_job_budget`` does), not on wall time.
"""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import pytest


def _jobs_of(spark, fn):
    """``fn()``'s result and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"budget_{id(fn)}_{dt.datetime.now().timestamp()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _read_with_inference(spark, path):
    """The schema Spark infers for ``path`` (runs its inference job)."""
    return spark.read.parquet(path).schema


def test_read_table_footer_schema_matches_inference(spark, sf_dir):
    """Every sf0.01 test-data table: the footer schema equals Spark's
    inferred one, and ``read_table`` launches no job."""
    from apitap_spark.session import read_table

    d = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    if not os.path.isdir(d):
        pytest.skip("no sf0.01 test data")
    names = sorted(f[: -len(".parquet")] for f in os.listdir(d) if f.endswith(".parquet"))
    assert names
    for name in names:
        df, jobs = _jobs_of(spark, lambda: read_table(spark, d, name))
        assert jobs == 0, name
        # read_table left its confs set, so inference sees the same settings
        assert df.schema == _read_with_inference(spark, os.path.join(d, f"{name}.parquet")), name


_TS = [dt.datetime(2024, 1, 1, 12, 0, 0, 123456), None]


def _write_arrow_tables(d):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # TIMESTAMP(NANOS), the first generation of events.parquet
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array([1704110400123456789, None], pa.timestamp("ns")),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    mixed = pa.table(
        {
            "a": pa.array(_TS, pa.timestamp("us")),
            "b": pa.array([Decimal("1.23"), None], pa.decimal128(12, 2)),
            "c": pa.array([1, None], pa.int32()),
            "d": pa.array([[1, 2], None], pa.list_(pa.int64())),
        }
    )
    pq.write_table(mixed, os.path.join(d, "mixed.parquet"))
    pq.write_table(mixed.slice(0, 0), os.path.join(d, "empty.parquet"))


@pytest.mark.parametrize("nanos_as_long", ["true", "false"])
def test_footer_schema_matches_inference_on_arrow_files(spark, tmp_path, nanos_as_long):
    """pyarrow-written files: TIMESTAMP(NANOS) under both ``nanosAsLong``
    settings (where Spark refuses the type, so must the footer read),
    naive micros, decimal128, int32, list<int64>, and a 0-row file."""
    from apitap_spark.session import parquet_footer_schema

    d = str(tmp_path)
    _write_arrow_tables(d)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key)
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set(key, nanos_as_long)
    try:
        for name in ("events", "mixed", "empty"):
            path = os.path.join(d, f"{name}.parquet")
            if name == "events" and nanos_as_long == "false":
                for read in (parquet_footer_schema, _read_with_inference):
                    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
                        read(spark, path)
                continue
            got, jobs = _jobs_of(spark, lambda: parquet_footer_schema(spark, path))
            assert jobs == 0
            assert got == _read_with_inference(spark, path), name
    finally:
        spark.conf.set(key, old)


def test_footer_schema_reads_spark_written_directories(spark, tmp_path):
    """Spark-written datasets are directories: the footer of the file
    inference picks gives the same read schema (partition columns
    appended, all fields nullable), with no job."""
    from apitap_spark.session import parquet_footer_schema

    df = spark.range(6).selectExpr(
        "id", "CAST(id AS INT) AS i", "array(id) AS a", "id % 2 AS part"
    )
    df.write.parquet(str(tmp_path / "plain.parquet"))
    df.write.partitionBy("part").parquet(str(tmp_path / "parted.parquet"))
    df.limit(0).write.parquet(str(tmp_path / "empty.parquet"))
    for name in ("plain", "parted", "empty"):
        path = str(tmp_path / f"{name}.parquet")
        read, jobs = _jobs_of(
            spark, lambda: spark.read.schema(parquet_footer_schema(spark, path)).parquet(path)
        )
        assert jobs == 0, name
        assert read.schema == _read_with_inference(spark, path), name


def test_read_table_normalizes_arrow_files(spark, tmp_path):
    """``read_table`` over the pyarrow files: nanosecond ``events.ts``
    becomes session-UTC micros (truncated), naive micros stay
    TimestampType, and a 0-row file reads as an empty frame."""
    from apitap_spark.session import read_table

    d = str(tmp_path)
    _write_arrow_tables(d)
    ev, jobs = _jobs_of(spark, lambda: read_table(spark, d, "events"))
    assert jobs == 0
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = dict(ev.selectExpr("event_id", "unix_micros(ts)").collect())
    assert got == {1: 1704110400123456, 2: None}
    mixed = read_table(spark, d, "mixed")
    assert mixed.dtypes == [
        ("a", "timestamp"), ("b", "decimal(12,2)"), ("c", "int"), ("d", "array<bigint>")
    ]
    assert mixed.collect()[0]["b"] == Decimal("1.23")
    assert read_table(spark, d, "empty").count() == 0


def test_q5_build_launches_no_job(spark, sf_dir):
    """q5 is one compute plan: building it reads six tables and must
    launch nothing (each schema inference used to be one job)."""
    from apitap_spark.plans import QUERIES

    df, jobs = _jobs_of(spark, lambda: QUERIES["q5_region_revenue"](spark, sf_dir))
    assert jobs == 0
    assert df.count() > 0


def test_pagerank_build_job_budget(spark, sf_dir):
    """PageRank: at most 4 jobs per round (one checkpointed state update
    each, its scalars observed on that job) plus 5 for the state build."""
    from apitap_spark.operators.graph import PAGERANK_ITERS, op_graph_pagerank

    df, jobs = _jobs_of(spark, lambda: op_graph_pagerank(spark, sf_dir))
    assert jobs <= 4 * PAGERANK_ITERS + 5
    assert df.count() > 0
