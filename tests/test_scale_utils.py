"""Scale utility tests: salted join equivalence on skewed data, partition
diagnostics, file source round-trips."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from apitap_spark.functions.scale import (
    partition_row_histogram,
    salted_join,
    skew_factor,
)
from apitap_spark.sinks.dataset import DatasetSpec, write_dataset
from apitap_spark.sources.files import read_files


@pytest.fixture(scope="module")
def skewed(spark):
    # 10k rows, 90% on key=1 (hot), rest spread over 2..100
    return spark.range(10000).select(
        F.when(F.col("id") % 10 < 9, 1).otherwise((F.col("id") % 99) + 2).alias("k"),
        (F.col("id") * 3).alias("payload"),
    )


@pytest.fixture(scope="module")
def dim(spark):
    return spark.range(1, 101).select(
        F.col("id").cast("int").alias("k"), F.concat(F.lit("dim_"), F.col("id")).alias("label")
    )


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_salted_inner_join_matches_plain(spark, skewed, dim):
    plain = skewed.join(dim, "k").select("k", "payload", "label")
    salted = salted_join(skewed, dim, "k", salt=8).select("k", "payload", "label")
    assert _sorted_rows(salted) == _sorted_rows(plain)


def test_salted_left_join_matches_plain(spark, skewed, dim):
    small = dim.filter(F.col("k") <= 50)  # some large keys unmatched
    plain = skewed.join(small, "k", "left").select("k", "payload", "label")
    salted = salted_join(skewed, small, "k", how="left", salt=8).select(
        "k", "payload", "label"
    )
    assert _sorted_rows(salted) == _sorted_rows(plain)


def test_salted_join_rejects_outer(skewed, dim):
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(skewed, dim, "k", how="full")


def test_salt_spreads_hot_key(spark, skewed):
    salted = skewed.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(8))
    )
    n_salts = (
        salted.filter(F.col("k") == 1).select("_salt").distinct().count()
    )
    assert n_salts == 8  # the hot key now occupies all 8 salt buckets


def test_skew_factor_detects(spark, skewed):
    assert skew_factor(skewed, "k") > 10  # hot key dominates
    uniform = spark.range(1000).select((F.col("id") % 100).alias("k"))
    assert skew_factor(uniform, "k") == pytest.approx(1.0)


def test_partition_histogram(spark):
    df = spark.range(1000).repartition(4)
    hist = partition_row_histogram(df).collect()
    assert sum(r["n_rows"] for r in hist) == 1000
    assert len(hist) == 4


def test_file_roundtrip_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", "2024-01"), (2, "b", "2024-01"), (3, "c", "2024-02")],
        "id long, v string, month string",
    )
    out = os.path.join(tmp_path, "ds")
    write_dataset(df, DatasetSpec(path=out, partition_by=("month",)))
    back = read_files(spark, out)
    assert sorted(r["id"] for r in back.collect()) == [1, 2, 3]
    # hive-style partition dirs exist → partition pruning possible
    assert os.path.isdir(os.path.join(out, "month=2024-01"))
    pruned = back.filter(F.col("month") == "2024-02")
    assert pruned.count() == 1


def test_csv_inference_roundtrip(spark, tmp_path):
    p = os.path.join(tmp_path, "c.csv")
    with open(p, "w") as fh:
        fh.write("id,score,name\n1,1.5,a\n2,2.5,b\n")
    df = read_files(spark, p, fmt="csv")
    assert dict(df.dtypes) == {"id": "int", "score": "double", "name": "string"}
    assert df.count() == 2

