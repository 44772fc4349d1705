"""File-format sources (SURVEY §2.1 S23 — the reference has none; Spark
provides them natively, exposed here with the engine's inference policy).
Datasets are written by ``sinks/dataset.write_dataset``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_files(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: str | None = None,
    sample_ratio: float | None = None,
    **options,
) -> DataFrame:
    """Read parquet/csv/json/ndjson with the engine's defaults.

    * csv: header + schema inference unless an explicit schema pins types
      (inference reads the data twice — always pass a schema at scale).
    * json: Spark's native sample→widen→string-fallback inference, the
      same lattice the HTTP source uses (SURVEY §1.2).
    """
    fmt = {"ndjson": "json"}.get(fmt, fmt)
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
        if not schema:
            options.setdefault("inferSchema", "true")
    if fmt == "json" and sample_ratio:
        options.setdefault("samplingRatio", str(sample_ratio))
    return reader.options(**options).format(fmt).load(path)

