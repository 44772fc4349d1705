"""Library one-shot API: JSON values → queryable table → SQL → results.

Parity with the reference's embedding surface (entry point C, SURVEY §3.3):
``JsonValueExt::to_df`` / ``to_sql`` (reference
``src/utils/datafusion_ext.rs:76-148``) and the result accessors
``to_vec/to_json/to_stream`` (``:166-218``). Temp-view lifecycle is scoped:
the view is dropped when the returned handle is closed (the reference
deregisters on Drop, ``:67-71``).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from apitap_spark.pipeline.templating import unique_view_name
from apitap_spark.sources.http import HttpSource


def json_to_df(spark: SparkSession, values: list | dict, sample_size: int = 100) -> DataFrame:
    """JSON rows → DataFrame with sampled-inference schema
    (reference ``Value::to_df``, src/utils/datafusion_ext.rs:54-71): the
    rows are the one page of an HTTP fetch plan, decoded as fetched
    pages are."""
    rows = values if isinstance(values, list) else [values]
    src = HttpSource(name="json", url="-", sample_size=sample_size)
    return src.pages_frame(spark, rows, 1)


class SqlResult:
    """Queryable handle whose temp view lives until ``close()``
    (reference ``SqlDataFrame`` + RAII deregister)."""

    def __init__(self, spark: SparkSession, df: DataFrame, view: str):
        self.spark = spark
        self.df = df
        self.view = view

    def to_json(self) -> list[str]:
        return self.df.toJSON().collect()

    def to_vec(self) -> list[dict]:
        return [json.loads(s) for s in self.to_json()]

    def to_stream(self) -> Iterator[dict]:
        for row in self.df.toLocalIterator():
            yield row.asDict(recursive=True)

    def close(self) -> None:
        self.spark.catalog.dropTempView(self.view)

    def __enter__(self) -> SqlResult:
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def json_sql(
    spark: SparkSession, values: list | dict, table: str, sql: str
) -> SqlResult:
    """Register JSON rows under a collision-safe view name and run SQL
    (reference ``Value::to_sql``, src/utils/datafusion_ext.rs:111-148).

    The SQL must reference the table as a ``{table}`` placeholder, which
    renders to the resolved unique view name — never a substring replace
    (the reference's replace corrupts queries when the table name appears
    inside other identifiers, SURVEY §7.4)."""
    if ("{%s}" % table) not in sql:
        raise ValueError(f"SQL must reference the table as {{{table}}}")
    view = unique_view_name(table)
    json_to_df(spark, values).createOrReplaceTempView(view)
    try:
        df = spark.sql(sql.format(**{table: view}))
    except Exception:
        spark.catalog.dropTempView(view)
        raise
    return SqlResult(spark, df, view)
