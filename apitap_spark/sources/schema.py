"""Flat JSON schema inference without a SparkSession, and the row
conversion of the streaming HTTP source.

Mirrors the reference's streaming inferencer semantics
(``src/utils/schema.rs:10-129``): JSON → {Boolean, Int64, Float64, Utf8},
arrays/objects serialize to strings, widening lattice
Int64 ⊔ Float64 = Float64 and anything ⊔ Utf8 = Utf8, ≤sample-size cutoff,
all fields nullable. Used by ``readStream.format("apitap_http")``, whose
``schema()`` hook runs in a planning worker with no Spark context.

(The batch read, ``HttpSource.load``, keeps nested structs and arrays:
its schema comes from Spark's JSON inference, matching the reference's
serde_arrow path, SURVEY §1.2a.)
"""

from __future__ import annotations

import json

from pyspark.sql import types as T

from apitap_spark.sources.http import _EXACT, _RAW, _as_raw

_BOTTOM = "string"
_ORDER = {"boolean": 0, "bigint": 1, "double": 2, "string": 3}


def _type_of(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "bigint"
    if isinstance(v, float):
        return "double"
    if isinstance(v, str):
        return "string"
    return _BOTTOM  # arrays/objects stringify (reference schema.rs:58-66)


def _merge(a: str | None, b: str | None) -> str | None:
    """Widening lattice (reference schema.rs:106-129)."""
    if a is None:
        return b
    if b is None or a == b:
        return a
    if {a, b} == {"bigint", "double"}:
        return "double"
    return _BOTTOM


def infer_schema_simple(rows: list[dict], sample_size: int = 100) -> T.StructType:
    """Infer a flat StructType from ≤sample_size JSON objects.

    Raises ValueError on an empty sample or non-object rows (the reference
    errors identically, schema.rs tests)."""
    sample = rows[:sample_size]
    if not sample:
        raise ValueError("cannot infer schema from an empty sample")
    merged: dict[str, str | None] = {}
    order: list[str] = []
    for row in sample:
        if not isinstance(row, dict):
            raise ValueError(f"expected JSON objects, got {type(row).__name__}")
        for k, v in row.items():
            if k not in merged:
                merged[k] = None
                order.append(k)
            merged[k] = _merge(merged[k], _type_of(v))
    fields = [
        T.StructField(k, _spark_type(merged[k] or _BOTTOM), nullable=True)
        for k in order
    ]
    return T.StructType(fields)


def _spark_type(name: str) -> T.DataType:
    return {
        "boolean": T.BooleanType(),
        "bigint": T.LongType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
    }[name]


def coerce_row(row, schema: T.StructType) -> tuple:
    """One JSON row as a tuple in schema order. Each value converts as in
    the batch fetch task (``http._EXACT``); a value that does not convert
    exactly lands NULL, so drift null-fills as ``from_json`` does. A
    string field takes a non-string value's compact JSON text. A row that
    is not an object lands all NULL."""
    if not isinstance(row, dict):
        row = {}
    out = []
    for f in schema.fields:
        v = row.get(f.name)
        if v is not None:
            if isinstance(f.dataType, T.StringType) and type(v) is not str:
                v = json.dumps(v, separators=(",", ":"))
            else:
                v = _EXACT.get(type(f.dataType), _as_raw)(v)
                if v is _RAW:
                    v = None
        out.append(v)
    return tuple(out)
