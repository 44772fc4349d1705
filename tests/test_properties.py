"""Property-based tests (hypothesis) for the pure logic: inference lattice,
identifier quoting, data_path drill. The reference admits
"no property-based tests" (SURVEY §5) — this closes that gap."""

from __future__ import annotations

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from apitap_spark.sinks.jdbc_merge import quote_ident
from apitap_spark.sources.http import drill_data_path
from apitap_spark.sources.schema import _merge, infer_schema_simple

TYPES = st.sampled_from([None, "boolean", "bigint", "double", "string"])

json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**53), max_value=2**53),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=20),
)


@given(a=TYPES, b=TYPES)
def test_merge_commutative(a, b):
    assert _merge(a, b) == _merge(b, a)


@given(a=TYPES, b=TYPES, c=TYPES)
def test_merge_associative(a, b, c):
    assert _merge(_merge(a, b), c) == _merge(a, _merge(b, c))


@given(a=TYPES)
def test_merge_idempotent(a):
    assert _merge(a, a) == a


@given(
    rows=st.lists(
        st.dictionaries(
            st.text(min_size=1, max_size=8).filter(lambda s: s.isidentifier()),
            json_scalars,
            max_size=5,
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=50)
def test_inference_total_and_order_stable(rows):
    """Inference never crashes on object rows; field order follows first
    appearance; all fields nullable."""
    schema = infer_schema_simple(rows)
    seen = []
    for r in rows:
        for k in r:
            if k not in seen:
                seen.append(k)
    assert [f.name for f in schema.fields] == seen
    assert all(f.nullable for f in schema.fields)


@given(name=st.text(min_size=1, max_size=30))
def test_quote_ident_always_balanced(name):
    q = quote_ident(name)
    assert q.startswith('"') and q.endswith('"')
    # unquoting inverts quoting
    assert q[1:-1].replace('""', '"') == name


@given(
    doc=st.recursive(
        json_scalars,
        lambda children: st.one_of(
            st.lists(children, max_size=4),
            st.dictionaries(st.text(max_size=5), children, max_size=4),
        ),
        max_leaves=20,
    ),
    path=st.lists(st.text(min_size=1, max_size=5), max_size=3),
)
@settings(max_examples=100)
def test_drill_never_crashes_and_rows_are_listy(doc, path):
    rows = drill_data_path(doc, "/" + "/".join(path) if path else None)
    assert isinstance(rows, list)
    # row-flattening invariant: a list drills to its elements, null to []
    if not path:
        if doc is None:
            assert rows == []
        elif isinstance(doc, list):
            assert rows == doc
        else:
            assert rows == [doc]


@given(
    rows=st.lists(
        st.dictionaries(st.sampled_from(["a", "b", "c"]), json_scalars, max_size=3),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=50)
def test_inference_json_roundtrip_parseable(rows):
    """Whatever we infer, the rows serialize to JSON that matches the
    declared flat types after coercion."""
    from apitap_spark.sources.schema import coerce_row

    schema = infer_schema_simple(rows)
    for r in rows:
        tup = coerce_row(r, schema)
        assert len(tup) == len(schema.fields)
        json.dumps(tup)  # all values JSON-serializable



# Keys that stress the analysis-time inference: dots, backticks, spaces,
# non-ASCII, SQL keywords, the empty name and case-only duplicates.
json_keys = st.sampled_from(
    ["a", "A", "b", "B", "a.b", "x`y", "two words", "ñame", "Жж", "select", ""]
) | st.text(max_size=4)
json_leaves = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**70), max_value=2**70),  # beyond 64 bits too
    st.integers(min_value=-3, max_value=3),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=6),
)
json_values = st.recursive(
    json_leaves,
    lambda inner: st.lists(inner, max_size=3)
    | st.dictionaries(json_keys, inner, max_size=3),
    max_leaves=8,
)


@given(
    rows=st.lists(
        st.dictionaries(json_keys, json_values, max_size=4),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=40, deadline=None)
def test_http_inference_matches_json_reader(spark, rows):
    """HttpSource.infer_schema (schema_of_json at analysis time) infers
    exactly the schema a spark.read.json job infers for the same object
    rows: nested objects and arrays, int/float/string/bool conflicts,
    null-only fields, empty arrays and objects, wide ints."""
    from apitap_spark.sources.http import HttpSource

    lines = [json.dumps(r) for r in rows]
    want = spark.read.json(spark.sparkContext.parallelize(lines, 1)).schema
    got = HttpSource(name="p", url="-").infer_schema(spark, rows)
    assert got == want


# Values the typed fetch must hand to from_json: lone surrogates (not
# UTF-8), ints past the double range, NaN, and the largest doubles.
json_edge_leaves = json_leaves | st.sampled_from(
    ["\ud800", "x\udfff", 1e308, -0.0, 10**400, -(10**400), float("nan")]
)
json_edge_values = st.recursive(
    json_edge_leaves,
    lambda inner: st.lists(inner, max_size=3)
    | st.dictionaries(json_keys, inner, max_size=3),
    max_leaves=8,
)
json_edge_objects = st.dictionaries(json_keys, json_edge_values, max_size=4)
json_edge_flat_objects = st.dictionaries(
    json_keys, json_edge_leaves, min_size=1, max_size=4
)
# Every sample key meets each of these, as does the row itself.
JSON_PROBES = [
    None, True, False, 0, -1, 2**63 - 1, 2**63, -(2**63), -(2**63) - 1,
    10**400, 1.5, -0.0, 1e308, float("nan"), "", "s", "\ud800", [], [1],
    {}, {"k": 1},
]


@given(
    sample=st.lists(
        json_edge_flat_objects | json_edge_objects, min_size=1, max_size=4
    ),
    data=st.data(),
)
@settings(max_examples=60, deadline=None)
def test_typed_fetch_matches_from_json(spark, sample, data):
    """The HTTP fetch task's typed rows plus its ``__raw`` fallback equal
    ``from_json(json.dumps(row))`` under the sample's inferred schema,
    cell for cell (NaN and -0.0 included), for every row: type
    conflicts, nested values, non-object rows, lone surrogates, ints
    past int64 and past the double range."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from apitap_spark.sources.http import HttpSource, typed_batch, typed_or_parsed

    # a sample row's keys with fresh values: each meets a typed field
    redrawn = st.sampled_from(sample).flatmap(
        lambda r: st.fixed_dictionaries({k: json_edge_leaves for k in r})
    )
    later = data.draw(
        st.lists(
            st.one_of(redrawn, json_edge_objects, json_edge_values),
            min_size=1,
            max_size=6,
        )
    )
    keys = sorted({k for r in sample for k in r})
    probes = [{k: v} for k in keys for v in JSON_PROBES] + JSON_PROBES
    rows = sample + later + probes
    schema = HttpSource(name="p", url="-").infer_schema(spark, sample)

    def emit(_):
        import pyarrow as pa

        b = typed_batch(rows, schema)
        text = pa.array([json.dumps(r) for r in rows], pa.string())
        yield pa.RecordBatch.from_arrays(
            b.columns + [text], names=["j", "__raw", "text"]
        )

    out = T.StructType(
        [
            T.StructField("j", schema),
            T.StructField("__raw", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    got = (
        spark.range(0, 1, 1, 1)
        .mapInArrow(emit, out)
        .select(
            typed_or_parsed(schema).alias("typed"),
            F.from_json("text", schema).alias("parsed"),
        )
        .collect()
    )
    assert len(got) == len(rows)
    for r in got:
        assert repr(r.typed) == repr(r.parsed)


def test_cramer_det4_matches_numpy():
    """The shared fully-parenthesized determinant strings (evaluated by
    the logreg driver AND spliced into the DuckDB oracle) agree with
    numpy's LAPACK determinant to relative 1e-9 over random matrices —
    an independent implementation check on the Cramer replay."""
    import random

    import numpy as np

    from apitap_spark.operators.ml import _cramer_exprs

    det_a_expr, det_j_exprs = _cramer_exprs()
    rng = random.Random(3)
    for _ in range(200):
        A = [[rng.uniform(-5, 5) for _ in range(4)] for _ in range(4)]
        g = [rng.uniform(-5, 5) for _ in range(4)]
        env = {f"a{j}{k}": A[j][k] for j in range(4) for k in range(4)}
        env.update({f"g{j}": g[j] for j in range(4)})
        ours = eval(det_a_expr, {"__builtins__": {}}, env)
        ref = float(np.linalg.det(np.array(A)))
        assert abs(ours - ref) <= 1e-9 * max(1.0, abs(ref))
        for j in range(4):
            Aj = [
                [g[r] if c == j else A[r][c] for c in range(4)]
                for r in range(4)
            ]
            ours_j = eval(det_j_exprs[j], {"__builtins__": {}}, env)
            ref_j = float(np.linalg.det(np.array(Aj)))
            assert abs(ours_j - ref_j) <= 1e-9 * max(1.0, abs(ref_j))


def test_round_away_matches_decimal_half_up():
    """_round_away == decimal ROUND_HALF_UP (the Spark/DuckDB ROUND
    semantics) including negative halves, where Python's built-in
    round() banker's-rounds the other way."""
    import decimal
    import random

    from apitap_spark.operators.ml import _round_away

    cases = [0.5, -0.5, 1.5, -1.5, 2.5, -2.5, 0.49999999, -0.49999999]
    rng = random.Random(5)
    cases += [rng.uniform(-1e6, 1e6) for _ in range(500)]
    for x in cases:
        want = int(
            decimal.Decimal(repr(x)).quantize(
                0, rounding=decimal.ROUND_HALF_UP
            )
        )
        assert _round_away(x) == want, x
    # the divergence from round() is real on halves
    assert _round_away(0.5) == 1 and round(0.5) == 0


def test_dhash_locality_and_determinism():
    """Identical grids hash identically; flipping ONE grid cell moves at
    most its two adjacent comparisons (<= 2 bits in that row)."""
    import random

    from apitap_spark.operators.multimodal import (
        PHASH_GH,
        PHASH_GW,
        _dhash_grid,
    )

    rng = random.Random(9)
    for _ in range(50):
        grid = [rng.randrange(256) for _ in range(PHASH_GW * PHASH_GH)]
        h1 = _dhash_grid(grid)
        assert h1 == _dhash_grid(list(grid))
        i = rng.randrange(len(grid))
        g2 = list(grid)
        g2[i] = (g2[i] + 128) % 256
        h2 = _dhash_grid(g2)
        diff = bin((h1[0] ^ h2[0]) | (h1[1] ^ h2[1]) << 32).count("1")
        assert diff <= 2  # a cell touches at most 2 comparisons


def test_semdedup_greedy_is_maximal_independent_set(spark, tmp_path):
    """On random planted vectors, the kept set is a MAXIMAL independent
    set of the per-cell >tau graph: no two kept vectors exceed tau, and
    every dropped vector has a KEPT >tau neighbor (the defining
    properties of keep-against-kept, violated by the old pairwise rule)."""
    import math
    import random

    from apitap_spark.operators.similarity import SEMDEDUP_TAU, op_semantic_dedup

    rng = random.Random(21)
    rows = []
    base = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(6)]
    vid = 0
    for b in base:
        for _ in range(rng.randrange(1, 5)):   # jittered copies -> dense graph
            v = [x + rng.gauss(0, 0.35) for x in b]
            rows.append((vid, 0, v + [0.0] * 56))
            vid += 1
    spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    ).write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = {r["vec_id"]: r["is_kept"]
           for r in op_semantic_dedup(spark, str(tmp_path)).collect()}
    vecs = {r[0]: r[2] for r in rows}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    kept = [v for v, k in out.items() if k]
    dropped = [v for v, k in out.items() if not k]
    for i, a in enumerate(kept):
        for b in kept[i + 1:]:
            assert cos(vecs[a], vecs[b]) <= SEMDEDUP_TAU + 1e-9
    for v in dropped:
        assert any(
            u < v and cos(vecs[u], vecs[v]) > SEMDEDUP_TAU - 1e-9
            for u in kept
        )
