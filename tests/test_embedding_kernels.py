"""NumPy twins of the ordered cosine fold (functions/vectors.py) and the
Arrow embedding kernels built on them, over clean and dirty batches."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from apitap_spark.functions.vectors import (
    embedding_matrix,
    fold_cosines,
    fold_norms,
)

D = 8


def _rows(n, rng):
    return [rng.standard_normal(D).astype(np.float32) for _ in range(n)]


def test_embedding_matrix_all_valid_rows():
    rng = np.random.default_rng(1)
    rows = _rows(5, rng)
    M = embedding_matrix(pd.Series(rows), D)
    assert M.shape == (5, D) and M.dtype == np.float64
    assert np.array_equal(M, np.asarray(rows, dtype=np.float64))
    # collected lists (driver-side pools) convert the same way
    assert np.array_equal(embedding_matrix([list(r) for r in rows], D), M)


@pytest.mark.parametrize(
    "dirty",
    [None, np.ones(D - 1, dtype=np.float32), np.ones(D + 1, dtype=np.float32)],
    ids=["null", "short", "long"],
)
def test_embedding_matrix_dirty_row_is_nan(dirty):
    rng = np.random.default_rng(2)
    rows = _rows(3, rng)
    M = embedding_matrix(pd.Series([rows[0], dirty, rows[1], rows[2]]), D)
    assert M.shape == (4, D)
    assert np.isnan(M[1]).all()
    assert np.array_equal(M[[0, 2, 3]], np.asarray(rows, dtype=np.float64))


def test_embedding_matrix_empty_batch():
    M = embedding_matrix(pd.Series([], dtype=object), D)
    assert M.shape == (0, D)
    assert fold_norms(M).shape == (0,)
    assert fold_cosines(M, M, fold_norms(M), fold_norms(M)).shape == (0, 0)


def _old_norms(E):
    # the kernels' former per-site form: cumsum's last column
    return np.sqrt(np.cumsum(E * E, axis=1)[:, -1])


def _old_cosines(A, B, na, nb):
    acc = np.zeros((len(A), len(B)), dtype=np.float64)
    for i in range(A.shape[1]):
        acc = acc + A[:, None, i] * B[None, :, i]
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = acc / (na[:, None] * nb[None, :])
    bad = ~((na[:, None] > 0) & (nb[None, :] > 0))
    cos[bad] = np.nan
    return cos


def test_folds_bit_identical_to_loop_form():
    rng = np.random.default_rng(3)
    A = rng.standard_normal((40, 64)).astype(np.float32).astype(np.float64)
    B = rng.standard_normal((33, 64)).astype(np.float32).astype(np.float64)
    A[7] = 0.0  # a zero-norm row scores NULL
    na, nb = fold_norms(A), fold_norms(B)
    assert na.view(np.int64).tolist() == _old_norms(A).view(np.int64).tolist()
    got, want = fold_cosines(A, B, na, nb), _old_cosines(A, B, na, nb)
    assert np.array_equal(np.isnan(got), np.isnan(want))
    assert np.isnan(got[7]).all() and not np.isnan(np.delete(got, 7, 0)).any()
    ok = ~np.isnan(got)
    assert got[ok].view(np.int64).tolist() == want[ok].view(np.int64).tolist()


def test_fold_cosines_nan_for_dirty_rows():
    rng = np.random.default_rng(4)
    E = embedding_matrix(pd.Series(_rows(3, rng) + [None]), D)
    n = fold_norms(E)
    cos = fold_cosines(E, E, n, n)
    assert np.isnan(cos[3]).all() and np.isnan(cos[:, 3]).all()
    assert not np.isnan(cos[:3, :3]).any()


# ---- gates over a dirty copy of the embeddings table -----------------------
NULL_ID, SHORT_ID = 2, 3  # inside every pool; MMR queries are vec_id < 4
DIRTY = {NULL_ID, SHORT_ID}


@pytest.fixture(scope="module")
def dirty_sf(sf_dir, tmp_path_factory):
    """sf_dir with one NULL embedding and one 63-long embedding; every
    other table is a symlink to the original."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("dirty_sf")
    for name in os.listdir(sf_dir):
        if name != "embeddings.parquet":
            os.symlink(os.path.join(sf_dir, name), out / name)
    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    ids = t.column("vec_id").to_pylist()
    emb = t.column("embedding").to_pylist()
    emb[ids.index(NULL_ID)] = None
    emb[ids.index(SHORT_ID)] = emb[ids.index(SHORT_ID)][:63]
    col = t.schema.get_field_index("embedding")
    t = t.set_column(
        col, t.schema.field(col), pa.array(emb, type=t.schema.field(col).type)
    )
    pq.write_table(t, out / "embeddings.parquet")
    return str(out)


def test_embedding_gates_tolerate_dirty_rows(spark, dirty_sf):
    """NULL and wrong-length embeddings raise nowhere; they score like a
    zero-norm row (NULL cosine, dropped by thresholds) and never get a
    non-NULL score."""
    from apitap_spark.operators import similarity as sim
    from apitap_spark.operators.ml import op_embedding_top_pc
    from apitap_spark.registry import QUERIES

    def run(name):
        return QUERIES[name](spark, dirty_sf).collect()

    for name in (
        "op_dedup_embedding_cosine",
        "op_crosslingual_neardup",
        "op_mmr_diversity_rerank",
    ):
        for r in run(name):
            ids = {r[0], r[2]} if name == "op_mmr_diversity_rerank" else {r[0], r[1]}
            score = r["mmr_score"] if name == "op_mmr_diversity_rerank" else r["cosine"]
            assert not (ids & DIRTY) or score is None, (name, r)
    for r in run("op_embedding_knn_graph"):
        assert not ({r["src"], r["dst"]} & DIRTY) or r["cosine"] is None, r
    for r in run("op_dbscan_clusters"):
        if r["vec_id"] in DIRTY:
            assert r["n_nbrs"] == 0 and r["cluster"] == -1, r
    for r in run("op_ann_greedy_graph_search"):
        assert r["found_id"] not in DIRTY and r["exact_id"] not in DIRTY, r
    assert run("op_knn_label_accuracy")
    for r in run("op_embedding_rp_sketch"):
        if r["vec_id"] in DIRTY:
            assert r["sketch"] is None and r["sketch_l2sq"] is None, r
            assert r["preservation_micro"] is None, r
        else:
            assert r["sketch"] is not None and r["preservation_micro"] > 0, r
    iso = run("op_embedding_isotropy_audit")[0]
    clean = spark.read.parquet(f"{dirty_sf}/embeddings.parquet").count() - 2
    assert iso["n_vecs"] == clean and iso["n_dims"] == sim.LSH_DIM
    pc = op_embedding_top_pc(spark, dirty_sf).collect()
    assert len(pc) == sim.LSH_DIM
    assert all(r["loading"] == r["loading"] for r in pc)  # no NaN
