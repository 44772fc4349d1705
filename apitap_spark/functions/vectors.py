"""Vector math over embeddings, in Catalyst columns and in NumPy.

Dot products and norms fold left-to-right in index order, which makes
results deterministic and reproducible across engines — required for the
DuckDB oracle comparison and good hygiene for ANN pipelines at scale.
This module owns that fold order for both halves:

* ``dot`` / ``l2_norm`` / ``cosine_*`` build JVM-side ``array<float|double>``
  column expressions (``F.aggregate``; no UDFs);
* ``embedding_matrix`` / ``fold_norms`` / ``fold_cosines`` are their NumPy
  twins for Arrow kernels (``mapInPandas`` / ``applyInPandas``). One
  vectorized add per dimension replays the left fold element for
  element — NumPy does not fuse multiply-add — and the final
  ``d / (na * nb)`` is the same IEEE chain, so a kernel's cosines are
  bit-identical to the column expressions'.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot(a: Column | str, b: Column | str) -> Column:
    """Double-precision dot product of two array columns (index order)."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column | str) -> Column:
    """Double-precision L2 norm of an array column."""
    sq = F.transform(_c(a), lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Double-precision cosine similarity (NULL when either norm is 0)."""
    d = dot(a, b)
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb))


def cosine_from_norms(
    a: Column | str, b: Column | str, na: Column | str, nb: Column | str
) -> Column:
    """Cosine from precomputed per-side L2 norms.

    Pairwise scorers (cross joins, bucket self-joins) recompute both
    norms per PAIR when using cosine_similarity — O(pairs) array folds
    for values that are O(rows). Precomputing ``l2_norm`` per side
    before the join drops two of the three folds from the pair kernel.
    Bit-exactness: the final expression is the same ``d / (na * nb)``
    with identically-computed doubles, so oracle hashes are unchanged.
    """
    d = dot(a, b)
    return F.when((_c(na) > 0) & (_c(nb) > 0), d / (_c(na) * _c(nb)))


def embedding_matrix(values, d: int) -> np.ndarray:
    """(n, d) float64 matrix of an embedding batch (a pandas Series of
    Arrow arrays, or collected lists). A NULL row, or one whose length is
    not ``d``, becomes an all-NaN row: its norm is NaN, so every cosine it
    enters is NaN (NULL once back in Spark), where ``asarray`` would raise
    on the whole batch."""
    rows = list(values)
    ok = np.array([v is not None and len(v) == d for v in rows], dtype=bool)
    if ok.all():
        return np.asarray(rows, dtype=np.float64).reshape(len(rows), d)
    M = np.full((len(rows), d), np.nan)
    if ok.any():
        M[ok] = np.asarray([v for v, k in zip(rows, ok) if k], dtype=np.float64)
    return M


def fold_norms(E: np.ndarray) -> np.ndarray:
    """Per-row L2 norms of ``E`` — ``l2_norm``'s left fold."""
    acc = np.zeros(E.shape[0])
    for k in range(E.shape[1]):
        acc += E[:, k] * E[:, k]
    return np.sqrt(acc)


def fold_cosines(
    A: np.ndarray, B: np.ndarray, na: np.ndarray, nb: np.ndarray
) -> np.ndarray:
    """(len(A), len(B)) cosines from per-side norms — ``cosine_from_norms``:
    the left-fold dot over ``d / (na * nb)``, NaN wherever a norm is not
    > 0 (NULL, as the column expression's ``F.when``)."""
    acc = np.zeros((A.shape[0], B.shape[0]))
    for k in range(A.shape[1]):
        acc += A[:, k, None] * B[None, :, k]
    ok = (na[:, None] > 0) & (nb[None, :] > 0)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(ok, acc / (na[:, None] * nb[None, :]), np.nan)
