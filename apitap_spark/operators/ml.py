"""Iterative ML operators on embedding columns: Lloyd's k-means.

The coarse-quantizer build step a real IVF ANN index needs (and the
canonical iterative-algorithm shape on a DataFrame engine): assign each
vector to its nearest centroid (broadcast k×d centroids, row-local
argmin via min_by over a generated centroid array), recompute centroids
as per-cluster means (posexplode → two-level aggregate), repeat.

Scale shape per iteration: centroid table is k×d doubles (kilobytes) →
broadcast; assignment is a narrow projection (no shuffle); the
recompute is one partial-aggregated groupBy(cluster, dim) shuffle whose
cardinality is k×d, independent of corpus size. localCheckpoint between
iterations truncates the growing lineage exactly as in
operators/graph.py.

Float mean order-dependence makes a cross-engine SQL oracle infeasible
(driver records the rows-only check — the sanctioned path for iterative
algorithms); tests assert the Lloyd invariants instead: inertia is
non-increasing per iteration and every vector sits with its nearest
centroid at convergence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from apitap_spark.functions.vectors import embedding_matrix
from apitap_spark.registry import gate
from apitap_spark.session import memo, read_table


def _sq_dist(a, b):
    """Squared L2 distance of two array columns (JVM-side fold).

    The square is an explicit multiply, not ``** 2``: Math.pow/libm pow
    are only 1-ulp-accurate while IEEE multiplication is exact, so d*d
    is the form both engines reproduce bit-identically (oracle parity).
    """
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def _centroids_of(assigned: DataFrame, *key_cols: str) -> DataFrame:
    """Per-key mean vectors: posexplode → (keys, dim) fixed-point mean →
    array rebuild in dim order. Shuffle cardinality k x d, not corpus
    size. Accepts one key (kmeans cluster) or several (PQ block+code) —
    this is the SINGLE Spark-side definition of the fixed-point mean;
    every oracle that replays it mirrors exactly this arithmetic.

    Means are fixed-point (per-value micro rounding → exact bigint sums
    → one IEEE division chain), making centroids order-independent and
    hence engine-replayable — the kmeans/IVF/PQ gates hash-check against
    DuckDB replays. Centroid error vs the true float mean is ≤ 5e-7 per
    dimension (half a micro-unit), noise relative to Lloyd convergence.
    """
    keys = list(key_cols)
    return (
        assigned.select(*keys, F.posexplode("embedding").alias("pos", "val"))
        .groupBy(*keys, "pos")
        .agg(
            (
                F.sum(
                    F.round(F.col("val").cast("double") * F.lit(1000000.0), 0)
                    .cast("bigint")
                ).cast("double")
                / F.lit(1000000.0)
                / F.count("*").cast("double")
            ).alias("m")
        )
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("centroid")
        )
    )


def kmeans_assign(
    emb: DataFrame, init_centroids: DataFrame, n_iter: int = 3
) -> DataFrame:
    """Lloyd refinement: ``emb(vec_id, embedding)`` against
    ``init_centroids(cluster, centroid)``; returns (vec_id, cluster,
    sq_dist) after ``n_iter`` assign/recompute rounds.

    Assignment is min_by over a broadcast-collected centroid array —
    a row-local loop over k, no join, no shuffle.
    """
    cent = init_centroids
    assigned = None
    for _ in range(n_iter):
        # array_sort orders the broadcast centroids by cluster id, so the
        # strict-< fold breaks distance ties toward the LOWEST cluster —
        # deterministic, and the same tiebreak the SQL oracle's
        # (distance, cluster) ROW_NUMBER uses. collect_list alone has no
        # order guarantee.
        carr = cent.agg(
            F.array_sort(
                F.collect_list(F.struct("cluster", "centroid"))
            ).alias("cs")
        )
        scored = emb.join(F.broadcast(carr)).select(
            "vec_id",
            "embedding",
            # row-local argmin: map each broadcast centroid to its
            # distance ONCE, then fold comparison-only. The previous
            # single-fold form re-evaluated _sq_dist twice per centroid
            # (once in the when-compare, once in the new struct) — the
            # HOF is interpreted, so that doubled the gate's dominant
            # cost (round-10; distances and tie-break identical).
            F.aggregate(
                F.transform(
                    "cs",
                    lambda c: F.struct(
                        _sq_dist(F.col("embedding"), c["centroid"]).alias(
                            "d"
                        ),
                        c["cluster"].alias("cluster"),
                    ),
                ),
                F.struct(
                    F.lit(float("inf")).alias("d"),
                    F.lit(-1).cast("int").alias("cluster"),
                ),
                lambda acc, x: F.when(x["d"] < acc["d"], x).otherwise(acc),
            ).alias("best"),
        )
        assigned = scored.select(
            "vec_id",
            "embedding",
            F.col("best.cluster").alias("cluster"),
            F.col("best.d").alias("sq_dist"),
        ).localCheckpoint()
        cent = _centroids_of(assigned, "cluster")
    return assigned.select("vec_id", "cluster", F.round("sq_dist", 6).alias("sq_dist"))


def _sql_sqdist(vec: str, cent: str) -> str:
    """DuckDB mirror of _sq_dist: explicit (a-b)*(a-b) multiply, index-
    ordered list sum — bit-identical to the Spark fold."""
    return (
        f"list_aggregate(list_transform(range(1, len({vec}) + 1), "
        f"i -> (CAST({vec}[i] AS DOUBLE) - {cent}[i])"
        f" * (CAST({vec}[i] AS DOUBLE) - {cent}[i])), 'sum')"
    )


KMEANS_ITERS = 3

_KMEANS_ORACLE = f"""
    WITH RECURSIVE
    expl AS (
      SELECT vec_id, label, i AS pos,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0, 0) AS BIGINT)
               AS v_u
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    init AS (
      SELECT cluster, list(m ORDER BY pos) AS centroid FROM (
        SELECT label AS cluster, pos,
               CAST(SUM(v_u) AS DOUBLE) / 1000000.0 / CAST(COUNT(*) AS DOUBLE)
                 AS m
        FROM expl GROUP BY label, pos
      ) GROUP BY cluster
    ),
    km(iter, cluster, centroid) AS (
      SELECT 0, cluster, centroid FROM init
      UNION ALL
      SELECT iter + 1, cluster, list(m ORDER BY pos) FROM (
        SELECT asg.iter, asg.cluster, e.pos,
               CAST(SUM(e.v_u) AS DOUBLE) / 1000000.0 / CAST(COUNT(*) AS DOUBLE)
                 AS m
        FROM (
          SELECT iter, vec_id, cluster FROM (
            SELECT km.iter, em.vec_id, km.cluster,
                   ROW_NUMBER() OVER (PARTITION BY em.vec_id ORDER BY
                     {_sql_sqdist("em.embedding", "km.centroid")} ASC,
                     km.cluster ASC) AS rk
            FROM km, embeddings em
            WHERE km.iter < {KMEANS_ITERS - 1}
          ) WHERE rk = 1
        ) asg
        JOIN expl e ON e.vec_id = asg.vec_id
        GROUP BY asg.iter, asg.cluster, e.pos
      ) GROUP BY iter, cluster
    )
    SELECT vec_id, cluster, ROUND(d, 6) AS sq_dist FROM (
      SELECT em.vec_id, km.cluster,
             {_sql_sqdist("em.embedding", "km.centroid")} AS d,
             ROW_NUMBER() OVER (PARTITION BY em.vec_id ORDER BY
               {_sql_sqdist("em.embedding", "km.centroid")} ASC,
               km.cluster ASC) AS rk
      FROM km, embeddings em WHERE km.iter = {KMEANS_ITERS - 1}
    ) WHERE rk = 1
    """


@gate("op_kmeans_refine", _KMEANS_ORACLE)
def op_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means refinement of the label-mean centroids (3 Lloyd rounds) —
    the IVF coarse-quantizer build (op_ann_ivf_label consumes such
    centroids).

    Hash-checked against a DuckDB recursive-CTE replay (round-2 verdict
    #5; was rows-only): fixed-point centroid means are order-independent,
    the assignment fold iterates centroids in cluster order with a
    strict-< tiebreak (= the oracle's distance-then-cluster ROW_NUMBER),
    and squared distances use exact multiplies, never pow. Lloyd
    invariants additionally asserted in tests."""
    emb = read_table(spark, sf_dir, "embeddings")
    init = _centroids_of(
        emb.select(F.col("label").alias("cluster"), "embedding"), "cluster"
    )
    return kmeans_assign(emb.select("vec_id", "embedding"), init, n_iter=KMEANS_ITERS)


# ---- logistic-regression quality classifier ------------------------------

LOGREG_ITERS = 40  # accuracy plateaus ~0.98 by 30 iters on the testdata
LOGREG_LR = 2.0

# Long-form label threshold (chars). The synthetic corpus has no real
# quality labels; "is long-form" is the deterministic stand-in for the
# human/LLM quality label a production filter trains against. Features
# deliberately EXCLUDE n_chars itself: the model must recover the label
# from token-level surface statistics (count, mean length, distinct
# ratio), which is a genuinely fittable — not hardcoded — relationship.
LONGFORM_CHARS = 300


def train_logreg(
    X: DataFrame, feature_cols: list[str], label_col: str = "y",
    iters: int = LOGREG_ITERS, lr: float = LOGREG_LR,
) -> list[float]:
    """Batch gradient descent for logistic regression, distributed.

    Per iteration ONE aggregation computes every gradient component
    (partial-aggregated sums — one row of d doubles crosses the
    shuffle) and the weight update happens on the driver, exactly the
    scalar-probe pattern of kmeans_refine / connected_components. The
    training data never moves; at 100 TB each pass is one scan (and the
    feature frame should be cached). Gradient sums are floating-point
    and partition-order dependent -> the operator is rows-only (weights
    reproduce to ~1e-9, not bitwise; tests assert separation quality
    and sign structure instead).

    First-order GD is the fallback for huge d; for the small feature
    sets a quality filter uses, train_logreg_newton below converges in
    ~6 rounds instead of ~40.
    """
    n = X.count()
    w = [0.0] * len(feature_cols)
    for _ in range(iters):
        z = sum(F.col(c) * F.lit(wi) for c, wi in zip(feature_cols, w))
        resid = F.col(label_col) - F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        grads = X.agg(
            *[F.sum(resid * F.col(c)).alias(c) for c in feature_cols]
        ).collect()[0]
        w = [wi + lr * grads[c] / n for wi, c in zip(w, feature_cols)]
    return w


NEWTON_ITERS = 8
NEWTON_RIDGE = 1e-6  # Hessian regularizer: keeps the solve well-posed


def train_logreg_newton(
    X: DataFrame, feature_cols: list[str], label_col: str = "y",
    iters: int = NEWTON_ITERS,
) -> list[float]:
    """Newton/IRLS logistic regression — the GLM algorithm MLlib's
    GeneralizedLinearRegression uses, converging quadratically (~6
    rounds where GD needs ~40).

    Per round ONE aggregation computes the gradient (d sums) AND the
    upper-triangular Hessian X'WX (d(d+1)/2 sums, w_i = p_i(1-p_i)) —
    still a single partial-aggregated scan with one tiny row crossing
    the shuffle; the d x d solve happens on the driver (numpy). Only
    sensible for small d (a quality filter's handful of features);
    wide models should use train_logreg.
    """
    import numpy as np

    d = len(feature_cols)
    w = [0.0] * d
    for _ in range(iters):
        z = sum(F.col(c) * F.lit(wi) for c, wi in zip(feature_cols, w))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        resid = F.col(label_col) - p
        wt = p * (F.lit(1.0) - p)
        aggs = [F.sum(resid * F.col(c)).alias(f"g{j}")
                for j, c in enumerate(feature_cols)]
        for j in range(d):
            for k in range(j, d):
                aggs.append(
                    F.sum(wt * F.col(feature_cols[j]) * F.col(feature_cols[k]))
                    .alias(f"h{j}_{k}")
                )
        row = X.agg(*aggs).collect()[0]
        g = np.array([row[f"g{j}"] for j in range(d)])
        H = np.zeros((d, d))
        for j in range(d):
            for k in range(j, d):
                H[j, k] = H[k, j] = row[f"h{j}_{k}"]
        delta = np.linalg.solve(H + NEWTON_RIDGE * np.eye(d), g)
        w = [wi + dv for wi, dv in zip(w, delta)]
    return w


# ---------------------------------------------------------------------------
# Deterministic fixed-point Newton (oracle-able).
#
# Cross-engine determinism recipe (same as kmeans/pagerank/perplexity):
#   * features micro-rounded ONCE to bigint (ROUND(f*1e6) — away-from-zero
#     halves in both Spark HALF_UP and DuckDB);
#   * link = rational "softsign sigmoid" p = 0.5 + (0.5*z)/(1+|z|) — only
#     +,-,*,/,abs, all IEEE correctly-rounded, so per-row doubles are
#     bit-identical across engines (exp/ln are 1-ulp library functions and
#     banned from oracle-checked math — see .claude/skills/verify);
#   * per-row gradient/Hessian contributions micro-rounded to bigint and
#     summed in integers (order-independent);
#   * the d x d solve replayed via Cramer's rule with ONE shared,
#     fully-parenthesized expression string per determinant, evaluated by
#     Python eval() on the driver and spliced verbatim into the DuckDB
#     recursive CTE — identical association order => identical bits.
# ---------------------------------------------------------------------------

_LOGREG_FEATURES = ["f_bias", "f_tokens", "f_avg_token_len", "f_distinct_ratio"]
_D = len(_LOGREG_FEATURES)


def _det3_expr(m: list[list[str]]) -> str:
    """Fully-parenthesized 3x3 determinant over expression strings —
    valid and identically associated in both Python and SQL."""
    (a, b, c), (d, e, f), (g, h, i) = m
    return (
        f"((({a}*(({e}*{i})-({f}*{h}))) - ({b}*(({d}*{i})-({f}*{g}))))"
        f" + ({c}*(({d}*{h})-({e}*{g}))))"
    )


def _det4_expr(m: list[list[str]]) -> str:
    """4x4 determinant via first-row cofactor expansion of _det3_expr."""
    minors = [
        _det3_expr([[m[r][c] for c in range(4) if c != j] for r in range(1, 4)])
        for j in range(4)
    ]
    return (
        f"(((({m[0][0]}*{minors[0]}) - ({m[0][1]}*{minors[1]}))"
        f" + ({m[0][2]}*{minors[2]})) - ({m[0][3]}*{minors[3]}))"
    )


def _cramer_exprs() -> tuple[str, list[str]]:
    """(det(A), [det(A_j)]) expression strings over names a{j}{k} / g{j};
    A_j = A with column j replaced by the gradient vector."""
    A = [[f"a{j}{k}" for k in range(_D)] for j in range(_D)]
    det_a = _det4_expr(A)
    det_js = []
    for j in range(_D):
        Aj = [[(f"g{r}" if c == j else A[r][c]) for c in range(_D)] for r in range(_D)]
        det_js.append(_det4_expr(Aj))
    return det_a, det_js


def _feature_micro_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, y, f0_u..f3_u) — features micro-rounded once to bigint.

    The pre-rounding doubles are computed with the exact same op chains
    the oracle uses (integer->double casts, /, *), so both engines round
    the same bits.
    """
    from apitap_spark.functions.text import token_count, tokens

    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    t = tokens("text")
    n = token_count("text").cast("double")
    sumlen = F.aggregate(
        F.transform(t, lambda w: F.length(w)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    ).cast("double")
    nd = F.size(F.array_distinct(t)).cast("double")
    m = F.lit(1000000.0)

    def u(col):
        return F.round(col * m, 0).cast("bigint")

    return docs.select(
        "doc_id",
        (F.length("text") > LONGFORM_CHARS).cast("double").alias("y"),
        F.lit(1000000).cast("bigint").alias("f0_u"),
        u(n / F.lit(100.0)).alias("f1_u"),
        u((sumlen / n) / F.lit(10.0)).alias("f2_u"),
        u(nd / n).alias("f3_u"),
    )


def trained_logreg_weights(
    spark: SparkSession, sf_dir: str, X_u: DataFrame
) -> list[int]:
    """Trained micro-weights, memoized per (session, sf_dir): the
    quality gate and the AUC eval train the IDENTICAL model on the
    identical feature frame — one Newton run (NEWTON_ITERS aggregation
    passes) per session instead of two. Pure driver-side ints,
    deterministic by construction, so the memo cannot change any oracle
    hash."""
    return memo(
        spark, ("logreg_weights", sf_dir),
        lambda: train_logreg_newton_fixed(X_u), family="logreg_weights",
    )


def train_logreg_newton_fixed(
    X_u: DataFrame, iters: int = NEWTON_ITERS
) -> list[int]:
    """Deterministic Newton/IRLS on a micro-rounded feature frame
    (columns y, f0_u..f3_u). Returns the learned weights as micro
    bigints. One aggregation pass per round (4 gradient + 10 Hessian
    bigint sums cross the shuffle — a single tiny row); the 4x4 solve
    runs on the driver via the shared Cramer expression strings."""
    det_a_expr, det_j_exprs = _cramer_exprs()
    fs = [
        (F.col(f"f{j}_u").cast("double") / F.lit(1000000.0)) for j in range(_D)
    ]
    w_u = [0] * _D
    for _ in range(iters):
        ws = [wu / 1e6 for wu in w_u]
        z = ((fs[0] * F.lit(ws[0]) + fs[1] * F.lit(ws[1]))
             + fs[2] * F.lit(ws[2])) + fs[3] * F.lit(ws[3])
        p = F.lit(0.5) + (F.lit(0.5) * z) / (F.lit(1.0) + F.abs(z))
        resid = F.col("y") - p
        wt = p * (F.lit(1.0) - p)
        aggs = [
            F.sum(F.round((resid * fs[j]) * F.lit(1000000.0), 0).cast("bigint"))
            .alias(f"g{j}")
            for j in range(_D)
        ]
        for j in range(_D):
            for k in range(j, _D):
                aggs.append(
                    F.sum(
                        F.round(
                            ((wt * fs[j]) * fs[k]) * F.lit(1000000.0), 0
                        ).cast("bigint")
                    ).alias(f"h{j}{k}")
                )
        row = X_u.agg(*aggs).collect()[0]
        env = {f"g{j}": row[f"g{j}"] / 1e6 for j in range(_D)}
        for j in range(_D):
            for k in range(_D):
                h = row[f"h{min(j, k)}{max(j, k)}"] / 1e6
                env[f"a{j}{k}"] = (h + NEWTON_RIDGE) if j == k else h
        det_a = eval(det_a_expr, {"__builtins__": {}}, env)  # noqa: S307
        for j in range(_D):
            delta = eval(det_j_exprs[j], {"__builtins__": {}}, env) / det_a  # noqa: S307
            w_u[j] += _round_away(delta * 1e6)
    return w_u


def _round_away(x: float) -> int:
    """Round half away from zero — matches Spark HALF_UP / DuckDB ROUND
    (Python's built-in round() is banker's and would drift on halves)."""
    import math

    return int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))


def _half_up_arr(T):
    """Vectorized replication of Spark ``round(double, 0)``: HALF_UP on
    the double's SHORTEST REPR (BigDecimal.valueOf semantics). Fast path
    floor(x+0.5)/ceil(x-0.5); elements within a few ulp of a half
    boundary (where IEEE addition or the shortest-repr perturbation
    could flip the result) fall back to decimal.Decimal(repr(x)) — the
    exact semantics — so the output matches Catalyst bit for bit at any
    magnitude. Returns float64 holding exact integer values."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    R = np.where(T >= 0, np.floor(T + 0.5), np.ceil(T - 0.5))
    sus = np.abs(T - np.floor(T) - 0.5) < (
        np.spacing(np.abs(T) + 0.5) * 8.0 + 1e-9
    )
    if sus.any():
        q0 = Decimal("1")
        for idx in zip(*np.nonzero(sus)):
            R[idx] = float(
                Decimal(repr(T[idx])).quantize(q0, rounding=ROUND_HALF_UP)
            )
    return R


def _logreg_cte_prefix() -> str:
    """Shared recursive-CTE chain: features -> Newton replay -> fin
    (final micro weights). Both the training gate's oracle and the AUC
    eval oracle append to it — prefix constant, never string splicing."""
    det_a_expr, det_j_exprs = _cramer_exprs()
    m = "1000000.0"
    fs = [f"(CAST(f{j}_u AS DOUBLE)/{m})" for j in range(_D)]
    ws = [f"(CAST(n.w{j} AS DOUBLE)/{m})" for j in range(_D)]
    z = (f"((({fs[0]}*{ws[0]} + {fs[1]}*{ws[1]})"
         f" + {fs[2]}*{ws[2]}) + {fs[3]}*{ws[3]})")
    p = f"(0.5 + (0.5 * {z}) / (1.0 + ABS({z})))"
    g_aggs = ",\n             ".join(
        f"CAST(SUM(CAST(ROUND(((y - {p}) * {fs[j]}) * {m}, 0) AS BIGINT))"
        f" AS BIGINT) AS gs{j}"
        for j in range(_D)
    )
    h_aggs = ",\n             ".join(
        f"CAST(SUM(CAST(ROUND(((({p} * (1.0 - {p})) * {fs[j]}) * {fs[k]})"
        f" * {m}, 0) AS BIGINT)) AS BIGINT) AS hs{j}{k}"
        for j in range(_D)
        for k in range(j, _D)
    )
    a_defs = ",\n             ".join(
        f"((CAST(hs{min(j, k)}{max(j, k)} AS DOUBLE)/{m})"
        + (f" + {NEWTON_RIDGE!r})" if j == k else ")")
        + f" AS a{j}{k}"
        for j in range(_D)
        for k in range(_D)
    )
    g_defs = ",\n             ".join(
        f"(CAST(gs{j} AS DOUBLE)/{m}) AS g{j}" for j in range(_D)
    )
    upd = ",\n             ".join(
        f"w{j} + CAST(ROUND(({det_j_exprs[j]} / {det_a_expr}) * {m}, 0)"
        f" AS BIGINT)"
        for j in range(_D)
    )
    return rf"""
    WITH RECURSIVE
    tok AS (
      SELECT doc_id, LENGTH(text) AS chars,
             string_split_regex(TRIM(text), '\s+') AS t
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    feat AS (
      SELECT doc_id,
             CASE WHEN chars > {LONGFORM_CHARS} THEN 1.0 ELSE 0.0 END AS y,
             CAST(1000000 AS BIGINT) AS f0_u,
             CAST(ROUND((CAST(len(t) AS DOUBLE) / 100.0) * {m}, 0) AS BIGINT)
               AS f1_u,
             CAST(ROUND(((CAST(list_sum(list_transform(t, w -> LENGTH(w)))
                               AS DOUBLE) / CAST(len(t) AS DOUBLE)) / 10.0)
                        * {m}, 0) AS BIGINT) AS f2_u,
             CAST(ROUND((CAST(len(list_distinct(t)) AS DOUBLE)
                         / CAST(len(t) AS DOUBLE)) * {m}, 0) AS BIGINT) AS f3_u
      FROM tok
    ),
    newton(iter, w0, w1, w2, w3) AS (
      SELECT 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      UNION ALL
      SELECT iter + 1,
             {upd}
      FROM (
        SELECT s.iter, s.w0, s.w1, s.w2, s.w3,
             {a_defs},
             {g_defs}
        FROM (
          SELECT n.iter, n.w0, n.w1, n.w2, n.w3,
             {g_aggs},
             {h_aggs}
          FROM newton n, feat
          WHERE n.iter < {NEWTON_ITERS}
          GROUP BY n.iter, n.w0, n.w1, n.w2, n.w3
        ) s
      )
    ),
    fin AS (SELECT w0, w1, w2, w3 FROM newton WHERE iter = {NEWTON_ITERS})
    """


def _logreg_oracle() -> str:
    m = "1000000.0"
    fs = [f"(CAST(f{j}_u AS DOUBLE)/{m})" for j in range(_D)]
    wf = [f"(CAST(fin.w{j} AS DOUBLE)/{m})" for j in range(_D)]
    zf = (f"((({fs[0]}*{wf[0]} + {fs[1]}*{wf[1]})"
          f" + {fs[2]}*{wf[2]}) + {fs[3]}*{wf[3]})")
    feat_rows = " UNION ALL ".join(
        f"SELECT '{name}' AS feature, CAST(fin.w{j} AS DOUBLE)/{m} AS weight,"
        f" CAST(acc.c AS DOUBLE)/CAST(acc.n AS DOUBLE) AS train_accuracy"
        f" FROM fin, acc"
        for j, name in enumerate(_LOGREG_FEATURES)
    )
    return (
        _logreg_cte_prefix()
        + f"""
    , acc AS (
      SELECT CAST(SUM(CASE WHEN (CASE WHEN {zf} > 0.0 THEN 1.0 ELSE 0.0 END)
                            = y THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM feat, fin
    )
    {feat_rows}
    """
    )


@gate("op_ml_logreg_quality", _logreg_oracle())
def op_ml_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a long-form/quality classifier on token-level surface
    features — the model-based corpus filter rung (CCNet /
    fastText-style quality filters), learned IN the engine with one
    aggregation pass per Newton/IRLS step and applied as a projection.

    Output: one row per feature with its learned weight, plus the
    training accuracy at the learned weights (repeated per row for a
    flat schema). The token-count weight must dominate positively —
    asserted in tests along with >= 0.9 train accuracy.

    Round-4 conversion from rows-only to hash-oracled (round-3 verdict
    #4): the softsign link + micro-rounded integer sums + Cramer replay
    make every iteration bit-reproducible in DuckDB's recursive CTE —
    see the block comment above train_logreg_newton_fixed. The
    exp-sigmoid numpy variant remains as train_logreg_newton for
    library callers who want the classical GLM.
    """
    X = _feature_micro_frame(spark, sf_dir).persist()
    try:
        w_u = trained_logreg_weights(spark, sf_dir, X)
        fs = [
            (F.col(f"f{j}_u").cast("double") / F.lit(1000000.0))
            for j in range(_D)
        ]
        ws = [wu / 1e6 for wu in w_u]
        z = ((fs[0] * F.lit(ws[0]) + fs[1] * F.lit(ws[1]))
             + fs[2] * F.lit(ws[2])) + fs[3] * F.lit(ws[3])
        pred = F.when(z > 0.0, F.lit(1.0)).otherwise(F.lit(0.0))
        row = X.agg(
            F.sum(F.when(pred == F.col("y"), 1).otherwise(0).cast("bigint"))
            .cast("bigint").alias("c"),
            F.count("*").cast("bigint").alias("n"),
        ).collect()[0]
        acc = float(row["c"]) / float(row["n"])
    finally:
        X.unpersist()
    # createDataFrame, not repr()-interpolated SQL: a non-finite weight
    # (nan/inf from divergence on separable data) would break SQL parsing,
    # while float columns carry nan/inf natively.
    return spark.createDataFrame(
        [
            (c, wu / 1e6, acc)
            for c, wu in zip(_LOGREG_FEATURES, w_u)
        ],
        "feature string, weight double, train_accuracy double",
    )


SIL_PROBES = 20  # sampled silhouette: probe vectors vec_id < 20


def _silhouette_oracle() -> str:
    sq = (
        "list_aggregate(list_transform(range(1, len(q.qe) + 1), "
        "i -> (CAST(q.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))"
        " * (CAST(q.qe[i] AS DOUBLE) - CAST(c.ce[i] AS DOUBLE))), 'sum')"
    )
    return f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS qe, label AS q_cluster
      FROM embeddings WHERE vec_id < {SIL_PROBES}
    ),
    c AS (SELECT vec_id AS c_id, embedding AS ce, label AS c_cluster
          FROM embeddings),
    pair AS (
      SELECT q.q_id, q.q_cluster, c.c_cluster,
             CAST(ROUND(ROUND(sqrt({sq}), 6) * 1000000.0, 0) AS BIGINT) AS d_u
      FROM q JOIN c ON c.c_id <> q.q_id
    ),
    per_cluster AS (
      SELECT q_id, q_cluster, c_cluster,
             CAST(SUM(d_u) AS BIGINT) AS su, CAST(COUNT(*) AS BIGINT) AS n
      FROM pair GROUP BY q_id, q_cluster, c_cluster
    ),
    means AS (
      SELECT q_id, q_cluster, c_cluster,
             CAST(su AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE) AS m
      FROM per_cluster
    ),
    ab AS (
      SELECT q_id, CAST(q_cluster AS BIGINT) AS cluster,
             MAX(CASE WHEN c_cluster = q_cluster THEN m END) AS a_mean,
             MIN(CASE WHEN c_cluster <> q_cluster THEN m END) AS b_mean
      FROM means GROUP BY q_id, q_cluster
    )
    SELECT q_id AS vec_id, cluster, ROUND(a_mean, 6) AS a_mean,
           ROUND(b_mean, 6) AS b_mean,
           CASE WHEN a_mean IS NULL OR b_mean IS NULL
                     OR GREATEST(a_mean, b_mean) = 0.0 THEN 0.0
                ELSE ROUND((b_mean - a_mean) / GREATEST(a_mean, b_mean), 6)
           END AS silhouette
    FROM ab
    """


@gate("op_kmeans_silhouette", _silhouette_oracle())
def op_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled silhouette coefficient over the corpus's quantizer cells
    (label = cluster): for each probe vector, a = mean Euclidean
    distance to its own cell's other members, b = the closest other
    cell's mean distance, s = (b - a) / max(a, b) in [-1, 1] — the
    standard cluster-quality audit (Rousseeuw 1987) an embedding
    pipeline runs before trusting cells for SemDeDup / IVF routing.

    Scale: full silhouette is O(N^2); the production form (and this
    one) scores a PROBE SAMPLE against the corpus — Q x N distance
    work distributed over candidates with the tiny probe side
    broadcast, then a (probe, cell)-keyed aggregate whose cardinality
    is Q x k. Per-pair distances micro-round once to bigint (sqrt is
    IEEE correctly-rounded, so both engines see identical integers);
    sums are order-independent; the two means and the final ratio
    divide in a fixed chain — hash-exact vs the DuckDB replay.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < SIL_PROBES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("q_cluster"),
    )
    cands = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("ce"),
        F.col("label").alias("c_cluster"),
    )
    d2 = _sq_dist(F.col("qe"), F.col("ce"))
    d_u = F.round(F.round(F.sqrt(d2), 6) * F.lit(1000000.0), 0).cast("bigint")
    per_cluster = (
        cands.join(F.broadcast(probes), F.col("c_id") != F.col("q_id"))
        .select("q_id", "q_cluster", "c_cluster", d_u.alias("d_u"))
        .groupBy("q_id", "q_cluster", "c_cluster")
        .agg(
            F.sum("d_u").cast("bigint").alias("su"),
            F.count("*").cast("bigint").alias("n"),
        )
    )
    m = (F.col("su").cast("double") / F.lit(1000000.0)) / F.col("n").cast(
        "double"
    )
    ab = per_cluster.select(
        "q_id", "q_cluster", "c_cluster", m.alias("m")
    ).groupBy(
        F.col("q_id").alias("vec_id"),
        F.col("q_cluster").cast("bigint").alias("cluster"),
    ).agg(
        F.max(
            F.when(F.col("c_cluster") == F.col("q_cluster"), F.col("m"))
        ).alias("a_raw"),
        F.min(
            F.when(F.col("c_cluster") != F.col("q_cluster"), F.col("m"))
        ).alias("b_raw"),
    )
    sil = (
        F.when(
            F.col("a_raw").isNull()
            | F.col("b_raw").isNull()
            | (F.greatest("a_raw", "b_raw") == 0.0),
            F.lit(0.0),
        )
        .otherwise(
            F.round(
                (F.col("b_raw") - F.col("a_raw"))
                / F.greatest("a_raw", "b_raw"),
                6,
            )
        )
    )
    return ab.select(
        "vec_id",
        "cluster",
        F.round("a_raw", 6).alias("a_mean"),
        F.round("b_raw", 6).alias("b_mean"),
        sil.alias("silhouette"),
    )


def _drift_oracle() -> str:
    half_dims = """
      SELECT label, pos,
             CAST(SUM(v_u) AS DOUBLE) / 1000000.0 / CAST(COUNT(*) AS DOUBLE)
               AS m
      FROM expl WHERE vec_id % 2 = {par} GROUP BY label, pos
    """
    return f"""
    WITH expl AS (
      SELECT vec_id, label, i AS pos,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0, 0) AS BIGINT)
               AS v_u
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    ca AS (
      SELECT label, list(m ORDER BY pos) AS cent FROM ({half_dims.format(par=0)})
      GROUP BY label
    ),
    cb AS (
      SELECT label, list(m ORDER BY pos) AS cent FROM ({half_dims.format(par=1)})
      GROUP BY label
    ),
    na AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_a FROM embeddings
           WHERE vec_id % 2 = 0 GROUP BY label),
    nb AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_b FROM embeddings
           WHERE vec_id % 2 = 1 GROUP BY label)
    SELECT CAST(ca.label AS BIGINT) AS label, na.n_a, nb.n_b,
           ROUND(sqrt(list_aggregate(list_transform(
                   range(1, len(ca.cent) + 1),
                   i -> (ca.cent[i] - cb.cent[i]) * (ca.cent[i] - cb.cent[i])),
                 'sum')), 6) AS centroid_drift
    FROM ca
    JOIN cb ON cb.label = ca.label
    JOIN na ON na.label = ca.label
    JOIN nb ON nb.label = ca.label
    """


@gate("op_embedding_centroid_drift", _drift_oracle())
def op_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: split the corpus into two deterministic
    snapshot halves (vec_id parity stands in for time-ordered batches),
    compute each label cell's fixed-point centroid in both halves, and
    report the Euclidean distance between them — the embedding-space
    analogue of op_dataset_diff, and the alarm an ANN/SemDeDup
    deployment watches for quantizer staleness (a drifting cell means
    its centroid no longer represents its members; recall silently
    decays — re-train the coarse quantizer).

    Scale: two (label, dim)-keyed fixed-point mean aggregates (shuffle
    cardinality k x d each, corpus-size independent) + a k-row join.
    Centroid means replay exactly in SQL (the _centroids_of fixed-point
    contract); the distance fold and sqrt are IEEE-exact.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    ca = _centroids_of(half_a.select("label", "embedding"), "label").select(
        "label", F.col("centroid").alias("cent_a")
    )
    cb = _centroids_of(half_b.select("label", "embedding"), "label").select(
        "label", F.col("centroid").alias("cent_b")
    )
    na = half_a.groupBy("label").agg(F.count("*").cast("bigint").alias("n_a"))
    nb = half_b.groupBy("label").agg(F.count("*").cast("bigint").alias("n_b"))
    return (
        ca.join(cb, "label")
        .join(na, "label")
        .join(nb, "label")
        .select(
            F.col("label").cast("bigint").alias("label"),
            "n_a",
            "n_b",
            F.round(F.sqrt(_sq_dist(F.col("cent_a"), F.col("cent_b"))), 6).alias(
                "centroid_drift"
            ),
        )
    )


def _cell_balance_oracle() -> str:
    return f"""
    WITH expl AS (
      SELECT vec_id, label, i AS pos,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0, 0) AS BIGINT)
               AS v_u
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    init AS (
      SELECT cluster, list(m ORDER BY pos) AS centroid FROM (
        SELECT label AS cluster, pos,
               CAST(SUM(v_u) AS DOUBLE) / 1000000.0 / CAST(COUNT(*) AS DOUBLE)
                 AS m
        FROM expl GROUP BY label, pos
      ) GROUP BY cluster
    ),
    asg AS (
      SELECT vec_id, cluster FROM (
        SELECT em.vec_id, i.cluster,
               ROW_NUMBER() OVER (PARTITION BY em.vec_id ORDER BY
                 {_sql_sqdist("em.embedding", "i.centroid")} ASC,
                 i.cluster ASC) AS rk
        FROM embeddings em, init i
      ) WHERE rk = 1
    ),
    sizes AS (
      SELECT CAST(cluster AS BIGINT) AS cell, CAST(COUNT(*) AS BIGINT) AS n
      FROM asg GROUP BY cluster
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS k
      FROM sizes
    )
    SELECT s.cell, s.n,
           CAST(s.n AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
           CAST(s.n AS DOUBLE) * CAST(t.k AS DOUBLE)
             / CAST(t.total AS DOUBLE) AS imbalance
    FROM sizes s CROSS JOIN tot t
    """


@gate("op_ivf_cell_balance", _cell_balance_oracle())
def op_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-build report: per-cell population after quantizer
    assignment, with each cell's share and imbalance factor
    (n * k / total; 1.0 = perfectly balanced). Imbalanced cells are the
    ANN tail-latency story at scale — a cell holding 10x its share
    makes every query probing it 10x slower, and the fix (split the
    cell, retrain, or spill to sub-quantizers) starts from exactly this
    table.

    Scale: the assignment is the broadcast-quantizer scan every IVF
    gate shares; the report is one k-row aggregate + a scalar cross
    join. Integer counts, two fixed divisions.
    """
    from pyspark.sql import functions as F  # noqa: F811

    emb = read_table(spark, sf_dir, "embeddings")
    init = _centroids_of(
        emb.select(F.col("label").alias("cluster"), "embedding"), "cluster"
    )
    assigned = kmeans_assign(
        emb.select("vec_id", "embedding"), init, n_iter=1
    ).select("vec_id", "cluster")
    sizes = assigned.groupBy(
        F.col("cluster").cast("bigint").alias("cell")
    ).agg(F.count("*").cast("bigint").alias("n")).localCheckpoint()
    # ^ k rows; feeds tot AND the share projection — without the
    # checkpoint the quantizer-assignment scan runs twice.
    tot = sizes.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("k"),
    )
    return sizes.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n",
        (F.col("n").cast("double") / F.col("total").cast("double")).alias(
            "share"
        ),
        (
            F.col("n").cast("double")
            * F.col("k").cast("double")
            / F.col("total").cast("double")
        ).alias("imbalance"),
    )


PCA_ITERS = 6


def _top_pc_oracle() -> str:
    return f"""
    WITH RECURSIVE
    expl AS (
      SELECT vec_id, i AS pos,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0, 0) AS BIGINT)
               AS v_u
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    mu AS (
      SELECT pos,
             CAST(SUM(v_u) AS DOUBLE) / 1000000.0 / CAST(COUNT(*) AS DOUBLE)
               AS m
      FROM expl GROUP BY pos
    ),
    centered AS (
      SELECT e.vec_id, e.pos,
             (CAST(e.v_u AS DOUBLE) / 1000000.0) - mu.m AS x
      FROM expl e JOIN mu ON mu.pos = e.pos
    ),
    nvec AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n FROM expl),
    dims AS (SELECT DISTINCT pos FROM expl),
    pc(iter, pos, w_u) AS (
      SELECT 0, pos, CAST(1000000 AS BIGINT) FROM dims
      UNION ALL
      SELECT s.iter + 1, s.pos,
             CAST(ROUND((s.m / sqrt(CAST(s.nm2_u AS DOUBLE) / 1000000.0))
                        * 1000000.0, 0) AS BIGINT)
      FROM (
        SELECT d.iter, d.pos, d.m,
               CAST(SUM(CAST(ROUND(d.m * d.m * 1000000.0, 0) AS BIGINT))
                    OVER (PARTITION BY d.iter) AS BIGINT) AS nm2_u
        FROM (
          SELECT dt.iter, c.pos,
                 CAST(SUM(CAST(ROUND(c.x * (CAST(dt.d_u AS DOUBLE)
                                            / 1000000.0)
                                     * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
                   / 1000000.0 / CAST(nv.n AS DOUBLE) AS m
          FROM (
            SELECT p.iter, c2.vec_id,
                   CAST(SUM(CAST(ROUND(c2.x * (CAST(p.w_u AS DOUBLE)
                                               / 1000000.0)
                                        * 1000000.0, 0) AS BIGINT)) AS BIGINT)
                     AS d_u
            FROM pc p JOIN centered c2 ON c2.pos = p.pos
            WHERE p.iter < {PCA_ITERS}
            GROUP BY p.iter, c2.vec_id
          ) dt
          JOIN centered c ON c.vec_id = dt.vec_id
          CROSS JOIN nvec nv
          GROUP BY dt.iter, c.pos, nv.n
        ) d
      ) s
    )
    SELECT CAST(pos AS BIGINT) AS pos,
           CAST(w_u AS DOUBLE) / 1000000.0 AS loading
    FROM pc WHERE iter = {PCA_ITERS}
    """


@gate("op_embedding_top_pc", _top_pc_oracle())
def op_embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by distributed
    power iteration — the spectral diagnostic an embedding pipeline
    runs before whitening or anisotropy correction (contextual
    embedding spaces are notoriously dominated by one direction; its
    loading vector IS this output). v_{{t+1}} ∝ (1/n) Σ x̃ (x̃·v_t)
    without ever materializing the d x d covariance.

    Determinism recipe (kmeans/pagerank family): the mean and the state
    vector live as micro-unit bigints; each per-row dot and each
    per-dimension contribution micro-rounds ONCE before its integer sum
    (float group-sums would be association-order dependent); the
    normalizer sums squared micro terms per iteration and divides in a
    fixed chain — so {PCA_ITERS} full iterations replay exactly in the
    DuckDB recursive CTE. Per round: one (vec)-keyed dot aggregate +
    one (dim)-keyed sum — shuffle cardinality n + d, no d x d anywhere.

    Round-11 (guide §4.2 + §2.1): the round-10 shape posexploded the
    corpus to n x d rows and each of the {PCA_ITERS} rounds sort-merge-
    joined that frame with the per-vector dots — two sorts + a shuffle
    of the EXPLODED frame per round. Both the mean pass and each power
    round now run as one Arrow kernel over the raw embedding arrays
    that emits d partial int64 sums per batch (the isotropy-audit
    pattern): per-row dots and per-dim contributions are the SAME
    once-rounded micro ints (``_half_up_arr`` replicates Catalyst's
    HALF_UP-on-shortest-repr exactly), and int64 addition is
    order-independent, so every d_u / per-dim sum — and therefore every
    w update and the final loading vector — is bit-identical. Per
    round: one columnar scan + a d x parts-sized aggregate; nothing
    n-sized ever shuffles, no join anywhere. The driver holds only the
    d-length mean/state vectors (same as before).
    """
    emb = read_table(spark, sf_dir, "embeddings")
    # the corpus width; NULL rows and rows of any other length are
    # skipped by both kernels and left out of the mean's count
    d = emb.agg(F.mode(F.size("embedding"))).first()[0]

    def _mu_kernel(batches):
        import numpy as np
        import pandas as pd

        for b in batches:
            E = embedding_matrix(b["embedding"], d)
            E = E[~np.isnan(E).any(axis=1)]
            if len(E) == 0:
                continue
            # v_u = round(x * 1e6, 0) — the expl projection, elementwise
            Vu = _half_up_arr(E * 1000000.0)
            yield pd.DataFrame(
                {
                    "pos": np.arange(1, d + 1, dtype=np.int64),
                    "s": Vu.astype(np.int64).sum(axis=0),
                    "cnt": np.full(d, len(E), dtype=np.int64),
                }
            )

    mu_rows = (
        emb.select("embedding")
        .mapInPandas(_mu_kernel, "pos bigint, s bigint, cnt bigint")
        .groupBy("pos")
        .agg(
            F.sum("s").cast("bigint").alias("s"),
            F.sum("cnt").cast("bigint").alias("c"),
        )
        .collect()
    )
    # m = sum(v_u)::double / 1e6 / count::double — the exact chain the
    # old per-pos aggregate evaluated (int sums are exact, the int ->
    # double casts are lossless at these magnitudes)
    mu = {r["pos"]: float(r["s"]) / 1000000.0 / float(r["c"]) for r in mu_rows}
    n = mu_rows[0]["c"]  # kept rows, the same at every pos
    mu_vec = [mu[p] for p in range(1, d + 1)]
    w_u = {p: 1000000 for p in range(1, d + 1)}
    for _ in range(PCA_ITERS):
        w_vec = [w_u[p] for p in range(1, d + 1)]

        def _pc_kernel(batches, _mu=mu_vec, _w=w_vec):
            import numpy as np
            import pandas as pd

            MU = np.asarray(_mu, dtype=np.float64)
            Wd = np.asarray(_w, dtype=np.float64) / 1000000.0  # w_u/1e6
            dd = len(_mu)
            for b in batches:
                E = embedding_matrix(b["embedding"], dd)
                E = E[~np.isnan(E).any(axis=1)]
                if len(E) == 0:
                    continue
                X = _half_up_arr(E * 1000000.0) / 1000000.0 - MU[None, :]
                # d_u = Σ_pos round(x * (w_u/1e6) * 1e6, 0) — exact int
                Du = (
                    _half_up_arr(X * Wd[None, :] * 1000000.0)
                    .astype(np.int64)
                    .sum(axis=1)
                )
                # per-dim partial: Σ_vec round(x * (d_u/1e6) * 1e6, 0)
                S = (
                    _half_up_arr(
                        X * (Du.astype(np.float64) / 1000000.0)[:, None]
                        * 1000000.0
                    )
                    .astype(np.int64)
                    .sum(axis=0)
                )
                yield pd.DataFrame(
                    {"pos": np.arange(1, dd + 1, dtype=np.int64), "s": S}
                )

        rows = (
            emb.select("embedding")
            .mapInPandas(_pc_kernel, "pos bigint, s bigint")
            .groupBy("pos")
            .agg(F.sum("s").cast("bigint").alias("s"))
            .collect()
        )
        # m = sum::double / 1e6 / n::double — the old dim_sums chain
        ms = {r["pos"]: float(r["s"]) / 1000000.0 / float(n) for r in rows}
        nm2_u = sum(_round_away(ms[p] * ms[p] * 1e6) for p in sorted(ms))
        import math

        norm = math.sqrt(nm2_u / 1e6)
        w_u = {p: _round_away((ms[p] / norm) * 1e6) for p in sorted(ms)}
    return emb.sparkSession.createDataFrame(
        [(p, w_u[p] / 1e6) for p in sorted(w_u)], "pos bigint, loading double"
    )


# --- L114: classifier ranking-quality eval (exact Mann-Whitney AUC) ---------


def _logreg_auc_oracle() -> str:
    zsum = " + ".join(f"f{j}_u * fin.w{j}" for j in range(_D))
    return (
        _logreg_cte_prefix()
        + f"""
    , scored AS (
      SELECT feat.doc_id, feat.y,
             CAST({zsum} AS BIGINT) AS z_u2
      FROM feat, fin
    ),
    ranked AS (
      SELECT y,
             2 * RANK() OVER (ORDER BY z_u2)
               + COUNT(*) OVER (PARTITION BY z_u2) - 1 AS r2
      FROM scored
    ),
    agg AS (
      SELECT CAST(SUM(CASE WHEN y = 1.0 THEN r2 ELSE 0 END) AS BIGINT)
               AS sum_r2_pos,
             CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
      FROM ranked
    )
    SELECT n_pos, n_neg, sum_r2_pos,
           CAST(sum_r2_pos - n_pos * (n_pos + 1) AS BIGINT) AS auc_num,
           CAST(sum_r2_pos - n_pos * (n_pos + 1) AS DOUBLE)
             / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
    FROM agg
    """
    )


@gate("op_ml_logreg_eval_auc", _logreg_auc_oracle())
def op_ml_logreg_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation of the trained quality classifier:
    exact Mann-Whitney AUC of the learned linear score against the
    long-form label. Accuracy (the training gate's metric) saturates
    once the decision boundary is right; AUC measures the SCORE's
    ordering quality — the number a pipeline needs before using the
    score as a soft sampling weight rather than a hard filter.

    Exactness: the score is the all-integer dot product f_u·w_u
    (micro x micro units — no float before ranking), midrank ties are
    handled with the doubled-rank trick (r2 = 2·rank + ties - 1, so
    every quantity stays integer), and AUC = (ΣR2 - n⁺(n⁺+1)) /
    (2·n⁺·n⁻) is one IEEE division of two exact bigints. The oracle
    replays training via the shared recursive-CTE prefix and re-derives
    the ranking independently.

    Scale note: ranking is a global sort of the SCORED frame — run the
    eval on the audit sample (as here), not the full corpus; training
    itself stays one aggregation pass per Newton round.
    """
    from pyspark.sql import Window

    # checkpoint: the feature frame feeds one aggregation pass PER
    # Newton round plus the scoring pass — lazily each re-runs the
    # parquet scan + tokenization feature engineering (A/B at sf0.1:
    # 5.7-6.5s -> 3.3-4.0s, identical sums; round-9 sweep).
    X = _feature_micro_frame(spark, sf_dir).localCheckpoint()
    w_u = trained_logreg_weights(spark, sf_dir, X)
    z = None
    for j, wu in enumerate(w_u):
        term = F.col(f"f{j}_u") * F.lit(int(wu))
        z = term if z is None else z + term
    scored = X.select("y", z.cast("long").alias("z_u2"))
    w_rank = Window.orderBy("z_u2")
    w_ties = Window.partitionBy("z_u2")
    ranked = scored.select(
        "y",
        (
            F.lit(2) * F.rank().over(w_rank)
            + F.count("*").over(w_ties)
            - F.lit(1)
        ).alias("r2"),
    )
    agg = ranked.agg(
        F.sum(F.when(F.col("y") == 1.0, F.col("r2")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("sum_r2_pos"),
        F.sum((F.col("y") == 1.0).cast("int")).cast("bigint").alias("n_pos"),
        F.sum((F.col("y") == 0.0).cast("int")).cast("bigint").alias("n_neg"),
    )
    num = F.col("sum_r2_pos") - F.col("n_pos") * (F.col("n_pos") + 1)
    return agg.select(
        "n_pos",
        "n_neg",
        "sum_r2_pos",
        num.cast("bigint").alias("auc_num"),
        (
            num.cast("double")
            / (F.lit(2) * F.col("n_pos") * F.col("n_neg")).cast("double")
        ).alias("auc"),
    )


# --- Market-basket association rules (A-priori support/confidence/lift) --

BASKET_MIN_SUPPORT = 3

_BASKET_ORACLE = f"""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
          FROM b),
    item AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_i FROM b GROUP BY 1
    ),
    pair AS (
      SELECT a.l_partkey AS p1, c.l_partkey AS p2,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
    ),
    rules AS (
      SELECT p1 AS antecedent, p2 AS consequent, n_ab FROM pair
      UNION ALL
      SELECT p2, p1, n_ab FROM pair
    )
    SELECT r.antecedent, r.consequent, r.n_ab AS support_n,
           CAST(FLOOR(1000000.0 * CAST(r.n_ab AS DOUBLE)
                      / CAST(ia.n_i AS DOUBLE)) AS BIGINT)
             AS confidence_micro,
           CAST(FLOOR(1000000.0 * CAST(r.n_ab * n.n_baskets AS DOUBLE)
                      / CAST(ia.n_i * ic.n_i AS DOUBLE)) AS BIGINT)
             AS lift_micro
    FROM rules r
    JOIN item ia ON ia.l_partkey = r.antecedent
    JOIN item ic ON ic.l_partkey = r.consequent
    CROSS JOIN n
"""


@gate("op_basket_association_rules", _BASKET_ORACLE)
def op_basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules — A-priori support counting over
    order baskets (the relational sibling of op_text_collocations_lift,
    which mines adjacent token pairs): distinct (order, part) baskets,
    co-occurrence pairs above BASKET_MIN_SUPPORT, and per-directed-rule
    confidence n_ab/n_a and lift n_ab·N/(n_a·n_b), each a single FLOOR
    of one correctly-rounded division of exact BIGINTs.

    Scale shape: one row per order (its sorted distinct parts), and the
    pairs p1 < p2 generated inside each basket array — cost
    Σ(basket_size²), bounded by the max basket (7 lines in TPC-H shape),
    NOT corpus². The basket count rides the basket checkpoint's own job
    as an Observation. The HAVING prunes to frequent pairs before the
    item-count joins; item counts broadcast. This is exactly distributed
    A-priori's candidate-pair stage; FP-Growth only wins when baskets
    are huge.
    """
    li = read_table(spark, sf_dir, "lineitem")
    obs = Observation()
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.array_distinct(F.collect_list("l_partkey"))).alias("items"))
        # count(l_orderkey) skips the NULL-key group, as COUNT(DISTINCT) does
        .observe(obs, F.count("l_orderkey").alias("n"))
        .localCheckpoint()
    )
    n_baskets = obs.get["n"]
    item = baskets.select(F.explode("items").alias("l_partkey")).groupBy(
        "l_partkey"
    ).agg(F.count("*").cast("bigint").alias("n_i"))
    pair = (
        baskets.filter(F.col("l_orderkey").isNotNull())
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(items, (p1, i) -> transform("
                    "slice(items, i + 2, size(items)), p2 -> named_struct('p1', p1, 'p2', p2))))"
                )
            ).alias("pr")
        )
        .groupBy("pr.p1", "pr.p2")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_SUPPORT)
        .localCheckpoint()
        # ^ the HAVING-filtered pair table is tiny; without the
        # checkpoint the union's two branches each re-run the pair
        # generation + groupBy (the expensive half of the gate).
    )
    rules = pair.select(
        F.col("p1").alias("antecedent"),
        F.col("p2").alias("consequent"),
        "n_ab",
    ).unionByName(
        pair.select(
            F.col("p2").alias("antecedent"),
            F.col("p1").alias("consequent"),
            "n_ab",
        )
    )
    ia = item.select(F.col("l_partkey").alias("antecedent"), F.col("n_i").alias("n_a"))
    ic = item.select(F.col("l_partkey").alias("consequent"), F.col("n_i").alias("n_c"))
    N = F.lit(n_baskets).cast("bigint")
    return (
        rules.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .select(
            "antecedent",
            "consequent",
            F.col("n_ab").alias("support_n"),
            F.floor(
                F.lit(1000000.0)
                * F.col("n_ab").cast("double")
                / F.col("n_a").cast("double")
            )
            .cast("bigint")
            .alias("confidence_micro"),
            F.floor(
                F.lit(1000000.0)
                * (F.col("n_ab") * N).cast("double")
                / (F.col("n_a") * F.col("n_c")).cast("double")
            )
            .cast("bigint")
            .alias("lift_micro"),
        )
    )


# --- OLS linear trend (closed form, exact cross-products) ----------------

_TREND_ORACLE = """
    WITH b AS (
      SELECT event_type,
             datediff('hour', TIMESTAMP '1970-01-01 00:00:00', ts) AS h,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    x AS (
      SELECT event_type, y,
             h - MIN(h) OVER (PARTITION BY event_type) AS x
      FROM b
    ),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM x GROUP BY 1
    )
    SELECT event_type, n,
           CAST(FLOOR(1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)
             AS slope_micro,
           CAST(FLOOR(1000000.0 * CAST(sy * sxx - sx * sxy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)
             AS intercept_micro,
           CAST(FLOOR(1000000.0
                      * CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * syy - sy * sy AS DOUBLE)) AS BIGINT)
             AS r2_micro
    FROM m
"""


@gate("op_ml_linear_trend", _TREND_ORACLE)
def op_ml_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series OLS linear trend — the closed-form regression that
    anchors forecasting/capacity dashboards (next to the Newton-trained
    classifier in op_ml_logreg_quality): slope, intercept, and R² of
    hourly value against the hour index, per event type.

    Exactness: x recenters to hours-since-series-start (keeps every
    cross-product inside int64 under ANSI), the five moments are exact
    BIGINT sums, and slope/intercept/R² are closed forms —
    (nΣxy−ΣxΣy)/(nΣxx−Σx²), (ΣyΣxx−ΣxΣxy)/(nΣxx−Σx²),
    slope·(nΣxy−ΣxΣy)/(nΣyy−Σy²) — each evaluated in ONE fixed
    left-associated chain of correctly-rounded double divisions and
    floored ONCE to micro units. R² needs num² ~ 1e29 which overflows
    int64, so it stays a product of two exact-integer ratios instead.

    Scale shape: hourly pre-aggregation, a per-type MIN window on the
    collapsed frame, then one map-side-combined moment aggregate —
    series count, not corpus size, bounds the regression itself.
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    b = (
        ev.select(
            "event_type",
            F.floor(F.col("ts").cast("long") / 3600).cast("bigint").alias("h"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
        .groupBy("event_type", "h")
        .agg(F.sum("c").cast("bigint").alias("y"))
    )
    x = b.select(
        "event_type",
        "y",
        (
            F.col("h")
            - F.min("h").over(Window.partitionBy("event_type"))
        ).alias("x"),
    )
    m = x.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    iden = (
        F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")
    ).cast("double")
    sden = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return m.select(
        "event_type",
        "n",
        F.floor(F.lit(1000000.0) * num / den).cast("bigint").alias(
            "slope_micro"
        ),
        F.floor(F.lit(1000000.0) * iden / den).cast("bigint").alias(
            "intercept_micro"
        ),
        F.floor(F.lit(1000000.0) * num / den * num / sden)
        .cast("bigint")
        .alias("r2_micro"),
    )


# --- Two-sample Kolmogorov-Smirnov test (exact integer ECDFs) ------------

_KS_ORACLE = """
    WITH v AS (
      SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS x,
             user_id % 2 AS g
      FROM events
    ),
    n AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM v GROUP BY 1
    ),
    pts AS (
      SELECT event_type, x,
             CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM v GROUP BY 1, 2
    ),
    ecdf AS (
      SELECT event_type, x,
             CAST(SUM(ca) OVER (PARTITION BY event_type ORDER BY x)
                  AS BIGINT) AS ia,
             CAST(SUM(cb) OVER (PARTITION BY event_type ORDER BY x)
                  AS BIGINT) AS ib
      FROM pts
    ),
    d AS (
      SELECT e.event_type,
             CAST(MAX(ABS(ia * nb - ib * na)) AS BIGINT) AS d_num,
             MAX(na) AS na, MAX(nb) AS nb
      FROM ecdf e JOIN n ON n.event_type = e.event_type
      GROUP BY 1
    )
    SELECT event_type, na, nb, d_num,
           CAST(FLOOR(1000000.0 * CAST(d_num AS DOUBLE)
                      / CAST(na AS DOUBLE) / CAST(nb AS DOUBLE))
                AS BIGINT) AS d_micro,
           (CAST(d_num AS DOUBLE) / CAST(na AS DOUBLE) / CAST(nb AS DOUBLE)
            > 1.36 * sqrt(CAST(na + nb AS DOUBLE) / CAST(na AS DOUBLE)
                          / CAST(nb AS DOUBLE))) AS significant
    FROM d
"""


@gate("op_ab_test_ks", _KS_ORACLE)
def op_ab_test_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test per event type — the
    DISTRIBUTION-shift complement to q_ab_test_chi2's proportion test:
    D = max |ECDF_A − ECDF_B| between the id-parity variants, against
    the α=0.05 critical value 1.36·√((n+m)/nm).

    Exact ECDFs without sorting row-at-a-time: values collapse to
    per-value counts, a single windowed running sum per variant builds
    both ECDFs on the distinct-value frame, and the sup-gap clears to
    max |i·m − j·n| — exact BIGINT cross-products. The final D and the
    critical-value compare use fixed left-associated chains (sqrt is
    correctly-rounded IEEE, unlike pow/ln — the repo-wide rule).

    Scale shape: one conditional count per (type, value), ONE window
    sort per type over distinct values (not raw rows), one max-
    aggregate. The heavy stream collapses before any sort.
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("x"),
        (F.col("user_id") % 2).alias("g"),
    )
    n = v.groupBy("event_type").agg(
        F.sum((F.col("g") == 0).cast("int")).cast("bigint").alias("na"),
        F.sum((F.col("g") == 1).cast("int")).cast("bigint").alias("nb"),
    )
    pts = v.groupBy("event_type", "x").agg(
        F.sum((F.col("g") == 0).cast("int")).cast("bigint").alias("ca"),
        F.sum((F.col("g") == 1).cast("int")).cast("bigint").alias("cb"),
    )
    w = Window.partitionBy("event_type").orderBy("x")
    ecdf = pts.select(
        "event_type",
        F.sum("ca").over(w).cast("bigint").alias("ia"),
        F.sum("cb").over(w).cast("bigint").alias("ib"),
    )
    d = (
        ecdf.join(F.broadcast(n), "event_type")
        .groupBy("event_type")
        .agg(
            F.max(
                F.abs(F.col("ia") * F.col("nb") - F.col("ib") * F.col("na"))
            )
            .cast("bigint")
            .alias("d_num"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )
    dd = (
        F.col("d_num").cast("double")
        / F.col("na").cast("double")
        / F.col("nb").cast("double")
    )
    crit = F.lit(1.36) * F.sqrt(
        (F.col("na") + F.col("nb")).cast("double")
        / F.col("na").cast("double")
        / F.col("nb").cast("double")
    )
    return d.select(
        "event_type",
        "na",
        "nb",
        "d_num",
        F.floor(F.lit(1000000.0) * dd).cast("bigint").alias("d_micro"),
        (dd > crit).alias("significant"),
    )


# --- Exact precision/recall curve (threshold sweep, no global sort) ------

PR_STEPS = 10
PR_WIDE_LINES = 5  # label: order with >= 5 lineitems

_PR_CURVE_ORACLE = f"""
    WITH lab AS (
      SELECT l_orderkey,
             CASE WHEN COUNT(*) >= {PR_WIDE_LINES} THEN 1 ELSE 0 END AS lab
      FROM lineitem GROUP BY l_orderkey
    ),
    y AS (
      SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS y,
             CAST(COALESCE(l.lab, 0) AS BIGINT) AS lab
      FROM orders o LEFT JOIN lab l ON l.l_orderkey = o.o_orderkey
    ),
    g AS (
      SELECT CAST(MIN(y) AS BIGINT) AS mn, CAST(MAX(y) AS BIGINT) AS mx,
             CAST(SUM(lab) AS BIGINT) AS pos
      FROM y
    ),
    th AS (
      SELECT CAST(t.i AS BIGINT) AS i,
             CAST(g.mn + ((g.mx - g.mn) * t.i) // {PR_STEPS} AS BIGINT)
               AS thr,
             g.pos
      FROM g CROSS JOIN (SELECT * FROM range(1, {PR_STEPS + 1})) t(i)
    ),
    agg AS (
      SELECT th.i, th.thr, th.pos,
             CAST(SUM(CASE WHEN y.y >= th.thr THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pred,
             CAST(SUM(CASE WHEN y.y >= th.thr THEN y.lab ELSE 0 END)
                  AS BIGINT) AS tp
      FROM th CROSS JOIN y GROUP BY th.i, th.thr, th.pos
    )
    SELECT i, thr AS threshold_cents, n_pred, tp,
           CAST(n_pred - tp AS BIGINT) AS fp, pos AS pos_total,
           CASE WHEN n_pred > 0 THEN
             CAST(FLOOR(1000000.0 * CAST(tp AS DOUBLE)
                        / CAST(n_pred AS DOUBLE)) AS BIGINT)
           END AS precision_micro,
           CAST(FLOOR(1000000.0 * CAST(tp AS DOUBLE)
                      / CAST(pos AS DOUBLE)) AS BIGINT) AS recall_micro
    FROM agg
"""


@gate("op_ml_pr_curve", _PR_CURVE_ORACLE)
def op_ml_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact precision/recall curve for a ranking score — the
    classifier-eval companion to op_ml_logreg_eval_auc's single AUC
    number: TP/FP/precision/recall at {PR_STEPS} score thresholds,
    here "does order value predict a wide (≥{PR_WIDE_LINES}-line)
    order". Thresholds are evenly spaced between the observed min and
    max score in integer cents, so the sweep needs NO global sort or
    rank — the shape that survives 100 TB, where a row_number over the
    full score column would be a single-partition window.

    One scan computes min/max/positives (1-row broadcast), the 10-row
    threshold frame crossJoins back (broadcast nested loop), and a
    map-side-combined groupBy leaves 10 aggregate rows. Counts are
    exact integers; the two ratios are floored micros.

    On this corpus the curve's finding is that the ranker is
    UNINFORMATIVE: order value and line width are independent in the
    synthetic data (corr ≈ 0.003), so precision pins at the positive
    prior (~0.36) across all thresholds — exactly the failure a PR
    audit exists to surface before a score ships as a filter. pytest
    recounts every cell and asserts the monotone structure (n_pred,
    tp, recall non-increasing in threshold).
    """
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    lab = li.groupBy("l_orderkey").agg(
        F.when(F.count("*") >= PR_WIDE_LINES, F.lit(1))
        .otherwise(F.lit(0))
        .alias("lab")
    )
    y = o.join(lab, o.o_orderkey == lab.l_orderkey, "left").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("y"),
        F.coalesce("lab", F.lit(0)).cast("bigint").alias("lab"),
    )
    g = y.agg(
        F.min("y").cast("bigint").alias("mn"),
        F.max("y").cast("bigint").alias("mx"),
        F.sum("lab").cast("bigint").alias("pos"),
    )
    th = (
        g.select(
            "mn",
            "mx",
            "pos",
            F.explode(F.sequence(F.lit(1), F.lit(PR_STEPS))).alias("i"),
        )
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.expr(f"mn + ((mx - mn) * i) div {PR_STEPS}")
            .cast("bigint")
            .alias("thr"),
            "pos",
        )
    )
    agg = (
        y.crossJoin(F.broadcast(th))
        .groupBy("i", "thr", "pos")
        .agg(
            F.sum(F.when(F.col("y") >= F.col("thr"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pred"),
            F.sum(
                F.when(F.col("y") >= F.col("thr"), F.col("lab")).otherwise(0)
            )
            .cast("bigint")
            .alias("tp"),
        )
    )
    return agg.select(
        "i",
        F.col("thr").alias("threshold_cents"),
        "n_pred",
        "tp",
        (F.col("n_pred") - F.col("tp")).cast("bigint").alias("fp"),
        F.col("pos").alias("pos_total"),
        F.when(
            F.col("n_pred") > 0,
            F.floor(
                F.lit(1000000.0)
                * F.col("tp").cast("double")
                / F.col("n_pred").cast("double")
            ).cast("bigint"),
        ).alias("precision_micro"),
        F.floor(
            F.lit(1000000.0)
            * F.col("tp").cast("double")
            / F.col("pos").cast("double")
        )
        .cast("bigint")
        .alias("recall_micro"),
    )


# --- Decision-stump feature screening (Gini split gain) --------------------

GINI_DIMS = 8  # screen embedding dims 1..8 (1-indexed)
GINI_THRESHOLDS = [t * 50 for t in range(-4, 5)]  # millis: -200..200 step 50
GINI_QSCALE = 1000


def _gini_oracle() -> str:
    thr_rows = ", ".join(f"({t})" for t in GINI_THRESHOLDS)
    return f"""
    WITH x AS (
      SELECT vec_id, CAST(label % 2 AS BIGINT) AS y, d,
             CAST(ROUND(CAST(embedding[d] AS DOUBLE) * {GINI_QSCALE}, 0)
                  AS BIGINT) AS xm
      FROM embeddings, unnest(range(1, {GINI_DIMS} + 1)) AS u(d)
    ),
    grid AS (SELECT * FROM x CROSS JOIN (VALUES {thr_rows}) AS t(thr)),
    cells AS (
      SELECT d, thr,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS p,
             CAST(SUM(CASE WHEN xm <= thr THEN 1 ELSE 0 END) AS BIGINT) AS nl,
             CAST(SUM(CASE WHEN xm <= thr THEN y ELSE 0 END) AS BIGINT) AS pl
      FROM grid GROUP BY d, thr
    ),
    gains AS (
      SELECT d, thr, n, nl, n - nl AS nr,
             CAST(ROUND(2.0 * (
               CAST(p * (n - p) AS DOUBLE) / CAST(n AS DOUBLE)
               - CASE WHEN nl = 0 THEN 0.0 ELSE
                   CAST(pl * (nl - pl) AS DOUBLE) / CAST(nl AS DOUBLE) END
               - CASE WHEN n - nl = 0 THEN 0.0 ELSE
                   CAST((p - pl) * ((n - nl) - (p - pl)) AS DOUBLE)
                   / CAST(n - nl AS DOUBLE) END
             ) / CAST(n AS DOUBLE) * 1000000, 0) AS BIGINT) AS gain_micro
      FROM cells
    )
    SELECT CAST(d AS BIGINT) AS dim,
           CAST(thr AS BIGINT) AS best_thr_milli,
           gain_micro AS gain_micro,
           CAST(nl AS BIGINT) AS n_left,
           CAST(nr AS BIGINT) AS n_right
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY d
                                   ORDER BY gain_micro DESC, thr) AS rk
      FROM gains
    ) WHERE rk = 1
    """


@gate("op_gini_best_split", _gini_oracle())
def op_gini_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump feature screening: for each of the first
    GINI_DIMS embedding dimensions, find the threshold (on the
    milli-quantized component) with the largest binary-Gini impurity
    reduction against the parity label — the one-pass filter a feature
    pipeline runs to rank candidate features before training anything
    (CART's split criterion, evaluated exhaustively on a fixed
    threshold grid).

    Exactness: counts are integers; binary Gini 2pq/n and the weighted
    gain reduce to one fixed chain of bigint products and double
    divisions per (dim, threshold) cell — identical op order in both
    engines — rounded once to integer micros; argmax tiebreaks by
    threshold. No pow/ln.

    Scale shape: explode dims (8x) then a conditional aggregate per
    (dim, threshold) — map-side combined to GINI_DIMS x |grid| rows, so
    the shuffle is constant-size regardless of corpus; the argmax is a
    window over that tiny aggregate.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    x = emb.select(
        (F.col("label") % 2).cast("bigint").alias("y"),
        F.posexplode(
            F.slice(
                F.transform(
                    "embedding",
                    lambda v: F.round(
                        v.cast("double") * GINI_QSCALE, 0
                    ).cast("bigint"),
                ),
                1,
                GINI_DIMS,
            )
        ).alias("d0", "xm"),
    ).select((F.col("d0") + 1).alias("d"), "y", "xm")
    thr = F.explode(
        F.array(*[F.lit(t).cast("bigint") for t in GINI_THRESHOLDS])
    )
    grid = x.select("d", "y", "xm", thr.alias("thr"))
    left = (F.col("xm") <= F.col("thr")).cast("bigint")
    cells = grid.groupBy("d", "thr").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("p"),
        F.sum(left).cast("bigint").alias("nl"),
        F.sum(left * F.col("y")).cast("bigint").alias("pl"),
    )
    nr = F.col("n") - F.col("nl")
    pr = F.col("p") - F.col("pl")
    parent = (F.col("p") * (F.col("n") - F.col("p"))).cast("double") / F.col(
        "n"
    ).cast("double")
    lterm = F.when(F.col("nl") == 0, F.lit(0.0)).otherwise(
        (F.col("pl") * (F.col("nl") - F.col("pl"))).cast("double")
        / F.col("nl").cast("double")
    )
    rterm = F.when(nr == 0, F.lit(0.0)).otherwise(
        (pr * (nr - pr)).cast("double") / nr.cast("double")
    )
    gains = cells.select(
        "d",
        "thr",
        "nl",
        nr.alias("nr"),
        F.round(
            F.lit(2.0) * (parent - lterm - rterm) / F.col("n").cast("double")
            * 1000000,
            0,
        )
        .cast("bigint")
        .alias("gain_micro"),
    )
    from pyspark.sql import Window

    wk = Window.partitionBy("d").orderBy(F.desc("gain_micro"), F.asc("thr"))
    return (
        gains.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") == 1)
        .select(
            F.col("d").cast("bigint").alias("dim"),
            F.col("thr").cast("bigint").alias("best_thr_milli"),
            "gain_micro",
            F.col("nl").cast("bigint").alias("n_left"),
            F.col("nr").cast("bigint").alias("n_right"),
        )
    )


# --- L19x round 8: multinomial naive Bayes language classifier ---------------

_NB_TOK = r"string_split_regex(TRIM(text), '\s+')"

_NB_ORACLE = rf"""
    WITH docs AS (
      SELECT doc_id, lang, text FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    train_tok AS (
      SELECT lang, unnest({_NB_TOK}) AS w FROM docs WHERE doc_id % 2 = 0
    ),
    cw AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM train_tok GROUP BY 1, 2
    ),
    nl AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM cw GROUP BY 1),
    vv AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM train_tok),
    dl AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS d FROM docs
      WHERE doc_id % 2 = 0 GROUP BY 1
    ),
    dd AS (SELECT CAST(SUM(d) AS BIGINT) AS t FROM dl),
    -- per-(lang, token) NLL in micro-nats, rounded ONCE; the unseen-token
    -- fallback per lang is ln(n_l + V) (i.e. -ln of the Laplace 1/(n+V))
    nll AS (
      SELECT cw.lang, cw.w,
             CAST(ROUND(-ln(CAST(cw.c + 1 AS DOUBLE) / CAST(nl.n + vv.v AS DOUBLE))
                        * 1000000.0, 0) AS BIGINT) AS u
      FROM cw JOIN nl USING (lang) CROSS JOIN vv
    ),
    nll0 AS (
      SELECT nl.lang,
             CAST(ROUND(ln(CAST(nl.n + vv.v AS DOUBLE)) * 1000000.0, 0)
                  AS BIGINT) AS u0
      FROM nl CROSS JOIN vv
    ),
    prior AS (
      SELECT dl.lang,
             CAST(ROUND(-ln(CAST(dl.d AS DOUBLE) / CAST(dd.t AS DOUBLE))
                        * 1000000.0, 0) AS BIGINT) AS pu
      FROM dl CROSS JOIN dd
    ),
    vocab AS (SELECT DISTINCT w FROM train_tok),
    test_tok AS (
      SELECT doc_id, unnest({_NB_TOK}) AS w FROM docs WHERE doc_id % 2 = 1
    ),
    dw AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS cdw
      FROM test_tok GROUP BY 1, 2
    ),
    dwv AS (SELECT dw.* FROM dw JOIN vocab USING (w)),
    contrib AS (
      SELECT dwv.doc_id, nll0.lang,
             CAST(SUM(dwv.cdw * COALESCE(nll.u, nll0.u0)) AS BIGINT) AS s
      FROM dwv
      CROSS JOIN nll0
      LEFT JOIN nll ON nll.lang = nll0.lang AND nll.w = dwv.w
      GROUP BY 1, 2
    ),
    td AS (SELECT doc_id, lang AS lang_true FROM docs WHERE doc_id % 2 = 1),
    scores AS (
      SELECT td.doc_id, td.lang_true, prior.lang AS lang_cand,
             prior.pu + COALESCE(contrib.s, 0) AS score_u
      FROM td
      CROSS JOIN prior
      LEFT JOIN contrib ON contrib.doc_id = td.doc_id
                       AND contrib.lang = prior.lang
    ),
    pred AS (
      SELECT doc_id, lang_true, lang_cand AS lang_pred FROM (
        SELECT doc_id, lang_true, lang_cand,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score_u, lang_cand) AS pr
        FROM scores
      ) WHERE pr = 1
    )
    SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2
"""


@gate("op_ml_naive_bayes_lang", _NB_ORACLE)
def op_ml_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language classifier, trained on the even
    doc_ids and evaluated as a confusion matrix over the odd ones — the
    classic fast lang-id model (langid.py's core; McCallum & Nigam 1998)
    next to the heuristic op_text_lang_id: add-one-smoothed per-language
    token likelihoods + document priors, argmin total NLL per test doc.
    Out-of-vocabulary test tokens are skipped (inner join to the train
    vocab) — the standard choice that keeps the model pure-counting.

    Exactness: every model weight is rounded ONCE to integer micro-nats
    — per-(lang, token) -ln((c+1)/(n_l+V)), per-lang unseen fallback
    ln(n_l+V), per-lang prior -ln(d_l/D) — then all scoring is exact
    bigint multiply-accumulate, and the per-doc argmin breaks ties
    (score, lang). The op_lm_perplexity ln policy at ~5x vocab terms.

    Scale shape: training is one token-count aggregate (map-side
    combined) + lang-sized marginals; scoring joins test (doc, token)
    counts to the model on the token key — a linear keyed shuffle, the
    model's lang fan-out is a constant factor (#languages); the argmin
    is one WindowGroupLimit pass; the confusion matrix is a lang x lang
    aggregate. No iteration, no driver loops; the only scalar collect
    is V and D (single-row aggregates).
    """
    from pyspark.sql import Window

    from apitap_spark.functions.text import tokens

    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    train_tok = train.select("lang", F.explode(tokens("text")).alias("w"))
    cw = (
        train_tok.groupBy("lang", "w")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint()  # feeds nl, vocab-ish marginals and nll
    )
    nl = cw.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n"))
    vocab = cw.select("w").distinct()
    totals = vocab.agg(F.count("*").cast("bigint").alias("v")).crossJoin(
        train.agg(F.count("*").cast("bigint").alias("t"))
    ).collect()[0]
    v_size, d_total = int(totals["v"]), int(totals["t"])
    dl = train.groupBy("lang").agg(F.count("*").cast("bigint").alias("d"))

    def _u(col):
        return F.round(col * F.lit(1000000.0), 0).cast("bigint")

    nll = cw.join(F.broadcast(nl), "lang").select(
        "lang",
        "w",
        _u(
            -F.log(
                (F.col("c") + F.lit(1)).cast("double")
                / (F.col("n") + F.lit(v_size)).cast("double")
            )
        ).alias("u"),
    )
    nll0 = nl.select(
        "lang",
        _u(F.log((F.col("n") + F.lit(v_size)).cast("double"))).alias("u0"),
    )
    prior = dl.select(
        "lang",
        _u(
            -F.log(F.col("d").cast("double") / F.lit(float(d_total)))
        ).alias("pu"),
    )
    test_tok = test.select("doc_id", F.explode(tokens("text")).alias("w"))
    dw = test_tok.groupBy("doc_id", "w").agg(
        F.count("*").cast("bigint").alias("cdw")
    )
    dwv = dw.join(vocab, "w", "semi")
    contrib = (
        dwv.crossJoin(F.broadcast(nll0))
        .join(nll, ["lang", "w"], "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("cdw") * F.coalesce("u", "u0"))
            .cast("bigint")
            .alias("s")
        )
    )
    td = test.select("doc_id", F.col("lang").alias("lang_true"))
    scores = (
        td.crossJoin(F.broadcast(prior.withColumnRenamed("lang", "lang_cand")))
        .join(
            contrib.withColumnRenamed("lang", "lang_cand"),
            ["doc_id", "lang_cand"],
            "left",
        )
        .select(
            "doc_id",
            "lang_true",
            "lang_cand",
            (F.col("pu") + F.coalesce("s", F.lit(0).cast("bigint"))).alias(
                "score_u"
            ),
        )
    )
    wp = Window.partitionBy("doc_id").orderBy("score_u", "lang_cand")
    pred = (
        scores.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") == 1)
        .select("lang_true", F.col("lang_cand").alias("lang_pred"))
    )
    return pred.groupBy("lang_true", "lang_pred").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )


# --- L19x round 8: two-round AdaBoost decision-stump boosting ----------------

# Stump space: dims 1..GINI_DIMS x GINI_THRESHOLDS (milli grid) x polarity
# (1 = predict positive on the LEFT branch xm <= thr, 0 = on the right).


def _ada_oracle() -> str:
    thr_rows = ", ".join(f"({t})" for t in GINI_THRESHOLDS)
    return f"""
    WITH x AS MATERIALIZED (
      SELECT vec_id, CAST(label % 2 AS BIGINT) AS y, d,
             CAST(ROUND(CAST(embedding[d] AS DOUBLE) * {GINI_QSCALE}, 0)
                  AS BIGINT) AS xm
      FROM embeddings, unnest(range(1, {GINI_DIMS} + 1)) AS u(d)
    ),
    cells AS MATERIALIZED (
      SELECT d, thr,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS p,
             CAST(SUM(CASE WHEN xm <= thr THEN 1 ELSE 0 END) AS BIGINT) AS nl,
             CAST(SUM(CASE WHEN xm <= thr THEN y ELSE 0 END) AS BIGINT) AS pl
      FROM x CROSS JOIN (VALUES {thr_rows}) AS t(thr)
      GROUP BY d, thr
    ),
    errs AS MATERIALIZED (
      -- pol=1 mistakes: wrong-on-left (nl - pl) + wrong-on-right (p - pl);
      -- pol=0 is the complement n - mis1
      SELECT d, thr, n, CAST(1 AS BIGINT) AS pol,
             nl + p - 2 * pl AS mis FROM cells
      UNION ALL
      SELECT d, thr, n, CAST(0 AS BIGINT) AS pol,
             n - (nl + p - 2 * pl) AS mis FROM cells
    ),
    h1 AS MATERIALIZED (
      SELECT d, thr, pol, mis AS e, n FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY mis, d, thr, pol) AS rk
        FROM errs
      ) WHERE rk = 1
    ),
    m1 AS MATERIALIZED (
      -- per-example misclassified-by-h1 flag (join on the winning dim)
      SELECT x.vec_id,
             CASE WHEN (CASE WHEN h1.pol = 1
                             THEN CASE WHEN x.xm <= h1.thr THEN 1 ELSE 0 END
                             ELSE CASE WHEN x.xm <= h1.thr THEN 0 ELSE 1 END
                        END) <> x.y
                  THEN 1 ELSE 0 END AS m
      FROM x JOIN h1 ON x.d = h1.d
    ),
    cells2 AS MATERIALIZED (
      -- joint counts of (misclassified by candidate pol=1 stump,
      -- misclassified by h1)
      SELECT x.d, t.thr,
             CAST(SUM(CASE WHEN ((CASE WHEN x.xm <= t.thr THEN 1 ELSE 0 END)
                                 <> x.y) AND m1.m = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS a1,
             CAST(SUM(CASE WHEN ((CASE WHEN x.xm <= t.thr THEN 1 ELSE 0 END)
                                 <> x.y) AND m1.m = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS b1
      FROM x JOIN m1 USING (vec_id)
      CROSS JOIN (VALUES {thr_rows}) AS t(thr)
      GROUP BY x.d, t.thr
    ),
    errs2 AS MATERIALIZED (
      -- reweighted error in exact micro units: mistakes hit by h1 weigh
      -- 1/(2E), the rest 1/(2(N-E)); pol=0 complements within each class
      SELECT c2.d, c2.thr, CAST(1 AS BIGINT) AS pol,
             (c2.a1 * (h1.n - h1.e) + c2.b1 * h1.e) * 1000000
               // (2 * h1.e * (h1.n - h1.e)) AS e2
      FROM cells2 c2 CROSS JOIN h1
      UNION ALL
      SELECT c2.d, c2.thr, CAST(0 AS BIGINT) AS pol,
             ((h1.e - c2.a1) * (h1.n - h1.e) + ((h1.n - h1.e) - c2.b1) * h1.e)
               * 1000000 // (2 * h1.e * (h1.n - h1.e)) AS e2
      FROM cells2 c2 CROSS JOIN h1
    ),
    h2 AS MATERIALIZED (
      SELECT d, thr, pol, e2 FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY e2, d, thr, pol) AS rk
        FROM errs2
      ) WHERE rk = 1
    )
    SELECT CAST(1 AS BIGINT) AS boost_round,
           CAST(d AS BIGINT) AS dim, CAST(thr AS BIGINT) AS thr_milli, pol,
           e * 1000000 // n AS err_micro,
           CAST(ROUND(0.5 * ln(CAST(n - e AS DOUBLE) / CAST(e AS DOUBLE))
                      * 1000000.0, 0) AS BIGINT) AS alpha_micro
    FROM h1
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(h2.d AS BIGINT), CAST(h2.thr AS BIGINT),
           h2.pol, h2.e2,
           CAST(ROUND(0.5 * ln(CAST(1000000 - h2.e2 AS DOUBLE)
                               / CAST(h2.e2 AS DOUBLE)) * 1000000.0, 0)
                AS BIGINT)
    FROM h2
    """


@gate("op_ml_adaboost_stump_round", _ada_oracle())
def op_ml_adaboost_stump_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of discrete AdaBoost (Freund & Schapire 1997) over the
    op_gini_best_split stump space — dims 1..8 x milli-threshold grid x
    polarity, parity label as the binary target. Round 1 picks the
    minimum-error stump under uniform weights; round 2 re-weights
    (mistakes of h1 up-weighted to 1/(2E), the rest 1/(2(N-E)) — the
    EXACT closed form of exp(+-alpha1) normalization from a uniform
    start) and picks the next stump under the new weights. The gate
    demonstrates boosting-on-aggregates: reweighting never materializes
    per-example weights as floats, because after one round the weight
    function takes two RATIONAL values determined by integer counts.

    Exactness: both rounds' errors are exact integer arithmetic —
    round 1 is mistake counts, round 2 is (A*(N-E) + B*E) * 1e6 //
    (2E(N-E)) with A = mistakes shared with h1, B = new mistakes — and
    only the REPORTED alpha = 0.5*ln((1-err)/err) touches a double (one
    division of exact integers into ln, rounded once to micros; the
    selection itself never depends on it). Argmins tie-break
    (err, dim, thr, polarity) in both engines.

    Scale shape: two passes, each one map-side-combined conditional
    aggregate over the exploded (dim x threshold) grid — constant
    output cardinality (8 x 9 cells) regardless of corpus size; the h1
    parameters cross to round 2 as a single broadcast row; the
    per-example h1-mistake flag is a narrow projection, never a
    shuffle. At 100 TB each boosting round costs exactly one scan.
    """
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        (F.col("label") % 2).cast("bigint").alias("y"),
        F.posexplode(
            F.slice(
                F.transform(
                    "embedding",
                    lambda v: F.round(v.cast("double") * GINI_QSCALE, 0).cast(
                        "bigint"
                    ),
                ),
                1,
                GINI_DIMS,
            )
        ).alias("d0", "xm"),
    ).select("vec_id", (F.col("d0") + 1).alias("d"), "y", "xm")
    thr = F.explode(
        F.array(*[F.lit(t).cast("bigint") for t in GINI_THRESHOLDS])
    )
    grid = x.select("d", "y", "xm", thr.alias("thr"))
    left = (F.col("xm") <= F.col("thr")).cast("bigint")
    cells = grid.groupBy("d", "thr").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("p"),
        F.sum(left).cast("bigint").alias("nl"),
        F.sum(left * F.col("y")).cast("bigint").alias("pl"),
    )
    mis1 = F.col("nl") + F.col("p") - 2 * F.col("pl")
    errs = cells.select(
        "d", "thr", "n", F.lit(1).cast("bigint").alias("pol"),
        mis1.alias("mis"),
    ).unionByName(
        cells.select(
            "d", "thr", "n", F.lit(0).cast("bigint").alias("pol"),
            (F.col("n") - mis1).alias("mis"),
        )
    )
    wk = Window.orderBy("mis", "d", "thr", "pol")
    h1 = (
        errs.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") == 1)
        .select("d", "thr", "pol", F.col("mis").alias("e"), "n")
        .localCheckpoint()  # feeds m1, errs2 AND the output row
    )
    # per-example h1-mistake flag: narrow projection on the winning dim
    pred1 = F.when(
        F.col("h1_pol") == 1, (F.col("xm") <= F.col("h1_thr")).cast("bigint")
    ).otherwise((F.col("xm") > F.col("h1_thr")).cast("bigint"))
    m1 = (
        x.join(
            F.broadcast(
                h1.select(
                    F.col("d"),
                    F.col("thr").alias("h1_thr"),
                    F.col("pol").alias("h1_pol"),
                )
            ),
            "d",
        )
        .select("vec_id", (pred1 != F.col("y")).cast("bigint").alias("m"))
    )
    g2 = x.join(m1, "vec_id").select("d", "y", "xm", "m", thr.alias("thr"))
    mis_c = ((F.col("xm") <= F.col("thr")).cast("bigint") != F.col("y")).cast(
        "bigint"
    )
    cells2 = g2.groupBy("d", "thr").agg(
        F.sum(mis_c * F.col("m")).cast("bigint").alias("a1"),
        F.sum(mis_c * (1 - F.col("m"))).cast("bigint").alias("b1"),
    )
    he = cells2.crossJoin(F.broadcast(h1.select("e", "n")))
    e2_1 = F.expr("(a1 * (n - e) + b1 * e) * 1000000L div (2 * e * (n - e))")
    e2_0 = F.expr(
        "((e - a1) * (n - e) + ((n - e) - b1) * e) * 1000000L"
        " div (2 * e * (n - e))"
    )
    errs2 = he.select(
        "d", "thr", F.lit(1).cast("bigint").alias("pol"), e2_1.alias("e2")
    ).unionByName(
        he.select(
            "d", "thr", F.lit(0).cast("bigint").alias("pol"), e2_0.alias("e2")
        )
    )
    wk2 = Window.orderBy("e2", "d", "thr", "pol")
    h2 = (
        errs2.withColumn("rk", F.row_number().over(wk2))
        .filter(F.col("rk") == 1)
        .select("d", "thr", "pol", "e2")
    )

    def _alpha(num, den):
        return F.round(
            F.lit(0.5) * F.log(num.cast("double") / den.cast("double"))
            * F.lit(1000000.0),
            0,
        ).cast("bigint")

    r1 = h1.select(
        F.lit(1).cast("bigint").alias("boost_round"),
        F.col("d").cast("bigint").alias("dim"),
        F.col("thr").cast("bigint").alias("thr_milli"),
        "pol",
        F.expr("e * 1000000L div n").alias("err_micro"),
        _alpha(F.col("n") - F.col("e"), F.col("e")).alias("alpha_micro"),
    )
    r2 = h2.select(
        F.lit(2).cast("bigint").alias("boost_round"),
        F.col("d").cast("bigint").alias("dim"),
        F.col("thr").cast("bigint").alias("thr_milli"),
        "pol",
        F.col("e2").alias("err_micro"),
        _alpha(F.lit(1000000) - F.col("e2"), F.col("e2")).alias(
            "alpha_micro"
        ),
    )
    return r1.unionByName(r2)


# --- L19x round 8: unbiased pass@k estimator ----------------------------------

PASS_K = 5  # k of pass@k
PASS_CUTOFF = 60.0  # an event "passes" when value >= cutoff


def _passk_product(n: str, c: str) -> str:
    """Left-associated SQL product Π_{i=0..k-1} (n-c-i)/(n-i) — equal to
    C(n-c, k)/C(n, k); hits an exact 0.0 factor whenever n-c < k, so the
    estimator needs no special-casing."""
    out = None
    for i in range(PASS_K):
        f = (
            f"(CAST({n} - {c} - {i} AS DOUBLE)"
            f" / CAST({n} - {i} AS DOUBLE))"
        )
        out = f if out is None else f"({out} * {f})"
    return out


_PASSK_ORACLE = f"""
    WITH tasks AS (
      SELECT event_type, user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value >= {PASS_CUTOFF} THEN 1 ELSE 0 END)
                  AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    scored AS (
      SELECT event_type,
             CAST(ROUND((1.0 - {_passk_product('n', 'c')}) * 1000000.0, 0)
                  AS BIGINT) AS pass_micro
      FROM tasks WHERE n >= {PASS_K}
    )
    SELECT event_type,
           CAST({PASS_K} AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_tasks,
           CAST(SUM(pass_micro) // COUNT(*) AS BIGINT) AS mean_pass_micro,
           CAST(SUM(CASE WHEN pass_micro = 1000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_certain
    FROM scored GROUP BY event_type
"""


@gate("op_eval_pass_at_k", _PASSK_ORACLE)
def op_eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@k estimator (Chen et al. 2021, arXiv:2107.03374
    §2.1 — the HumanEval metric): per task, pass@k = 1 - C(n-c,k)/C(n,k)
    over n sampled attempts with c passes, averaged per group. Here a
    "task" is a (event_type, user_id) sample set and an attempt passes
    when value >= cutoff — the same benchmark-evaluation machinery a
    model-eval pipeline runs over per-problem generation batches, on
    this schema's stand-in. The naive c>0-fraction estimator is biased
    when n > k; the combinatorial ratio is the fix the paper exists for.

    Exactness: C(n-c,k)/C(n,k) evaluates as the LEFT-ASSOCIATED product
    of k exact-integer ratios (one division each, multiplied in fixed
    order — both engines parse a*b*c the same way); whenever n-c < k a
    factor is an exact 0.0, so the pass@k = 1 branch needs no special
    case. One round to integer micros per task; group means are exact
    bigint division. No pow/ln/binomials-as-floats.

    Scale shape: one map-side-combined (event_type, user) aggregate,
    then a constant chain of arithmetic per task row and a group-sized
    reduce — two linear shuffles total, no joins, no windows.
    """
    ev = read_table(spark, sf_dir, "events")
    tasks = (
        ev.groupBy("event_type", "user_id")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum((F.col("value") >= PASS_CUTOFF).cast("int"))
            .cast("bigint")
            .alias("c"),
        )
        .filter(F.col("n") >= PASS_K)
    )
    scored = tasks.select(
        "event_type",
        F.expr(
            f"CAST(ROUND((1.0 - {_passk_product('n', 'c')}) * 1000000.0, 0)"
            " AS BIGINT)"
        ).alias("pass_micro"),
    )
    return scored.groupBy("event_type").agg(
        F.lit(PASS_K).cast("bigint").alias("k"),
        F.count("*").cast("bigint").alias("n_tasks"),
        F.expr("CAST(sum(pass_micro) div count(*) AS BIGINT)").alias(
            "mean_pass_micro"
        ),
        F.sum((F.col("pass_micro") == 1000000).cast("int"))
        .cast("bigint")
        .alias("n_certain"),
    )


# --- Disaggregated fairness audit (equalized-odds gaps) --------------------

# The audited classifier: predict "long document" (n_chars >= the label
# bar) from the distinct-token-ratio quality signal (dm < the prediction
# bar — longer docs repeat vocabulary, so LOW lexical diversity predicts
# length). Bars picked so every lang group has positives AND negatives
# with a non-trivial error mix at sf0.001 and sf0.01 (measured before
# registering — the vacuous-fixture guard).
FAIR_LABEL_CHARS = 250
FAIR_PRED_BAR = 550000  # micro distinct-token ratio


def _fairness_oracle() -> str:
    return rf"""
    WITH per AS (
      SELECT lang,
             CASE WHEN n_chars >= {FAIR_LABEL_CHARS} THEN 1 ELSE 0 END AS y,
             CASE WHEN LEN(list_distinct(string_split_regex(TRIM(text), '\s+')))
                       * 1000000
                       // LEN(string_split_regex(TRIM(text), '\s+'))
                       < {FAIR_PRED_BAR} THEN 1 ELSE 0 END AS yhat
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    ),
    grp AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS pos,
             CAST(SUM(1 - y) AS BIGINT) AS neg,
             CAST(SUM(y * yhat) AS BIGINT) AS tp,
             CAST(SUM((1 - y) * yhat) AS BIGINT) AS fp
      FROM per GROUP BY lang
    ),
    pooled AS (
      SELECT CAST(SUM(tp) * 1000000 // SUM(pos) AS BIGINT) AS tpr_all,
             CAST(SUM(fp) * 1000000 // SUM(neg) AS BIGINT) AS fpr_all
      FROM grp
    )
    SELECT g.lang, g.n, g.pos, g.neg, g.tp, g.fp,
           CAST(g.tp * 1000000 // g.pos AS BIGINT) AS tpr_micro,
           CAST(g.fp * 1000000 // g.neg AS BIGINT) AS fpr_micro,
           p.tpr_all, p.fpr_all,
           CAST(ABS(g.tp * 1000000 // g.pos - p.tpr_all) AS BIGINT)
             AS tpr_gap_micro,
           CAST(ABS(g.fp * 1000000 // g.neg - p.fpr_all) AS BIGINT)
             AS fpr_gap_micro
    FROM grp g CROSS JOIN pooled p
    """


@gate("op_fairness_equalized_odds", _fairness_oracle())
def op_fairness_equalized_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disaggregated evaluation / equalized-odds audit (Hardt et al.
    2016): per protected group (lang), the TPR and FPR of a classifier
    and their absolute gaps against the pooled rates — the fairness
    table a model card publishes so one group's error rates can't hide
    inside a good aggregate.

    The audited classifier is fixed and deterministic (low lexical
    diversity predicts "long document"), so the audit arithmetic is the
    content: all counts integer, rates in exact micro units, divisions
    only on positive denominators (every group has pos>0 and neg>0 at
    the shipped bars — measured at both driver SFs before registering);
    the gap subtraction happens BEFORE abs on integers, never a signed
    division.

    Scale shape: one corpus projection, one map-side-combined groupBy
    on the K-value lang key, pooled rates as a 1-row aggregate of the
    K-row group table broadcast back. The corpus is scanned once.
    """
    from apitap_spark.functions.text import token_count, tokens

    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    t = tokens("text")
    per = docs.select(
        "lang",
        (F.col("n_chars") >= FAIR_LABEL_CHARS).cast("bigint").alias("y"),
        (F.size(F.array_distinct(t)).cast("bigint") * F.lit(1000000)).alias(
            "_dnum"
        ),
        token_count("text").alias("_ntok"),
    ).select(
        "lang",
        "y",
        (F.expr("_dnum div _ntok") < FAIR_PRED_BAR).cast("bigint").alias("yhat"),
    )
    grp = per.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
        F.sum(1 - F.col("y")).cast("bigint").alias("neg"),
        F.sum(F.col("y") * F.col("yhat")).cast("bigint").alias("tp"),
        F.sum((1 - F.col("y")) * F.col("yhat")).cast("bigint").alias("fp"),
    ).localCheckpoint()  # K rows; feeds pooled AND the output join
    pooled = grp.agg(
        F.expr("sum(tp) * 1000000 div sum(pos)").cast("bigint").alias("tpr_all"),
        F.expr("sum(fp) * 1000000 div sum(neg)").cast("bigint").alias("fpr_all"),
    )
    return grp.crossJoin(F.broadcast(pooled)).select(
        "lang",
        "n",
        "pos",
        "neg",
        "tp",
        "fp",
        F.expr("tp * 1000000 div pos").cast("bigint").alias("tpr_micro"),
        F.expr("fp * 1000000 div neg").cast("bigint").alias("fpr_micro"),
        "tpr_all",
        "fpr_all",
        F.expr("abs(tp * 1000000 div pos - tpr_all)")
        .cast("bigint")
        .alias("tpr_gap_micro"),
        F.expr("abs(fp * 1000000 div neg - fpr_all)")
        .cast("bigint")
        .alias("fpr_gap_micro"),
    )


# --- McNemar paired-classifier comparison ----------------------------------

# Classifier A: the fairness gate's lexical-diversity stump; classifier
# B: a token-count stump. Same label as the fairness audit. Discordant
# counts measured non-degenerate at sf0.001 (b=22, c=32) and sf0.01
# (b=20, c=33) before registering.
MCNEMAR_B_TOKENS = 50


def _mcnemar_oracle() -> str:
    return rf"""
    WITH per AS (
      SELECT CASE WHEN n_chars >= {FAIR_LABEL_CHARS} THEN 1 ELSE 0 END AS y,
             CASE WHEN LEN(list_distinct(string_split_regex(TRIM(text), '\s+')))
                       * 1000000
                       // LEN(string_split_regex(TRIM(text), '\s+'))
                       < {FAIR_PRED_BAR} THEN 1 ELSE 0 END AS a,
             CASE WHEN LEN(string_split_regex(TRIM(text), '\s+'))
                       >= {MCNEMAR_B_TOKENS} THEN 1 ELSE 0 END AS b
      FROM documents WHERE LENGTH(TRIM(text)) > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN a = y THEN 1 ELSE 0 END) AS BIGINT) AS a_correct,
           CAST(SUM(CASE WHEN b = y THEN 1 ELSE 0 END) AS BIGINT) AS b_correct,
           CAST(SUM(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END) AS BIGINT)
             AS disc_b,
           CAST(SUM(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END) AS BIGINT)
             AS disc_c,
           CAST((ABS(SUM(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END)
                     - SUM(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END)) - 1)
                * (ABS(SUM(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END)
                       - SUM(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END)) - 1)
                * 1000000
                // (SUM(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END)
                    + SUM(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END))
                AS BIGINT) AS chi2_micro
    FROM per
    """


@gate("op_ml_mcnemar_paired", _mcnemar_oracle())
def op_ml_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test between two classifiers evaluated on the
    SAME documents (Dietterich 1998's recommended comparison): the
    discordant-pair counts b (A right, B wrong) and c (A wrong, B
    right) and the continuity-corrected statistic (|b−c|−1)²/(b+c) —
    the significance check behind 'is filter A actually better than
    filter B' before swapping quality classifiers in a curation
    pipeline. Accuracy deltas alone overstate significance because the
    two classifiers share every document.

    Exactness: all counts integers; the statistic clears to
    (|b−c|−1)²·1e6 // (b+c) — squares by self-multiplication (never
    pow), division on non-negatives. b+c > 0 at both driver SFs
    (measured). One corpus scan, one 1-row aggregate — fully map-side.
    """
    from apitap_spark.functions.text import token_count, tokens

    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    t = tokens("text")
    per = docs.select(
        (F.col("n_chars") >= FAIR_LABEL_CHARS).cast("bigint").alias("y"),
        (F.size(F.array_distinct(t)).cast("bigint") * F.lit(1000000)).alias(
            "_dnum"
        ),
        token_count("text").alias("_ntok"),
    ).select(
        "y",
        (F.expr("_dnum div _ntok") < FAIR_PRED_BAR).cast("bigint").alias("a"),
        (F.col("_ntok") >= MCNEMAR_B_TOKENS).cast("bigint").alias("b"),
    )
    agg = per.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((F.col("a") == F.col("y")).cast("int"))
        .cast("bigint")
        .alias("a_correct"),
        F.sum((F.col("b") == F.col("y")).cast("int"))
        .cast("bigint")
        .alias("b_correct"),
        F.sum(((F.col("a") == F.col("y")) & (F.col("b") != F.col("y"))).cast("int"))
        .cast("bigint")
        .alias("disc_b"),
        F.sum(((F.col("a") != F.col("y")) & (F.col("b") == F.col("y"))).cast("int"))
        .cast("bigint")
        .alias("disc_c"),
    )
    return agg.select(
        "n",
        "a_correct",
        "b_correct",
        "disc_b",
        "disc_c",
        F.expr(
            "(abs(disc_b - disc_c) - 1) * (abs(disc_b - disc_c) - 1)"
            " * 1000000 div (disc_b + disc_c)"
        )
        .cast("bigint")
        .alias("chi2_micro"),
    )


# --- Two-sample Mann-Whitney U test (exact tie-corrected rank sums) ------

_MWU_ORACLE = """
    WITH v AS (
      SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS x,
             user_id % 2 AS g
      FROM events
    ),
    n AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM v GROUP BY 1
    ),
    pts AS (
      SELECT event_type, x,
             CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM v GROUP BY 1, 2
    ),
    rk AS (
      SELECT event_type, x, ca, c,
             CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY x)
                  AS BIGINT) AS cum
      FROM pts
    ),
    s AS (
      SELECT event_type,
             CAST(SUM(ca * (2 * (cum - c) + c + 1)) AS BIGINT) AS r1_double,
             CAST(SUM(CASE WHEN c > 1 THEN c * c * c - c ELSE 0 END)
                  AS BIGINT) AS tie3
      FROM rk GROUP BY 1
    )
    SELECT s.event_type, n.na, n.nb,
           CAST(s.r1_double - n.na * (n.na + 1) AS BIGINT) AS u2,
           CAST(n.na * n.nb AS BIGINT) AS e2,
           s.tie3,
           CAST(FLOOR(1000000.0
                * CAST(s.r1_double - n.na * (n.na + 1) - n.na * n.nb AS DOUBLE)
                / 2.0
                / sqrt(CAST(n.na * n.nb AS DOUBLE)
                       * CAST((n.na + n.nb + 1) * (n.na + n.nb)
                              * (n.na + n.nb - 1) - s.tie3 AS DOUBLE)
                       / 12.0
                       / CAST(n.na + n.nb AS DOUBLE)
                       / CAST(n.na + n.nb - 1 AS DOUBLE)))
                AS BIGINT) AS z_micro,
           (ABS(CAST(FLOOR(1000000.0
                * CAST(s.r1_double - n.na * (n.na + 1) - n.na * n.nb AS DOUBLE)
                / 2.0
                / sqrt(CAST(n.na * n.nb AS DOUBLE)
                       * CAST((n.na + n.nb + 1) * (n.na + n.nb)
                              * (n.na + n.nb - 1) - s.tie3 AS DOUBLE)
                       / 12.0
                       / CAST(n.na + n.nb AS DOUBLE)
                       / CAST(n.na + n.nb - 1 AS DOUBLE)))
                AS BIGINT)) >= 1959964) AS significant
    FROM s JOIN n ON n.event_type = s.event_type
"""


@gate("op_ab_test_mann_whitney", _MWU_ORACLE)
def op_ab_test_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) test per event
    type — the nonparametric LOCATION-shift complement to the KS gate's
    sup-gap and the chi²/t gates' parametric assumptions: ranks the
    pooled id-parity variants, U₁ from variant-A's rank sum, normal
    approximation with the standard tie correction.

    Exactness: average ranks for ties are kept in DOUBLED integer
    units (a tie group spanning positions s..s+c−1 contributes
    2·avg = 2(s−1)+c+1 per member), so the rank sum, U, its mean, and
    the tie term Σ(c³−c) are all exact int64; the z statistic divides
    once at the end through an identical left-associated IEEE chain
    (one correctly-rounded sqrt — the repo-wide KS precedent) and the
    significance flag compares the already-rounded integer micro-z
    against 1.96 in micros, so no float comparison crosses engines.

    Scale shape (same as op_ab_test_ks): raw rows collapse to
    per-(type, value) counts first, the only sort is the running-sum
    window over DISTINCT values, and everything after is a per-type
    scalar. int64 bound: the tie/variance cubics hold to ~2M rows per
    type; past that the counts must be cast to double before cubing
    (the z chain already is).
    """
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("x"),
        (F.col("user_id") % 2).alias("g"),
    )
    n = v.groupBy("event_type").agg(
        F.sum((F.col("g") == 0).cast("int")).cast("bigint").alias("na"),
        F.sum((F.col("g") == 1).cast("int")).cast("bigint").alias("nb"),
    )
    pts = v.groupBy("event_type", "x").agg(
        F.sum((F.col("g") == 0).cast("int")).cast("bigint").alias("ca"),
        F.count("*").cast("bigint").alias("c"),
    )
    w = Window.partitionBy("event_type").orderBy("x")
    rk = pts.select(
        "event_type", "ca", "c",
        F.sum("c").over(w).cast("bigint").alias("cum"),
    )
    s = rk.groupBy("event_type").agg(
        F.sum(
            F.col("ca") * (2 * (F.col("cum") - F.col("c")) + F.col("c") + 1)
        ).cast("bigint").alias("r1_double"),
        F.sum(
            F.when(
                F.col("c") > 1,
                F.col("c") * F.col("c") * F.col("c") - F.col("c"),
            ).otherwise(F.lit(0))
        ).cast("bigint").alias("tie3"),
    )
    z_micro = F.expr(
        "CAST(FLOOR(1000000.0"
        " * CAST(r1_double - na * (na + 1) - na * nb AS DOUBLE)"
        " / 2.0"
        " / sqrt(CAST(na * nb AS DOUBLE)"
        "        * CAST((na + nb + 1) * (na + nb)"
        "               * (na + nb - 1) - tie3 AS DOUBLE)"
        "        / 12.0"
        "        / CAST(na + nb AS DOUBLE)"
        "        / CAST(na + nb - 1 AS DOUBLE)))"
        " AS BIGINT)"
    )
    return (
        s.join(F.broadcast(n), "event_type")
        .select(
            "event_type", "na", "nb",
            (F.col("r1_double") - F.col("na") * (F.col("na") + 1))
            .cast("bigint").alias("u2"),
            (F.col("na") * F.col("nb")).cast("bigint").alias("e2"),
            "tie3",
            z_micro.alias("z_micro"),
        )
        .withColumn("significant", F.abs(F.col("z_micro")) >= 1959964)
    )


# --- Split-conformal prediction-interval audit ---------------------------

CONF_ALPHA_NUM = 9  # 1 - alpha = 9/10 target coverage
CONF_ALPHA_DEN = 10
CONF_SALT = "conf1"  # hashed fold: doc_id %4 correlates with source

_CONFORMAL_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, source, n_chars,
             CAST('0x' || substr(md5('{CONF_SALT}|' || CAST(doc_id AS VARCHAR)),
                  1, 15) AS BIGINT) % 4 AS fold
      FROM documents
    ),
    pred AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_train,
             CAST(SUM(n_chars) // COUNT(*) * 1000000
                  + SUM(n_chars) % COUNT(*) * 1000000 // COUNT(*)
                  AS BIGINT) AS pred_micro
      FROM d WHERE fold <= 1 GROUP BY source
    ),
    cal AS (
      SELECT d.source,
             ABS(d.n_chars * 1000000 - p.pred_micro) AS r,
             d.doc_id
      FROM d JOIN pred p ON p.source = d.source
      WHERE d.fold = 2
    ),
    caln AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal GROUP BY source
    ),
    qhat AS (
      SELECT c.source, c.r AS qhat_micro
      FROM (
        SELECT source, r,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY r, doc_id)
                 AS idx
        FROM cal
      ) c
      JOIN caln n ON n.source = c.source
      WHERE c.idx = LEAST(
        ({CONF_ALPHA_NUM} * (n.n_cal + 1) + {CONF_ALPHA_DEN} - 1)
          // {CONF_ALPHA_DEN},
        n.n_cal)
    ),
    test AS (
      SELECT d.source,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN ABS(d.n_chars * 1000000 - p.pred_micro)
                                <= q.qhat_micro
                           THEN 1 ELSE 0 END) AS BIGINT) AS covered
      FROM d
      JOIN pred p ON p.source = d.source
      JOIN qhat q ON q.source = d.source
      WHERE d.fold = 3
      GROUP BY d.source
    )
    SELECT p.source, p.n_train, n.n_cal, t.n_test, p.pred_micro,
           CAST(q.qhat_micro AS BIGINT) AS qhat_micro, t.covered,
           CAST(t.covered * 1000000 // t.n_test AS BIGINT) AS coverage_micro
    FROM pred p
    JOIN caln n ON n.source = p.source
    JOIN qhat q ON q.source = p.source
    JOIN test t ON t.source = p.source
"""


@gate("op_conformal_interval_audit", _CONFORMAL_ORACLE)
def op_conformal_interval_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction-interval audit (Vovk et al.;
    Papadopoulos et al. 2002 inductive form): per source, fit the
    trivial mean-length predictor on the train folds, take the
    ceil((1−α)(n+1))-th smallest absolute calibration residual as the
    conformal radius q̂, and report empirical test-fold coverage —
    the distribution-free finite-sample guarantee (≥ 1−α in
    expectation) that tells a curation pipeline whether a cheap
    per-group predictor's error band can be trusted downstream.

    Exactness: folds are doc_id mod 4 (deterministic split), the
    predictor is one floor-division micro mean, residuals are exact
    int64 micros, the quantile is an exact order statistic (the ceil
    is integer arithmetic: (9(n+1)+9)//10, clamped to n), and
    coverage is one final floor division — no float anywhere.

    Scale shape: two grouped aggregates and a per-source top-idx
    window over calibration rows only; the window's partition is the
    source key, so 100× data widens partitions but the sort stays
    distributed and spill-safe. int64 bound: n_chars·1e6 holds to
    ~9·10¹² chars per doc — any real corpus fits.  The predictor mean
    divides BEFORE scaling (quotient·1e6 + remainder·1e6 div count —
    exactly equal to sum·1e6 div count, since sum = q·count + rem):
    the train-fold SUM(n_chars) alone must fit int64 (~9·10¹⁸ chars
    per source, any corpus), but it is never multiplied by 1e6, so
    the per-SOURCE aggregate cannot wrap at 100-TB scale the way the
    old sum·1e6 form could (DuckDB's HUGEINT SUM would have masked
    the Spark-side wrap on the oracle).
    """
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars",
        F.expr(
            f"CAST(conv(substr(md5(concat('{CONF_SALT}|',"
            " CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT) % 4"
        ).alias("fold"),
    )
    pred = (
        d.filter(F.col("fold") <= 1)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_train"),
            F.expr(
                "CAST(sum(n_chars) div count(*) * 1000000L"
                " + sum(n_chars) % count(*) * 1000000L div count(*)"
                " AS BIGINT)"
            ).alias("pred_micro"),
        )
    )
    cal = (
        d.filter(F.col("fold") == 2)
        .join(F.broadcast(pred), "source")
        .select(
            "source", "doc_id",
            F.abs(F.col("n_chars") * 1000000 - F.col("pred_micro")).alias("r"),
        )
    )
    caln = cal.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_cal")
    )
    w = Window.partitionBy("source").orderBy("r", "doc_id")
    qhat = (
        cal.withColumn("idx", F.row_number().over(w))
        .join(F.broadcast(caln), "source")
        .filter(
            F.col("idx")
            == F.least(
                F.expr(
                    f"({CONF_ALPHA_NUM} * (n_cal + 1)"
                    f" + {CONF_ALPHA_DEN - 1}) div {CONF_ALPHA_DEN}"
                ),
                F.col("n_cal"),
            )
        )
        .select("source", F.col("r").cast("bigint").alias("qhat_micro"))
    )
    test = (
        d.filter(F.col("fold") == 3)
        .join(F.broadcast(pred.select("source", "pred_micro")), "source")
        .join(F.broadcast(qhat), "source")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            F.sum(
                (
                    F.abs(F.col("n_chars") * 1000000 - F.col("pred_micro"))
                    <= F.col("qhat_micro")
                ).cast("int")
            ).cast("bigint").alias("covered"),
        )
    )
    return (
        pred.join(caln, "source")
        .join(qhat, "source")
        .join(test, "source")
        .select(
            "source", "n_train", "n_cal", "n_test", "pred_micro",
            "qhat_micro", "covered",
            F.expr("CAST(covered * 1000000L div n_test AS BIGINT)").alias(
                "coverage_micro"
            ),
        )
    )


# --- Step-integrated PR-AUC over a fixed threshold grid ------------------

AUPRC_STEPS = 100

_AUPRC_ORACLE = f"""
    WITH lab AS (
      SELECT l_orderkey,
             CASE WHEN COUNT(*) >= {PR_WIDE_LINES} THEN 1 ELSE 0 END AS lab
      FROM lineitem GROUP BY l_orderkey
    ),
    y AS (
      SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS y,
             CAST(COALESCE(l.lab, 0) AS BIGINT) AS lab
      FROM orders o LEFT JOIN lab l ON l.l_orderkey = o.o_orderkey
    ),
    g AS (
      SELECT CAST(MIN(y) AS BIGINT) AS mn, CAST(MAX(y) AS BIGINT) AS mx,
             CAST(SUM(lab) AS BIGINT) AS pos, CAST(COUNT(*) AS BIGINT) AS n
      FROM y
    ),
    th AS (
      SELECT CAST(t.i AS BIGINT) AS i,
             CAST(g.mn + ((g.mx - g.mn) * t.i) // {AUPRC_STEPS} AS BIGINT)
               AS thr,
             g.pos, g.n
      FROM g CROSS JOIN (SELECT * FROM range(0, {AUPRC_STEPS + 1})) t(i)
    ),
    agg AS (
      SELECT th.i, th.pos, th.n,
             CAST(SUM(CASE WHEN y.y >= th.thr THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pred,
             CAST(SUM(CASE WHEN y.y >= th.thr THEN y.lab ELSE 0 END)
                  AS BIGINT) AS tp
      FROM th CROSS JOIN y GROUP BY th.i, th.pos, th.n
    ),
    steps AS (
      SELECT i, pos, n, tp, n_pred,
             LEAD(tp, 1, 0) OVER (ORDER BY i) AS tp_next,
             LEAD(n_pred, 1, 0) OVER (ORDER BY i) AS np_next
      FROM agg
    )
    SELECT MAX(n) AS n_orders, MAX(pos) AS pos_total,
           CAST({AUPRC_STEPS} AS BIGINT) AS steps,
           CAST(MAX(pos) * 1000000 // MAX(n) AS BIGINT) AS prevalence_micro,
           CAST(SUM((tp - tp_next)
                    * (CASE WHEN np_next = 0 THEN 1000000
                            ELSE tp_next * 1000000 // np_next END))
                // MAX(pos) AS BIGINT) AS auprc_micro
    FROM steps
"""


@gate("op_ml_auprc_grid", _AUPRC_ORACLE)
def op_ml_auprc_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-integrated PR-AUC of the order-value ranker at
    {AUPRC_STEPS} fixed operating points — the single-number summary
    of op_ml_pr_curve (and the PR-side companion to the ROC AUC gate):
    AUPRC = Σ ΔR·P over the threshold grid, with P taken at the
    higher-threshold end of each recall step (the conservative step
    rule) and P := 1 when nothing is predicted (the recall→0
    convention).

    Like the curve gate, thresholds are evenly spaced in integer cents
    between the observed min/max — NO global sort or rank anywhere, so
    the shape survives 100 TB where a row_number over the score column
    would be a single-partition window. Exactness: counts are int64,
    each step's precision floors once to micros, and the Σ ΔR·P sum
    divides by the positive count ONCE at the end (Σ Δtp·P_micro ≤
    pos·1e6 — int64-safe to ~9·10¹² positives).
    """
    from pyspark.sql import Window

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    lab = li.groupBy("l_orderkey").agg(
        (F.count("*") >= PR_WIDE_LINES).cast("bigint").alias("lab")
    )
    y = (
        orders.join(lab, orders.o_orderkey == lab.l_orderkey, "left")
        .select(
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("y"),
            F.coalesce("lab", F.lit(0)).cast("bigint").alias("lab"),
        )
    )
    g = y.agg(
        F.min("y").alias("mn"), F.max("y").alias("mx"),
        F.sum("lab").cast("bigint").alias("pos"),
        F.count("*").cast("bigint").alias("n"),
    )
    th = (
        spark.range(0, AUPRC_STEPS + 1)
        .select(F.col("id").cast("bigint").alias("i"))
        .crossJoin(F.broadcast(g))
        .select(
            "i", "pos", "n",
            F.expr(
                f"CAST(mn + ((mx - mn) * i) div {AUPRC_STEPS} AS BIGINT)"
            ).alias("thr"),
        )
    )
    agg = (
        y.crossJoin(F.broadcast(th))
        .groupBy("i", "pos", "n")
        .agg(
            F.sum((F.col("y") >= F.col("thr")).cast("int"))
            .cast("bigint")
            .alias("n_pred"),
            F.sum(
                F.when(F.col("y") >= F.col("thr"), F.col("lab")).otherwise(0)
            )
            .cast("bigint")
            .alias("tp"),
        )
    )
    w = Window.orderBy("i")
    steps = agg.select(
        "pos", "n", "tp", "n_pred",
        F.lead("tp", 1, 0).over(w).alias("tp_next"),
        F.lead("n_pred", 1, 0).over(w).alias("np_next"),
    )
    return steps.agg(
        F.max("n").alias("n_orders"),
        F.max("pos").alias("pos_total"),
        F.lit(AUPRC_STEPS).cast("bigint").alias("steps"),
        F.expr("CAST(max(pos) * 1000000L div max(n) AS BIGINT)").alias(
            "prevalence_micro"
        ),
        F.expr(
            "CAST(sum((tp - tp_next)"
            " * (CASE WHEN np_next = 0 THEN 1000000L"
            "        ELSE tp_next * 1000000L div np_next END))"
            " div max(pos) AS BIGINT)"
        ).alias("auprc_micro"),
    )


# --- Two-sample Poisson rate test (conditional binomial z) ---------------

_POISSON_ORACLE = """
    WITH e AS (
      SELECT event_type, user_id % 2 AS g,
             date_trunc('hour', ts) AS h, user_id
      FROM events
    ),
    cnt AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      FROM e GROUP BY 1
    ),
    expo AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t1,
             CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS t2
      FROM (SELECT DISTINCT event_type, g, h, user_id FROM e)
      GROUP BY 1
    )
    SELECT c.event_type, c.n1, c.n2, x.t1, x.t2,
           CAST(CASE WHEN c.n2 * x.t1 = 0 THEN NULL
                     ELSE c.n1 * x.t2 * 1000000 // (c.n2 * x.t1)
                END AS BIGINT) AS rate_ratio_micro,
           CAST(FLOOR(1000000.0
                * (CAST(c.n1 AS DOUBLE)
                   - CAST(c.n1 + c.n2 AS DOUBLE)
                     * (CAST(x.t1 AS DOUBLE) / CAST(x.t1 + x.t2 AS DOUBLE)))
                / sqrt(CAST(c.n1 + c.n2 AS DOUBLE)
                       * (CAST(x.t1 AS DOUBLE) / CAST(x.t1 + x.t2 AS DOUBLE))
                       * (1.0 - CAST(x.t1 AS DOUBLE)
                                / CAST(x.t1 + x.t2 AS DOUBLE))))
                AS BIGINT) AS z_micro,
           (ABS(CAST(FLOOR(1000000.0
                * (CAST(c.n1 AS DOUBLE)
                   - CAST(c.n1 + c.n2 AS DOUBLE)
                     * (CAST(x.t1 AS DOUBLE) / CAST(x.t1 + x.t2 AS DOUBLE)))
                / sqrt(CAST(c.n1 + c.n2 AS DOUBLE)
                       * (CAST(x.t1 AS DOUBLE) / CAST(x.t1 + x.t2 AS DOUBLE))
                       * (1.0 - CAST(x.t1 AS DOUBLE)
                                / CAST(x.t1 + x.t2 AS DOUBLE))))
                AS BIGINT)) >= 1959964) AS significant
    FROM cnt c JOIN expo x ON x.event_type = c.event_type
"""


@gate("op_ab_test_poisson_rates", _POISSON_ORACLE)
def op_ab_test_poisson_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate comparison per event type — the
    COUNT-data member of the A/B family (chi² → proportions, KS/MWU →
    distributions, this → event rates per unit exposure): variant
    event counts n₁/n₂ against active-user-hour exposures t₁/t₂, via
    the standard conditional test (given N = n₁+n₂, n₁ is binomial
    with p₀ = t₁/(t₁+t₂) under equal rates; Przyborowski & Wilenski
    1940) with the normal approximation.

    Exactness: counts and exposures are exact int64 (exposure = one
    DISTINCT over (type, variant, hour, user) — map-side combined);
    the rate ratio is one integer floor division; p₀ divides once and
    the z chain is fixed left-associated IEEE with one sqrt (the KS/
    MWU precedent); significance compares the floored micro-z.

    Int64 bound (the MWU/Krippendorff convention): the ratio numerator
    n1*t2*1e6 stays exact while n1*t2 < 9.2e12 — ~3e6 events against
    ~3e6 user-hours per type.  Past that, Spark would wrap where
    DuckDB promotes to HUGEINT; a 100-TB deployment should shard the
    test by time window (each window's counts stay under the bound and
    the windows are independent tests).  n2*t1 = 0 (a variant with no
    exposure) yields NULL in BOTH engines via an explicit CASE — Spark
    ``div`` returns NULL on zero but DuckDB ``//`` raises, so the
    guard keeps the engines aligned rather than relying on either
    default.

    Scale shape: two grouped aggregates over one scan each (the
    distinct collapses before the variant counts), 5 output rows at
    any corpus size.
    """
    ev = read_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        (F.col("user_id") % 2).alias("g"),
        F.date_trunc("hour", "ts").alias("h"),
        "user_id",
    )
    cnt = e.groupBy("event_type").agg(
        F.sum((F.col("g") == 0).cast("int")).cast("bigint").alias("n1"),
        F.sum((F.col("g") == 1).cast("int")).cast("bigint").alias("n2"),
    )
    expo = (
        e.distinct()
        .groupBy("event_type")
        .agg(
            F.sum((F.col("g") == 0).cast("int")).cast("bigint").alias("t1"),
            F.sum((F.col("g") == 1).cast("int")).cast("bigint").alias("t2"),
        )
    )
    z_micro = F.expr(
        "CAST(FLOOR(1000000.0"
        " * (CAST(n1 AS DOUBLE)"
        "    - CAST(n1 + n2 AS DOUBLE)"
        "      * (CAST(t1 AS DOUBLE) / CAST(t1 + t2 AS DOUBLE)))"
        " / sqrt(CAST(n1 + n2 AS DOUBLE)"
        "        * (CAST(t1 AS DOUBLE) / CAST(t1 + t2 AS DOUBLE))"
        "        * (1.0 - CAST(t1 AS DOUBLE) / CAST(t1 + t2 AS DOUBLE))))"
        " AS BIGINT)"
    )
    return (
        cnt.join(expo, "event_type")
        .select(
            "event_type", "n1", "n2", "t1", "t2",
            F.expr(
                "CAST(CASE WHEN n2 * t1 = 0 THEN NULL"
                "          ELSE n1 * t2 * 1000000L div (n2 * t1)"
                "     END AS BIGINT)"
            ).alias("rate_ratio_micro"),
            z_micro.alias("z_micro"),
        )
        .withColumn("significant", F.abs(F.col("z_micro")) >= 1959964)
    )
