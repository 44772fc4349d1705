"""Round-7 operators: independent pure-Python recounts (the third
implementation next to Spark and the DuckDB oracle), plus the
invariants each operator exists to provide."""

from __future__ import annotations

import hashlib
import re
from collections import Counter

from apitap_spark.session import read_table

MICRO = 1_000_000


def _docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents").collect()


def _hash60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _ws_tokens(text: str) -> list[str]:
    return re.split(r"\s+", text.strip())


def _shingles3(text: str) -> set[str]:
    ws = _ws_tokens(text)
    return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}


def test_int8_quantization_audit_matches_python(spark, sf_dir):
    """Per-dim min/max int8 round-trip error, recomputed exactly with
    Python integer arithmetic; also the SQ invariant: max error is
    bounded by half a quantization step (+1 milli for the rounding)."""
    from apitap_spark.operators.similarity import (
        SQ_LEVELS,
        op_embedding_int8_quantization_audit,
    )

    rows = read_table(spark, sf_dir, "embeddings").collect()
    per_dim: dict[int, list[int]] = {}
    for r in rows:
        for i, x in enumerate(r["embedding"]):
            # mirror Spark ROUND(x*1000, 0) (half-away-from-zero)
            v = float(x) * 1000
            per_dim.setdefault(i + 1, []).append(
                int(v + 0.5) if v >= 0 else -int(-v + 0.5)
            )
    got = {
        r["dim"]: r
        for r in op_embedding_int8_quantization_audit(spark, sf_dir).collect()
    }
    assert set(got) == set(per_dim)
    for dim, vals in per_dim.items():
        vmin, vmax = min(vals), max(vals)
        rng = vmax - vmin
        errs = []
        for v in vals:
            if rng == 0:
                code, recon = 0, vmin
            else:
                code = (2 * (v - vmin) * SQ_LEVELS + rng) // (2 * rng)
                recon = vmin + (2 * code * rng + SQ_LEVELS) // (2 * SQ_LEVELS)
            errs.append(abs(v - recon))
        g = got[dim]
        assert (g["vmin_milli"], g["vmax_milli"]) == (vmin, vmax)
        assert g["n_vecs"] == len(vals)
        assert g["max_abs_err_milli"] == max(errs)
        assert g["sum_abs_err_milli"] == sum(errs)
        assert g["mean_abs_err_micro"] == sum(errs) * 1000 // len(vals)
        # SQ8 error bound: half a step, +1 for the milli rounding
        assert max(errs) <= rng // (2 * SQ_LEVELS) + 1


def test_bloom_prefilter_matches_python_and_no_false_negatives(spark, sf_dir):
    from apitap_spark.operators.dedup import (
        BLOOM_BITS_PER_KEY,
        BLOOM_HASHES,
        op_dedup_bloom_prefilter,
    )

    rows = _docs(spark, sf_dir)
    build: set[str] = set()
    probe: set[str] = set()
    for r in rows:
        (build if r["doc_id"] % 2 == 0 else probe).update(_shingles3(r["text"]))
    m = BLOOM_BITS_PER_KEY * len(build) + 1
    bits = {
        _hash60(f"{s}|{j}") % m for s in build for j in range(BLOOM_HASHES)
    }
    n_pos = n_fp = n_mem = 0
    for s in probe:
        positive = all(
            _hash60(f"{s}|{j}") % m in bits for j in range(BLOOM_HASHES)
        )
        member = s in build
        n_pos += positive
        n_mem += member
        n_fp += positive and not member
        # the defining Bloom invariant: NO false negatives
        if member:
            assert positive
    g = op_dedup_bloom_prefilter(spark, sf_dir).collect()[0]
    assert g["n_build_keys"] == len(build)
    assert g["m_bits"] == m
    assert g["n_set_bits"] == len(bits)
    assert g["n_probes"] == len(probe)
    assert g["n_members"] == n_mem
    assert g["n_positive"] == n_pos
    assert g["n_false_positive"] == n_fp
    assert n_fp > 0  # sized so the FP audit is non-vacuous at test SF
    assert g["fp_micro"] == n_fp * MICRO // (len(probe) - n_mem)


def test_stratified_kfold_matches_python_and_partitions(spark, sf_dir):
    from apitap_spark.operators.sampling import (
        KFOLD_K,
        KFOLD_SALT,
        op_stratified_kfold_assignment,
    )

    rows = _docs(spark, sf_dir)
    cell = Counter(
        (_hash60(f"{KFOLD_SALT}|{r['doc_id']}") % KFOLD_K, r["lang"])
        for r in rows
    )
    fold_tot = Counter()
    lang_tot = Counter()
    for (f, lg), c in cell.items():
        fold_tot[f] += c
        lang_tot[lg] += c
    n = len(rows)
    got = {
        (r["fold"], r["lang"]): r
        for r in op_stratified_kfold_assignment(spark, sf_dir).collect()
    }
    assert set(got) == set(cell)
    assert sum(r["n_docs"] for r in got.values()) == n  # a true partition
    assert {f for f, _ in got} == set(range(KFOLD_K))  # no empty fold
    for (f, lg), c in cell.items():
        g = got[(f, lg)]
        share = c * MICRO // fold_tot[f]
        overall = lang_tot[lg] * MICRO // n
        assert g["n_docs"] == c
        assert g["fold_total"] == fold_tot[f]
        assert g["share_micro"] == share
        assert g["overall_share_micro"] == overall
        assert g["dev_micro"] == abs(share - overall)


def test_label_agreement_kappa_matches_python(spark, sf_dir):
    from apitap_spark.operators.quality import (
        KAPPA_DIV_T,
        KAPPA_LEN_T,
        op_label_agreement_kappa,
    )

    rows = _docs(spark, sf_dir)
    tt = tf = ft = ff = 0
    for r in rows:
        ws = _ws_tokens(r["text"])
        a = len(ws) >= KAPPA_LEN_T
        b = len(set(ws)) * 1000 // len(ws) >= KAPPA_DIV_T
        tt += a and b
        tf += a and not b
        ft += (not a) and b
        ff += (not a) and (not b)
    n = tt + tf + ft + ff
    s = (tt + tf) * (tt + ft) + (ft + ff) * (tf + ff)
    g = op_label_agreement_kappa(spark, sf_dir).collect()[0]
    assert (g["n"], g["tt"], g["tf"], g["ft"], g["ff"]) == (n, tt, tf, ft, ff)
    assert g["po_micro"] == (tt + ff) * MICRO // n
    assert g["kappa"] == (n * (tt + ff) - s) / (n * n - s)
    # all four contingency cells populated: the audit is non-vacuous
    assert min(tt, tf, ft, ff) > 0
    assert -1.0 <= g["kappa"] <= 1.0


def test_ann_recall_audit_exact_side_matches_numpy(spark, sf_dir):
    """Triangulate the ground-truth side with numpy (exact integer-
    milli squared L2, ties by id) and recheck the intersection math
    against the operator's own approximate frame; recall bounds hold
    and every query emits a row."""
    import numpy as np

    from apitap_spark.operators.similarity import (
        IVFPQ_TOPK,
        op_ann_ivfpq_recall_audit,
    )
    from apitap_spark.registry import QUERIES

    emb = read_table(spark, sf_dir, "embeddings").collect()
    ids = [r["vec_id"] for r in emb]
    V = {
        r["vec_id"]: np.array(
            [
                int(v * 1000 + 0.5) if v >= 0 else -int(-v * 1000 + 0.5)
                for v in (float(x) for x in r["embedding"])
            ],
            dtype=np.int64,
        )
        for r in emb
    }
    exact = {}
    for qid in [i for i in ids if i < 10]:
        d = sorted(
            ((int(((V[qid] - V[c]) ** 2).sum()), c) for c in ids if c != qid)
        )[:IVFPQ_TOPK]
        exact[qid] = {c for _, c in d}
    approx = {}
    for r in QUERIES["op_ann_ivfpq_search"](spark, sf_dir).collect():
        approx.setdefault(r["q_id"], set()).add(r["c_id"])
    got = {r["q_id"]: r for r in op_ann_ivfpq_recall_audit(spark, sf_dir).collect()}
    assert set(got) == set(exact)  # one row per query, even at 0 hits
    for qid, truth in exact.items():
        hits = len(truth & approx.get(qid, set()))
        g = got[qid]
        assert g["n_hits"] == hits
        assert g["k"] == IVFPQ_TOPK
        assert g["recall_micro"] == hits * MICRO // IVFPQ_TOPK
        assert 0 <= g["n_hits"] <= IVFPQ_TOPK
