"""Round-9 new operators: independent pure-Python recounts (the third
implementation next to Spark and the DuckDB oracle) plus the invariant
each operator exists to provide (chi² selection respects the df guard
and ranks deterministically, ROUGE clipping is symmetric-bounded,
predictability is 1e6 exactly on deterministic continuations)."""

from __future__ import annotations

import re
from collections import Counter, defaultdict

from apitap_spark.session import read_table

MICRO = 1_000_000


def _docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    ).collect()


def _ws_tokens(text: str) -> list[str]:
    return re.split(r"\s+", text.strip())


# --- op_chi2_token_selection ----------------------------------------------


def test_chi2_token_selection_matches_python(spark, sf_dir):
    from apitap_spark.operators.corpus import (
        CHI2_MIN_DF,
        op_chi2_token_selection,
    )

    rows = _docs(spark, sf_dir)
    n_docs = len(rows)
    tok_docs: Counter = Counter()
    lang_docs: Counter = Counter()
    tl: Counter = Counter()
    for r in rows:
        lang_docs[r["lang"]] += 1
        toks = set(re.findall(r"[a-z]+", r["text"].lower()))
        for t in toks:
            tok_docs[t] += 1
            tl[(t, r["lang"])] += 1
    scored = defaultdict(list)
    for (t, lang), a in tl.items():
        td = tok_docs[t]
        if td < CHI2_MIN_DF or td > n_docs - CHI2_MIN_DF:
            continue
        ld = lang_docs[lang]
        d = n_docs - td - ld + a
        b, c = td - a, ld - a
        num = n_docs * (a * d - b * c) * (a * d - b * c)
        den = td * (n_docs - td) * ld * (n_docs - ld)
        milli = num // den * 1000 + num % den * 1000 // den
        scored[lang].append((-milli, t, a, td, milli))
    want = {}
    for lang, entries in scored.items():
        for rk, (_, t, a, td, milli) in enumerate(sorted(entries)[:5], 1):
            want[(lang, t)] = (a, td, milli, rk)
    got = op_chi2_token_selection(spark, sf_dir).collect()
    assert len(got) == len(want)
    for g in got:
        a, td, milli, rk = want[(g["lang"], g["tok"])]
        assert (g["n_lang_tok_docs"], g["token_docs"]) == (a, td)
        assert g["chi2_milli"] == milli
        assert g["rk"] == rk


def test_chi2_single_language_shard_is_empty_not_crash(spark, tmp_path):
    """A shard where ONE language covers the whole corpus used to zero
    the l_docs factors of den — DuckDB's // errored and Spark's div
    yielded NULL (round-9 ADVICE #3). With the l_docs <= n_docs-1 guard
    both engines now return the same EMPTY selection: a language with
    no between-language contrast has nothing to score."""
    import duckdb

    from apitap_spark.operators.corpus import op_chi2_token_selection
    from apitap_spark.registry import ORACLES

    docs = spark.createDataFrame(
        [(i, "en", "alpha beta gamma common words " * 3, "s", 30)
         for i in range(12)],
        "doc_id long, lang string, text string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = op_chi2_token_selection(spark, str(tmp_path)).collect()
    assert got == []
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    oracle = con.execute(ORACLES["op_chi2_token_selection"]).fetchall()
    assert oracle == []  # and, critically, no division-by-zero error


def test_chi2_closed_form_on_known_table():
    # a=30 of l_docs=50 contain t; 10 of the other 50 do: textbook 2x2
    n, a, td, ld = 100, 30, 40, 50
    d = n - td - ld + a
    b, c = td - a, ld - a
    num = n * (a * d - b * c) * (a * d - b * c)
    den = td * (n - td) * ld * (n - ld)
    # chi2 = 100*(30*40-10*20)^2/(40*60*50*50) = 1e8/6e6 = 16.666...
    assert num == 100 * 1000**2
    assert num // den * 1000 + num % den * 1000 // den == 16666


# --- op_text_rouge_overlap --------------------------------------------------


def _bigrams(text: str) -> Counter:
    t = _ws_tokens(text)
    return Counter(
        f"{t[i]} {t[i + 1]}" for i in range(len(t) - 1)
    ) if len(t) >= 2 else Counter()


def test_rouge_overlap_matches_python(spark, sf_dir):
    from apitap_spark.operators.textstats import op_text_rouge_overlap

    rows = sorted(_docs(spark, sf_dir), key=lambda r: r["doc_id"])
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r["lang"]].append(r)
    grams = {r["doc_id"]: _bigrams(r["text"]) for r in rows}
    want = {}
    for lang, docs in by_lang.items():
        for ref, cand in zip(docs, docs[1:]):
            gr, gc = grams[ref["doc_id"]], grams[cand["doc_id"]]
            nr, nc = sum(gr.values()), sum(gc.values())
            if nr == 0 or nc == 0:
                continue
            ov = sum(min(gr[g], gc[g]) for g in gr)
            want[(ref["doc_id"], cand["doc_id"])] = (
                lang, nr, nc, ov, ov * MICRO // nr, ov * MICRO // nc
            )
    got = op_text_rouge_overlap(spark, sf_dir).collect()
    assert len(got) == len(want)
    hit_positive = False
    for g in got:
        lang, nr, nc, ov, rec, prec = want[(g["ref_id"], g["cand_id"])]
        assert g["lang"] == lang
        assert (g["ref_bigrams"], g["cand_bigrams"]) == (nr, nc)
        assert g["overlap"] == ov
        assert g["rouge2_recall_micro"] == rec
        assert g["rouge2_precision_micro"] == prec
        hit_positive = hit_positive or ov > 0
        assert ov <= min(nr, nc)  # clipping bound
    assert hit_positive  # non-vacuous on the synthetic corpus


# --- op_text_bigram_predictability ------------------------------------------


def test_bigram_predictability_matches_python(spark, sf_dir):
    from apitap_spark.operators.textstats import (
        op_text_bigram_predictability,
    )

    want = {}
    for r in _docs(spark, sf_dir):
        t = _ws_tokens(r["text"])
        if len(t) < 2:
            continue
        c = Counter(zip(t, t[1:]))
        np_: Counter = Counter()
        for (p, _), k in c.items():
            np_[p] += k
        collisions = sum(k * k for k in c.values())
        base = sum(v * v for v in np_.values())
        want[r["doc_id"]] = (
            sum(np_.values()), len(np_), collisions * MICRO // base
        )
    got = {
        r["doc_id"]: r
        for r in op_text_bigram_predictability(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for did, (nb, npt, score) in want.items():
        g = got[did]
        assert g["n_bigrams"] == nb
        assert g["n_prev_types"] == npt
        assert g["predictability_micro"] == score
        assert 0 < score <= MICRO  # Simpson probability bounds


def test_bigram_predictability_extremes(spark):
    # deterministic continuation -> exactly 1e6; all-distinct prevs with
    # unique nexts -> also 1e6 (each prev group is a single bigram); a
    # prev with two equally likely nexts -> 500000 on that group
    df = spark.createDataFrame(
        [
            (1, "a b a b a b a b"),      # 'a'->'b' and 'b'->'a' always
            (2, "x y x z"),              # 'x' continues y or z: 50/50
        ],
        ["doc_id", "text"],
    )
    df.createOrReplaceTempView("tiny_docs")
    from collections import Counter as C

    for did, text, expect in [
        (1, "a b a b a b a b", MICRO),
        (2, "x y x z", None),
    ]:
        t = text.split()
        c = C(zip(t, t[1:]))
        np_: dict = {}
        for (p, _), k in c.items():
            np_[p] = np_.get(p, 0) + k
        collisions = sum(k * k for k in c.values())
        base = sum(v * v for v in np_.values())
        score = collisions * MICRO // base
        if expect is not None:
            assert score == expect
        else:
            # doc 2: prevs x(2: y,z), y(1: x) -> collisions 1+1+1=3,
            # base 4+1=5 -> 600000
            assert score == 600000


# --- op_event_burstiness -----------------------------------------------------


def test_event_burstiness_matches_python(spark, sf_dir):
    import calendar

    from apitap_spark.operators.temporal import op_event_burstiness

    buckets: dict = defaultdict(Counter)
    for r in read_table(spark, sf_dir, "events").select(
        "event_type", "ts"
    ).collect():
        epoch = calendar.timegm(r["ts"].timetuple())
        buckets[r["event_type"]][epoch // 3600] += 1
    got = {
        r["event_type"]: r for r in op_event_burstiness(spark, sf_dir).collect()
    }
    assert set(got) == set(buckets)
    for et, cnt in buckets.items():
        n = max(cnt) - min(cnt) + 1  # span hours incl. empty buckets
        s = sum(cnt.values())
        sx2 = sum(x * x for x in cnt.values())
        g = got[et]
        assert g["n_hours_span"] == n
        assert g["occupied_hours"] == len(cnt)
        assert g["n_events"] == s
        num = n * sx2 - s * s
        assert num >= 0  # Cauchy-Schwarz
        den = n * s
        assert g["fano_micro"] == num // den * MICRO + num % den * MICRO // den


def test_fano_closed_form_extremes():
    # metronome: one event every hour for 10 hours -> Var 0 -> fano 0
    cnt = {h: 1 for h in range(10)}
    n, s = 10, 10
    sx2 = sum(x * x for x in cnt.values())
    assert n * sx2 - s * s == 0
    # burst: all 10 events in one hour of a 10-hour span
    # Var/Mean = (10*100-100)/(10*10) = 9 -> 9e6 micro
    n, s, sx2 = 10, 10, 100
    num, den = n * sx2 - s * s, n * s
    assert num // den * MICRO + num % den * MICRO // den == 9 * MICRO
    # Poisson-ish dispersion sits near 1e6: two hours of 2, two of 0
    # over a 4-hour span -> Var/Mean = (4*8-16)/(4*4) = 1 -> 1e6
    n, s, sx2 = 4, 4, 8
    num, den = n * sx2 - s * s, n * s
    assert num // den * MICRO + num % den * MICRO // den == MICRO
