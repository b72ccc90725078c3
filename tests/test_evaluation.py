"""Structural invariants for the wave-22 evaluation family (exact
values are hash-checked against the DuckDB oracle by
tools/check_correctness.py; these assert the properties that must hold
on ANY input)."""

from __future__ import annotations

import math

from habits_etl_spark.plans.evaluation import (
    _NDCG_K,
    _NDCG_QUERIES,
    agg_langid_feature_auc,
    ext_knn_ndcg_eval,
    ext_langid_confusion,
    ext_langid_prf,
)


def test_confusion_matrix_partitions_corpus(spark, sf_dir):
    from habits_etl_spark.plans.common import t

    rows = ext_langid_confusion(spark, sf_dir).collect()
    assert rows
    n_docs = t(spark, sf_dir, "documents").count()
    assert sum(r.n for r in rows) == n_docs  # every doc lands in one cell
    by_true: dict[str, float] = {}
    for r in rows:
        assert 0.0 < r.row_share <= 1.0
        by_true[r.true_lang] = by_true.get(r.true_lang, 0.0) + r.row_share
    for lang, s in by_true.items():
        assert math.isclose(s, 1.0, abs_tol=1e-4), (lang, s)


def test_prf_consistent_with_confusion(spark, sf_dir):
    conf = ext_langid_confusion(spark, sf_dir).collect()
    prf = {r.lang: r for r in ext_langid_prf(spark, sf_dir).collect()}
    support = {}
    tp = {}
    for c in conf:
        support[c.true_lang] = support.get(c.true_lang, 0) + c.n
        if c.true_lang == c.guessed_lang:
            tp[c.true_lang] = c.n
    for lang, r in prf.items():
        assert r.support == support.get(lang, 0)
        if r.recall is not None and r.support:
            assert math.isclose(
                r.recall, tp.get(lang, 0) / r.support, abs_tol=1e-5
            )
        for v in (r.precision, r.recall, r.f1):
            if v is not None:
                assert -1e-9 <= v <= 1.0 + 1e-9


def test_ndcg_bounds(spark, sf_dir):
    rows = ext_knn_ndcg_eval(spark, sf_dir).collect()
    assert len(rows) == _NDCG_QUERIES
    for r in rows:
        assert 0.0 <= r.ndcg <= 1.0 + 1e-6
        assert 0 <= r.n_rel <= min(_NDCG_K, r.total_rel)
        # retrieving every relevant possible at k implies ndcg == 1
        if r.n_rel == min(_NDCG_K, r.total_rel) and r.ndcg < 1.0:
            # relevant docs exist but ranked below irrelevant ones
            assert r.n_rel < _NDCG_K or r.ndcg <= 1.0


def test_auc_matches_pairwise_reference(spark, sf_dir):
    """The rank-sum AUC must equal the direct pairwise definition
    P(score_pos > score_neg) + 0.5 P(tie), computed in plain Python
    over the same (score, label) pairs. (On this synthetic corpus the
    lang label is random text, so the value itself hovers near 0.5 —
    chance — which is the honest reading; the identity is the test.)"""
    from habits_etl_spark.plans.common import t
    from habits_etl_spark.functions.text import LANG_PROFILES

    r = agg_langid_feature_auc(spark, sf_dir).collect()[0]
    assert r.n_pos > 0 and r.n_neg > 0
    assert 0.0 <= r.auc <= 1.0
    docs = t(spark, sf_dir, "documents").select("lang", "text").collect()
    en = set(LANG_PROFILES["en"])
    pairs = []
    for row in docs:
        toks = row.text.strip().split()
        score = round(sum(1 for w in toks if w in en) / max(len(toks), 1), 6)
        pairs.append((score, row.lang == "en"))
    pos = sorted(s for s, lbl in pairs if lbl)
    neg = sorted(s for s, lbl in pairs if not lbl)
    import bisect

    wins = ties = 0
    for s in pos:
        wins += bisect.bisect_left(neg, s)
        ties += bisect.bisect_right(neg, s) - bisect.bisect_left(neg, s)
    ref = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert math.isclose(r.auc, ref, abs_tol=1e-5)
