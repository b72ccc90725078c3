"""Exact-vs-approx rank-twin evidence (sf0.1): every exact distributed
ntile consumer whose docstring commits to a one-pass approx shortcut is
checked against it here, turning the "100 TB path" claim into a tested
fact rather than prose.

Tolerances are stated per twin and reflect the documented divergence
mode: the GK sketch's bounded rank error, plus boundary ties (the exact
ntile SPLITS a run of equal values across tiles; the approx bucketing
assigns the whole run to one bucket — so heavily-tied integer keys can
differ by exactly one score, never more)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from habits_etl_spark.operators.approx_rank import approx_ntile_edges
from habits_etl_spark.plans import QUERIES

SF01 = "/root/testdata/sf0.1"


@pytest.fixture(scope="module")
def sf01():
    return SF01


def test_rfm_twin_agreement(spark, sf01):
    ex = QUERIES["ext_rfm_features"](spark, sf01).select(
        "user_id", "r_score", "f_score", "m_score"
    )
    ap = QUERIES["ext_rfm_features_approx"](spark, sf01).select(
        F.col("user_id").alias("u2"),
        F.col("r_score").alias("r2"),
        F.col("f_score").alias("f2"),
        F.col("m_score").alias("m2"),
    )
    j = ex.join(ap, ex.user_id == ap.u2).cache()
    try:
        n = j.count()
        assert n > 0
        for a, b, min_agree in [
            # integer frequency tie runs straddle quintile boundaries;
            # near-continuous monetary should be ~exact. Recency is
            # checked below by edge rank instead: its distribution is
            # tie-DEGENERATE (a large share of users purchased on the
            # anchor day, so one value spans multiple quintiles and
            # per-row agreement is meaningless by construction).
            ("f_score", "f2", 0.85),
            ("m_score", "m2", 0.99),
        ]:
            agree = j.filter(F.col(a) == F.col(b)).count() / n
            maxdiff = j.select(F.max(F.abs(F.col(a) - F.col(b)))).first()[0]
            assert agree >= min_agree, f"{a}: agreement {agree:.3f}"
            assert maxdiff <= 1, f"{a}: scores differ by more than one tile"
    finally:
        j.unpersist()


def test_rfm_recency_approx_edges(spark, sf01):
    """Recency's approx quintile cut points sit at the exact quintile
    ranks, up to tie mass — the tie-honest equivalence statement for a
    degenerate distribution (see test_rfm_twin_agreement)."""
    from habits_etl_spark.plans.features import _RFM_NTILES, _rfm_base

    base = _rfm_base(spark, sf_dir=SF01).select(
        (-F.col("recency_days")).alias("neg_recency")
    ).cache()
    try:
        _assert_edges_rank_close(base, "neg_recency", _RFM_NTILES, tol=0.01)
    finally:
        base.unpersist()


def test_quantile_bin_twin_agreement(spark, sf01):
    ex = {r["bin"]: r for r in QUERIES["ext_quantile_bin"](spark, sf01).collect()}
    ap = {
        r["bin"]: r
        for r in QUERIES["ext_quantile_bin_approx"](spark, sf01).collect()
    }
    assert set(ex) == set(ap)
    vmin = min(r["lo"] for r in ex.values())
    vmax = max(r["hi"] for r in ex.values())
    span = vmax - vmin
    for b in ex:
        rel = abs(ex[b]["n"] - ap[b]["n"]) / ex[b]["n"]
        assert rel <= 0.01, f"bin {b}: count off by {rel:.4f}"
        assert abs(ex[b]["lo"] - ap[b]["lo"]) <= 0.01 * span
        assert abs(ex[b]["hi"] - ap[b]["hi"]) <= 0.01 * span


def _assert_edges_rank_close(df, value_col, n, tol):
    """Each approx cut point's exact rank interval [P(v < e), P(v <= e)]
    must cover its target quantile i/n within ``tol`` — the tie-honest
    statement of 'the sketch found the exact decile edges'."""
    edges = approx_ntile_edges(df, value_col, n)
    assert len(edges) == n - 1
    total = df.count()
    below = df.agg(
        *[
            F.sum((F.col(value_col) < float(e)).cast("long")).alias(f"lt{i}")
            for i, e in enumerate(edges)
        ],
        *[
            F.sum((F.col(value_col) <= float(e)).cast("long")).alias(f"le{i}")
            for i, e in enumerate(edges)
        ],
    ).first()
    for i in range(n - 1):
        target = (i + 1) / n
        lo = below[f"lt{i}"] / total - tol
        hi = below[f"le{i}"] / total + tol
        assert lo <= target <= hi, (
            f"edge {i}: target {target} outside [{lo:.4f}, {hi:.4f}]"
        )


def test_psi_drift_approx_edges(spark, sf01):
    """agg_psi_drift's committed shortcut: approx_percentile edges over
    the reference half match the exact deciles within 1% rank error."""
    from habits_etl_spark.plans.experiment import _PSI_BINS, _PSI_BOUNDARY

    ev = (
        spark.read.parquet(f"{sf01}/events.parquet")
        .filter(F.col("value").isNotNull())
        .filter(F.col("ts") < F.lit(_PSI_BOUNDARY).cast("timestamp"))
        .select("value")
    )
    _assert_edges_rank_close(ev, "value", _PSI_BINS, tol=0.01)


def test_cumulative_gains_approx_edges(spark, sf01):
    """ext_cumulative_gains' committed shortcut: approx decile cut
    points over the (negated) language score match the exact deciles
    within 1% rank error beyond tie mass."""
    from habits_etl_spark.functions.text import (
        LANG_PROFILES,
        lang_score_spark,
        tok_spark,
    )
    from habits_etl_spark.plans.resampling import _GAINS_BINS

    d = spark.read.parquet(f"{sf01}/documents.parquet")
    toks = tok_spark(F.col("text"))
    score = F.round(
        lang_score_spark(toks, LANG_PROFILES["en"]).cast("double")
        / F.greatest(F.size(toks), F.lit(1)),
        6,
    )
    scored = d.select((-score).alias("neg_score")).cache()
    try:
        _assert_edges_rank_close(scored, "neg_score", _GAINS_BINS, tol=0.01)
    finally:
        scored.unpersist()
