"""Statistics operators, wave 26: distributed resampling and
score-quality curves — a Poisson-bootstrap confidence interval, the
cumulative-gains (lift) curve, and expected calibration error.

The Poisson bootstrap is THE distributed bootstrap: classical
resampling needs a global multinomial draw (coordination across the
whole dataset), but Poisson(1) per-row weights are independent, so
every replica is a pure map — the reason this estimator, not the
textbook one, is what actually runs on clusters (Chamandy et al.,
"Estimating Uncertainty for Massive Data Streams", Google 2012). As
everywhere in this repo, the "randomness" is a salted hash, so the
interval is reproducible and hash-checkable. The gains curve and ECE
extend the wave-22 evaluation layer from rank quality (AUC) to
targeting efficiency and probability honesty.

Reference parity: the reference has no statistics surface; these
extend it per the BASELINE north-star list, like plans/robust.py.

Cross-engine float rule: decimal exact sums (plans/common.py rule 1);
Poisson inverse-CDF thresholds and all ratio terms are identical
double literals; percentiles interpolate identically."""

from __future__ import annotations

from pyspark.sql import functions as F

from habits_etl_spark.functions.hashing import md5_int
from habits_etl_spark.functions.text import (
    LANG_PROFILES,
    TOK_DUCK,
    lang_score_duck,
    lang_score_spark,
    tok_spark,
)
from habits_etl_spark.operators.distrank import (
    bounded_running_sum,
    with_global_ntile_by_selection,
)
from habits_etl_spark.plans.common import dec, managed_cache, query, t

# --- Poisson bootstrap CI ----------------------------------------------------

_BOOT_B = 64  # replicas
_BOOT_SALT = "boot:"
# Poisson(1) inverse CDF over a unit uniform: cumulative pmf thresholds
# for k = 0..7; the ELSE arm assigns weight 8. Truncating the tail at 8
# leaves P(w >= 9) ~ 1.1e-7 unreachable — mean replicate weight is
# 1 - 1.2e-8 instead of 1, a bias ~5 orders below the CI's resolution
# (the r4 ADVICE item: the old k<=5 table inflated P(w=5) to 3.66e-3 vs
# the true 3.07e-3 and made weights >= 6 impossible).
_P_CUM = (
    0.367879441,
    0.735758882,
    0.919698603,
    0.981011843,
    0.996340153,
    0.999405815,
    0.999916759,
    0.999989751,
)


def _ci_interp_duck(q: str) -> str:
    """Linear-interpolated percentile over the sorted replica-mean list
    ``v`` (length ``n_replicas``), as ONE explicitly-stated formula:
    pos = (n-1)*q, value = v[lo] + (v[hi] - v[lo]) * frac. Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` are algebraically this
    but evaluate it in different float forms (lerp vs convex blend),
    which diverged by one ulp at sf0.001 and flipped the 6-dp round —
    so BOTH engines now state the identical arithmetic over the
    identical (already 6-dp-rounded) inputs."""
    pos = f"(CAST(s.n_replicas - 1 AS DOUBLE) * {q})"
    lo = f"CAST(floor({pos}) AS BIGINT)"
    hi = f"least({lo} + 1, s.n_replicas - 1)"
    # explicit floor(+0.5) rounding (the ext_int8_quantize idiom), NOT
    # round(): the pre-round doubles are bit-identical across engines,
    # but Spark rounds the shortest-decimal repr HALF_UP while DuckDB
    # rounds a scaled double — at sf0.001 the 0.975 lerp landed 4e-9
    # below a 6-dp boundary and the two disagreed. floor(x*1e6 + 0.5) is
    # one float pipeline, bit-deterministic given identical inputs.
    v = f"(s.v[{lo} + 1] + (s.v[{hi} + 1] - s.v[{lo} + 1]) * ({pos} - floor({pos})))"
    return f"(floor({v} * 1000000.0 + 0.5) / 1000000.0)"


def _poisson_weight_sql(u: str) -> str:
    return (
        f"CASE WHEN {u} < {_P_CUM[0]} THEN 0 "
        f"WHEN {u} < {_P_CUM[1]} THEN 1 "
        f"WHEN {u} < {_P_CUM[2]} THEN 2 "
        f"WHEN {u} < {_P_CUM[3]} THEN 3 "
        f"WHEN {u} < {_P_CUM[4]} THEN 4 "
        f"WHEN {u} < {_P_CUM[5]} THEN 5 "
        f"WHEN {u} < {_P_CUM[6]} THEN 6 "
        f"WHEN {u} < {_P_CUM[7]} THEN 7 ELSE 8 END"
    )


@query(
    "agg_poisson_bootstrap_ci",
    f"""
    WITH x AS (
      SELECT event_id, value FROM events
      WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    reps AS (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS rep),
    weighted AS (
      SELECT r.rep, x.value,
             {_poisson_weight_sql(
                 "(CAST(('0x' || substr(md5('" + _BOOT_SALT + "'"
                 " || CAST(x.event_id AS VARCHAR) || ':'"
                 " || CAST(r.rep AS VARCHAR)), 1, 12)) AS BIGINT) + 0.5)"
                 " / 281474976710656.0"
             )} AS w
      FROM x CROSS JOIN reps r
    ),
    rep_means AS (
      SELECT rep,
             round(CAST(sum(CAST(value * w AS DECIMAL(18,6))) AS DOUBLE)
                   / sum(w), 6) AS m
      FROM weighted GROUP BY rep HAVING sum(w) > 0
    ),
    base AS (
      SELECT round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   / count(*), 6) AS point_mean,
             CAST(count(*) AS BIGINT) AS n
      FROM x
    ),
    ms AS (
      SELECT CAST(count(*) AS BIGINT) AS n_replicas,
             list(m ORDER BY m) AS v
      FROM rep_means
    )
    SELECT b.point_mean, b.n, s.n_replicas,
           {_ci_interp_duck("0.025")} AS ci_lo,
           {_ci_interp_duck("0.975")} AS ci_hi
    FROM base b CROSS JOIN ms s
    """,
)
def agg_poisson_bootstrap_ci(spark, sf_dir):
    """95% Poisson-bootstrap confidence interval for the mean purchase
    value: {_BOOT_B} replicas, each reweighting every row by an
    independent Poisson(1) count drawn via inverse CDF from a
    salted-hash uniform keyed on (row, replica). This is the bootstrap
    that scales — per-row weights need no global coordination, so a
    replica is a pure map + one aggregate, and all {_BOOT_B} replicas
    ride ONE shuffle keyed by replica id. Deterministic by
    construction: rerunning the query (or the oracle) draws the
    identical resamples.

    Scale: the fan-out is |rows|×{_BOOT_B} map-side (broadcast replica
    list, no data shuffle until the per-replica agg); replica means
    use decimal exact sums; the CI is a {_BOOT_B}-row percentile.
    100 TB: identical plan — the per-replica partial aggregates
    map-side-combine, so the shuffle carries B×partitions rows."""
    x = (
        t(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .select("event_id", "value")
    )
    reps = x.sparkSession.range(_BOOT_B).select(F.col("id").alias("rep"))
    u = (
        md5_int(
            _BOOT_SALT,
            F.col("event_id").cast("string"),
            ":",
            F.col("rep").cast("string"),
            hex_digits=12,
        )
        + 0.5
    ) / 281474976710656.0
    w = (
        F.when(u < _P_CUM[0], 0)
        .when(u < _P_CUM[1], 1)
        .when(u < _P_CUM[2], 2)
        .when(u < _P_CUM[3], 3)
        .when(u < _P_CUM[4], 4)
        .when(u < _P_CUM[5], 5)
        .when(u < _P_CUM[6], 6)
        .when(u < _P_CUM[7], 7)
        .otherwise(8)
    )
    weighted = x.crossJoin(F.broadcast(reps)).select(
        "rep", "value", w.alias("w")
    )
    rep_means = (
        weighted.groupBy("rep")
        .agg(
            F.sum((F.col("value") * F.col("w")).cast("decimal(18,6)")).alias(
                "sv"
            ),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            F.round(F.col("sv").cast("double") / F.col("sw"), 6).alias("m")
        )
    )
    base = x.agg(
        F.round(F.sum(dec("value")).cast("double") / F.count(F.lit(1)), 6).alias(
            "point_mean"
        ),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    def interp(q: float):
        # the SAME explicitly-stated lerp AND the same explicit
        # floor(+0.5) rounding as the oracle (_ci_interp_duck): library
        # percentile/quantile_cont lerp in different float forms, and
        # library round() implementations disagree on 6-dp knife edges
        # (both bit-level divergences surfaced by the sf0.001 ledger)
        pos = (F.col("n_replicas") - 1).cast("double") * F.lit(q)
        lo = F.floor(pos).cast("bigint")
        hi = F.least(lo + 1, F.col("n_replicas") - 1)
        vlo = F.element_at("ms", (lo + 1).cast("int"))
        vhi = F.element_at("ms", (hi + 1).cast("int"))
        v = vlo + (vhi - vlo) * (pos - F.floor(pos))
        return F.floor(v * 1000000.0 + 0.5) / 1000000.0

    return (
        base.crossJoin(rep_means)
        .groupBy("point_mean", "n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_replicas"),
            F.sort_array(F.collect_list("m")).alias("ms"),
        )
        .select(
            "point_mean",
            "n",
            "n_replicas",
            interp(0.025).alias("ci_lo"),
            interp(0.975).alias("ci_hi"),
        )
    )


# --- cumulative gains (lift) curve -------------------------------------------

_GAINS_BINS = 10


@query(
    "ext_cumulative_gains",
    f"""
    WITH scored AS (
      SELECT doc_id, lang = 'en' AS label,
             round(CAST({lang_score_duck(LANG_PROFILES['en'])} AS DOUBLE)
                   / greatest(len({TOK_DUCK}), 1), 6) AS score
      FROM documents
    ),
    ranked AS (
      SELECT label,
             ntile({_GAINS_BINS}) OVER (ORDER BY score DESC, doc_id) AS decile
      FROM scored
    ),
    per AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE label) AS BIGINT) AS n_pos
      FROM ranked GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(n_pos) AS BIGINT) AS pt
      FROM per
    ),
    cum AS (
      SELECT decile, n, n_pos,
             sum(n) OVER w AS cn, sum(n_pos) OVER w AS cp
      FROM per WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
    )
    SELECT CAST(decile AS INTEGER) AS decile, n, n_pos,
           round(CAST(cp AS DOUBLE) / t.pt, 6) AS cum_gain,
           round((CAST(cp AS DOUBLE) / t.pt)
                 / (CAST(cn AS DOUBLE) / t.nt), 6) AS lift
    FROM cum CROSS JOIN tot t ORDER BY decile
    """,
)
def ext_cumulative_gains(spark, sf_dir):
    """Cumulative gains and lift by score decile: rank documents by the
    English-stopword-density score (the wave-22 AUC feature), split
    into {_GAINS_BINS} deciles, and report what share of all positives
    (lang = 'en') the top-k deciles capture and their lift over random
    targeting. THE campaign-targeting readout — "call the top 20% and
    reach X% of responders" — and the curve whose area is the AUC the
    wave-22 query already scores.

    Scale: scoring is a pure map (cached: the decile split reads it
    twice); the decile split is an exact SELECTION ntile over (score
    DESC as negated ASC key, doc_id) — operators/distrank.py
    with_global_ntile_by_selection picks the 9 boundary keys exactly,
    then every doc is binned map-side against the pinned literals (no
    per-row window, no single-task sort); the one-pass 100 TB shortcut
    swaps in approx-percentile cut points broadcast into a map-side
    CASE. Everything after is a {_GAINS_BINS}-row table whose
    running totals are a triangular broadcast self-join (windowless,
    bounded by {_GAINS_BINS}). Exact integer ratios."""
    d = t(spark, sf_dir, "documents")
    toks = tok_spark(F.col("text"))
    score = F.round(
        lang_score_spark(toks, LANG_PROFILES["en"]).cast("double")
        / F.greatest(F.size(toks), F.lit(1)),
        6,
    )
    scored = managed_cache(
        d.select(
            "doc_id", (F.col("lang") == "en").alias("label"), score.alias("score")
        ),
        "ext_cumulative_gains/scored",
    )
    ranked = with_global_ntile_by_selection(
        scored, [-F.col("score"), F.col("doc_id")], _GAINS_BINS, "decile"
    ).select("label", "decile")
    per = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.when(F.col("label"), 1)).cast("bigint").alias("n_pos"),
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("n_pos").cast("bigint").alias("pt"),
    )
    cum = bounded_running_sum(per, "decile", {"n": "cn", "n_pos": "cp"})
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n",
            "n_pos",
            F.round(F.col("cp").cast("double") / F.col("pt"), 6).alias(
                "cum_gain"
            ),
            F.round(
                (F.col("cp").cast("double") / F.col("pt"))
                / (F.col("cn").cast("double") / F.col("nt")),
                6,
            ).alias("lift"),
        )
        .orderBy("decile")
    )


# --- expected calibration error ----------------------------------------------

_ECE_BINS = 10


@query(
    "agg_feature_calibration",
    f"""
    WITH scored AS (
      SELECT doc_id, lang = 'en' AS label,
             round(CAST({lang_score_duck(LANG_PROFILES['en'])} AS DOUBLE)
                   / greatest(len({TOK_DUCK}), 1), 6) AS score
      FROM documents
    ),
    capped AS (
      SELECT label, least(score, 0.999999) AS s FROM scored
    ),
    binned AS (
      SELECT CAST(floor(s * {_ECE_BINS}) AS INTEGER) AS bin, label, s
      FROM capped
    ),
    per AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             round(CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
               AS mean_score,
             round(CAST(count(*) FILTER (WHERE label) AS DOUBLE) / count(*), 6)
               AS pos_rate
      FROM binned GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM per)
    SELECT round(CAST(sum(CAST((CAST(n AS DOUBLE) / t.nt)
                               * abs(mean_score - pos_rate)
                          AS DECIMAL(28,12))) AS DOUBLE), 6) AS ece,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(max(t.nt) AS BIGINT) AS n_rows
    FROM per CROSS JOIN tot t
    """,
)
def agg_feature_calibration(spark, sf_dir):
    """Expected calibration error of the stopword-density score read
    as P(lang = 'en'): bin by score into {_ECE_BINS} fixed-width bins,
    and ECE = Σ (bin mass) · |mean score − empirical positive rate|.
    The probability-honesty companion to the wave-22 AUC: AUC says the
    score RANKS well (or not); ECE says whether its VALUE can be
    trusted as a probability — a raw density never can, which is why
    pipelines calibrate (Platt/isotonic) before thresholding on
    "confidence", and this query is the measurement that tells you to.

    Scale: fixed-width binning is a pure map (no quantile pass); the
    per-bin stats are one hash-agg to {_ECE_BINS} rows; the ECE reduce
    is the decimal pattern over identically-computed double terms."""
    d = t(spark, sf_dir, "documents")
    toks = tok_spark(F.col("text"))
    score = F.round(
        lang_score_spark(toks, LANG_PROFILES["en"]).cast("double")
        / F.greatest(F.size(toks), F.lit(1)),
        6,
    )
    capped = d.select(
        (F.col("lang") == "en").alias("label"),
        F.least(score, F.lit(0.999999)).alias("s"),
    )
    binned = capped.select(
        F.floor(F.col("s") * _ECE_BINS).cast("int").alias("bin"),
        "label",
        "s",
    )
    per = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(dec("s")).cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_score"
        ),
        F.round(
            F.count(F.when(F.col("label"), 1)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("pos_rate"),
    )
    tot = per.agg(F.sum("n").cast("bigint").alias("nt"))
    term = (F.col("n").cast("double") / F.col("nt")) * F.abs(
        F.col("mean_score") - F.col("pos_rate")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum(term.cast("decimal(28,12)")).cast("double"), 6
            ).alias("ece"),
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.max("nt").cast("bigint").alias("n_rows"),
        )
    )
