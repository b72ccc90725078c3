"""Operational operators, wave 21: pipeline-hygiene audits and the
serving-layer pagination shape, plus an iterative linear-algebra
operator (power-iteration PCA) expressed as DataFrame ops.

The audits answer questions an on-call data engineer asks the moment a
downstream number looks wrong: did we LOSE rows (id-sequence gaps),
and how out-of-order does this stream actually arrive (the number a
streaming watermark must be calibrated against — streaming/rollup.py's
delay threshold should dominate the p99 reported here). Keyset
pagination is the serving idiom every API layer needs (OFFSET re-scans
and drifts under concurrent writes; a keyset cursor is O(page) and
stable). The PCA component is the iterative-algorithm counterpart to
operators/pagerank.py on the numeric side.

Reference parity: the reference has no ops-audit surface; these extend
it per the BASELINE north-star list. Keyset pagination generalizes the
reference's latest-events panel (README Grafana SQL) to cursor form.

Cross-engine float rule: audits are exact-integer; quantiles
interpolate identically (Spark percentile ≡ DuckDB quantile_cont)."""

from __future__ import annotations

from pyspark.sql import functions as F

from habits_etl_spark.operators.distrank import with_global_lag, with_global_running_agg
from habits_etl_spark.plans.common import TS_FMT_DUCK, fmt_ts, managed_cache, query, t

# --- id-sequence gap audit ---------------------------------------------------


@query(
    "op_id_gap_audit",
    """
    WITH ordered AS (
      SELECT event_id,
             lag(event_id) OVER (ORDER BY event_id) AS prev_id
      FROM events
    ),
    gaps AS (
      SELECT prev_id + 1 AS gap_start, event_id - 1 AS gap_end,
             event_id - prev_id - 1 AS n_missing
      FROM ordered WHERE prev_id IS NOT NULL AND event_id - prev_id > 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(coalesce(sum(n_missing), 0) AS BIGINT) AS n_missing_ids,
           CAST(min(gap_start) AS BIGINT) AS first_gap_start,
           CAST(max(gap_end) AS BIGINT) AS last_gap_end
    FROM gaps
    """,
)
def op_id_gap_audit(spark, sf_dir):
    """Id-sequence completeness audit: scan the event_id sequence for
    holes (consecutive ids differing by more than 1) and report how
    many ids are missing and where the damage spans. A producer that
    assigns dense sequence ids makes this THE data-loss tripwire — a
    nonzero n_missing_ids after ingest means dropped batches, and the
    gap bounds say which ones to replay.

    Scale: a distributed two-pass lag (operators/distrank.py) — events
    range-partition on event_id, each partition lags locally, and ONLY
    each partition's boundary id crosses partitions (the decomposition
    sinks/zorder.py's range handling shares); the audit reduce is a
    scalar. No single-task window anywhere. Pure integer arithmetic."""
    ev = t(spark, sf_dir, "events")
    ordered = with_global_lag(
        ev.select("event_id"), ["event_id"], "event_id", "prev_id"
    )
    gaps = ordered.filter(
        F.col("prev_id").isNotNull()
        & (F.col("event_id") - F.col("prev_id") > 1)
    ).select(
        (F.col("prev_id") + 1).alias("gap_start"),
        (F.col("event_id") - 1).alias("gap_end"),
        (F.col("event_id") - F.col("prev_id") - 1).alias("n_missing"),
    )
    return gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.coalesce(F.sum("n_missing"), F.lit(0)).cast("bigint").alias(
            "n_missing_ids"
        ),
        F.min("gap_start").cast("bigint").alias("first_gap_start"),
        F.max("gap_end").cast("bigint").alias("last_gap_end"),
    )


# --- out-of-order arrival audit ----------------------------------------------


@query(
    "op_out_of_order_audit",
    """
    WITH arr AS (
      SELECT event_id, ts,
             max(ts) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS max_ts_before
      FROM events
    ),
    late AS (
      SELECT CASE WHEN ts < max_ts_before
                  THEN CAST(epoch_us(max_ts_before) - epoch_us(ts) AS BIGINT)
             END AS late_us
      FROM arr WHERE max_ts_before IS NOT NULL
    )
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(late_us) AS BIGINT) AS n_late,
           round(CAST(count(late_us) AS DOUBLE) / count(*), 6) AS late_share,
           round(coalesce(quantile_cont(CAST(late_us AS DOUBLE), 0.5), 0.0)
                 / 1000000.0, 6) AS median_lateness_s,
           round(coalesce(quantile_cont(CAST(late_us AS DOUBLE), 0.99), 0.0)
                 / 1000000.0, 6) AS p99_lateness_s,
           round(coalesce(CAST(max(late_us) AS DOUBLE), 0.0) / 1000000.0, 6)
             AS max_lateness_s
    FROM late
    """,
)
def op_out_of_order_audit(spark, sf_dir):
    """Out-of-order arrival audit: treating event_id as arrival order,
    how many events carry a timestamp EARLIER than something that
    already arrived, and by how much (median / p99 / max lateness).
    This is the empirical basis for every watermark in streaming/ —
    a `withWatermark(ts, X)` with X below the p99 reported here
    silently drops that tail; an X far above the max wastes state.

    Scale: a distributed two-pass running max over arrival order
    (operators/distrank.py): per-id-range partitions compute the local
    running max and only each partition's boundary maximum crosses
    partitions — same decomposition as op_id_gap_audit; lateness
    quantiles run on the (usually tiny) late subset. Lateness is exact
    integer microseconds; percentiles interpolate identically in both
    engines."""
    ev = t(spark, sf_dir, "events")
    arr = with_global_running_agg(
        ev.select("event_id", "ts"),
        ["event_id"],
        "ts",
        "max_ts_before",
        agg="max",
        include_current=False,
    ).filter(F.col("max_ts_before").isNotNull())
    late_us = F.when(
        F.col("ts") < F.col("max_ts_before"),
        (F.unix_micros("max_ts_before") - F.unix_micros("ts")).cast("bigint"),
    )
    late = arr.select(late_us.alias("late_us"))
    ld = F.col("late_us").cast("double")
    return late.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.count("late_us").cast("bigint").alias("n_late"),
        F.round(F.count("late_us").cast("double") / F.count(F.lit(1)), 6).alias(
            "late_share"
        ),
        F.round(
            F.coalesce(F.percentile(ld, F.lit(0.5)), F.lit(0.0)) / 1e6, 6
        ).alias("median_lateness_s"),
        F.round(
            F.coalesce(F.percentile(ld, F.lit(0.99)), F.lit(0.0)) / 1e6, 6
        ).alias("p99_lateness_s"),
        F.round(
            F.coalesce(F.max("late_us").cast("double"), F.lit(0.0)) / 1e6, 6
        ).alias("max_lateness_s"),
    )


# --- keyset pagination -------------------------------------------------------

# Cursor = the (ts, event_id) of the last row the client saw; the page is
# the next _PAGE_SIZE rows in (ts, event_id) order strictly after it.
_CURSOR_TS = "2024-01-15 00:00:00"
_CURSOR_ID = 0
_PAGE_SIZE = 25


@query(
    "serve_keyset_page",
    f"""
    SELECT event_id, user_id, event_type,
           strftime(ts, '{TS_FMT_DUCK}') AS ts
    FROM events
    WHERE (ts, event_id) > (TIMESTAMP '{_CURSOR_TS}', {_CURSOR_ID})
    ORDER BY ts, event_id
    LIMIT {_PAGE_SIZE}
    """,
)
def serve_keyset_page(spark, sf_dir):
    """Keyset (cursor) pagination over the event feed: the next
    {_PAGE_SIZE} rows in (ts, event_id) order strictly after the
    client's cursor. The serving idiom OFFSET pagination cannot match:
    OFFSET n re-scans and re-sorts n rows per page and drifts when
    concurrent writes land; a keyset cursor is O(page), stable, and —
    crucially for a columnar store — the row-comparison predicate
    pushes down to prune everything before the cursor's time range.

    Scale: the tuple comparison decomposes to ts > c OR (ts = c AND
    id > cursor), so the parquet scan prunes on the ts min/max stats
    (the same pushdown path as pred_time_range) and the top-k is a
    TakeOrderedAndProject — no global sort materializes. Total order
    via the unique (ts, event_id) key (common.py rule 4)."""
    ev = t(spark, sf_dir, "events")
    c_ts = F.lit(_CURSOR_TS).cast("timestamp")
    after = (F.col("ts") > c_ts) | (
        (F.col("ts") == c_ts) & (F.col("event_id") > _CURSOR_ID)
    )
    return (
        ev.filter(after)
        .select("event_id", "user_id", "event_type", fmt_ts(F.col("ts")).alias("ts"))
        .orderBy("ts", "event_id")
        .limit(_PAGE_SIZE)
    )


# --- power-iteration PCA (rows-only) -----------------------------------------

_PCA_ITERS = 12


def _pca_oracle_sql() -> str:
    """The power iteration UNROLLED: the round count is a domain
    constant, so the loop is {_PCA_ITERS} chained CTE blocks (the
    ext_coreset_kcenter pattern). Engine parity mirrors the Spark loop
    piece by piece: Xv and X^T(Xv) are DECIMAL(28,12)-exact sums (group
    order cannot matter), the per-round norm folds an ORDERED list —
    list_aggregate over list(u*u ORDER BY dim) — matching the driver's
    left-to-right Python sum, and the 6-digit output round happens after
    convergence, where any residual last-ulp scale noise is far below
    the rounding grain."""
    ctes = [
        """x AS MATERIALIZED (
      SELECT vec_id, unnest(range(len(embedding))) AS dim,
             unnest(CAST(embedding AS DOUBLE[])) AS val
      FROM embeddings
    )""",
        """mean AS (
      SELECT dim, CAST(sum(CAST(val AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mu
      FROM x GROUP BY dim
    )""",
        """xc AS MATERIALIZED (
      SELECT x.vec_id, x.dim, x.val - m.mu AS val FROM x JOIN mean m USING (dim)
    )""",
        """v0 AS MATERIALIZED (
      SELECT dim, 1.0 / sqrt((SELECT CAST(count(*) AS DOUBLE) FROM mean)) AS w
      FROM mean
    )""",
    ]
    for r in range(1, _PCA_ITERS + 1):
        ctes.append(
            f"""score{r} AS MATERIALIZED (
      SELECT xc.vec_id,
             CAST(sum(CAST(xc.val * v.w AS DECIMAL(28,12))) AS DOUBLE) AS score
      FROM xc JOIN v{r - 1} v USING (dim) GROUP BY xc.vec_id
    )"""
        )
        ctes.append(
            f"""u{r} AS MATERIALIZED (
      SELECT xc.dim,
             CAST(sum(CAST(xc.val * s.score AS DECIMAL(28,12))) AS DOUBLE) AS u
      FROM xc JOIN score{r} s USING (vec_id) GROUP BY xc.dim
    )"""
        )
        ctes.append(
            f"""v{r} AS MATERIALIZED (
      SELECT dim,
             u / (SELECT sqrt(list_aggregate(list(u * u ORDER BY dim), 'sum'))
                  FROM u{r}) AS w
      FROM u{r}
    )"""
        )
    last = f"v{_PCA_ITERS}"
    ctes.append(
        f"""vs AS MATERIALIZED (
      SELECT dim,
             CASE WHEN (SELECT w FROM {last} WHERE dim = 0) < 0 THEN -w ELSE w END AS w
      FROM {last}
    )"""
    )
    ctes.append(
        f"""lam AS (
      SELECT CAST(sum(CAST(score * score AS DECIMAL(28,12))) AS DOUBLE) AS lam_n
      FROM (
        SELECT xc.vec_id,
               CAST(sum(CAST(xc.val * v.w AS DECIMAL(28,12))) AS DOUBLE) AS score
        FROM xc JOIN vs v USING (dim) GROUP BY xc.vec_id
      )
    )""",
    )
    ctes.append(
        """tot AS (
      SELECT CAST(sum(CAST(val * val AS DECIMAL(28,12))) AS DOUBLE) AS tot FROM xc
    )"""
    )
    return (
        "WITH " + ",\n    ".join(ctes) + """
    SELECT CAST(v.dim AS INT) AS dim, round(v.w, 6) AS loading,
           round(CASE WHEN t.tot <> 0 THEN l.lam_n / t.tot ELSE 0.0 END, 6)
             AS explained_var_share
    FROM vs v CROSS JOIN lam l CROSS JOIN tot t
    """
    )


@query("ext_pca_top_component", _pca_oracle_sql())
def ext_pca_top_component(spark, sf_dir):
    """Top principal component of the (centered) embedding matrix by
    distributed power iteration: v ← normalize(Xᵀ(Xv)) with X the
    row-centered embeddings, run {_PCA_ITERS} rounds. Returns one row
    per dimension: the component loading and the explained variance
    (Rayleigh quotient λ / total variance). The numeric counterpart of
    operators/pagerank.py's iterative pattern — and the preprocessing
    step (top-PC removal) common-crawl embedding pipelines apply
    because the lead component is usually a corpus-wide frequency
    artifact.

    Oracle parity: decimal(28,12) sums are EXACT arithmetic, so every
    grouped/folded sum below is order-invariant and matches the unrolled
    CTE oracle bit-for-bit regardless of partitioning or fold order.
    Sign convention, normalization, and convergence vs numpy's
    eigendecomposition are additionally asserted in
    tests/test_opsaudit.py. On a near-degenerate spectrum
    ({_PCA_ITERS} rounds, λ2/λ1 ≈ 0.93 on the fixture) the converged
    claim is subspace membership + Rayleigh quotient in the top band —
    the artifact-removal use case needs exactly that, not one
    ill-conditioned eigenvector.

    Scale: the centered matrix stays in ARRAY form (n rows, one
    array<double> each — d× smaller than the exploded relation), and
    each round is ONE job: the scalar projection Xv is a join-free
    decimal-exact zip_with/aggregate fold against the round's v as an
    array LITERAL (no broadcast DataFrame, no shuffle), and X^T(Xv) is
    a single explode + hash-agg of the n·d terms into d groups — the
    partial (map-side) aggregation collapses each task to ≤ d rows
    before the exchange, so the shuffle moves (#partitions × d) values
    at any corpus size. Nothing materializes beyond the d-vector on the
    driver (k-bounded collect, the k-means rule). The r14 rework cut
    the per-round cost from two shuffle joins over the exploded
    relation + a driver createDataFrame broadcast (~10.4 s solo warm at
    sf0.01) to the one aggregation above. r15: the per-round .orderBy
    of the d-row result was a range exchange whose boundary-sampling
    job cost ~25% of every iteration — the sort now happens on the
    driver over the collected d rows (identical values, measured 0.60
    vs 0.45 s/round solo at sf0.1); v and the centering vector are
    single array<double> literals (F.lit(list)) rather than d scalar
    literals (plan-size hygiene; end-to-end flat locally). A columnar
    variant replacing the explode with d per-dimension decimal sum
    columns was measured and REJECTED (15.4 vs 7.3 s solo at sf0.1):
    partial aggregation already bounds the exchange to (#partitions ×
    d) rows, so removing the explode buys only per-row CPU while
    paying d aggregate expressions of plan+codegen work per round."""
    e = t(spark, sf_dir, "embeddings")
    emb = e.select(
        "vec_id",
        F.transform("embedding", lambda c: c.cast("double")).alias("arr"),
    )
    x = emb.select("vec_id", F.posexplode("arr").alias("dim", "val"))
    # d-bounded collect (one double per dimension), sorted on the DRIVER:
    # an .orderBy over d rows would plan a range exchange whose boundary
    # sampling is an extra job — per round that job was ~25% of the whole
    # iteration (measured 0.60 vs 0.45 s/round solo at sf0.1).
    mu_rows = x.groupBy("dim").agg(
        (
            F.sum(F.col("val").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu")
    ).collect()
    mu = [r.mu for r in sorted(mu_rows, key=lambda r: r.dim)]
    # F.lit(list) — one array<double> literal, not d scalar literals: the
    # centering vector is embedded in EVERY round's plan via xc_arr, and
    # the single-literal form keeps the generated source identical.
    xc_arr = emb.select(
        "vec_id",
        F.zip_with(
            "arr", F.lit([float(m) for m in mu]), lambda xv, m: xv - m
        ).alias("arr"),
    )

    def dec_dot(ws):
        """Decimal(28,12)-exact dot of the centered row against the
        literal weight vector: each term cast to decimal BEFORE the
        fold, so the sum is exact and order-free — bit-identical to the
        oracle's grouped decimal SUM over the same terms. The fold keeps
        scale 12 throughout: (28,12)+(28,12) widens to (29,12) with NO
        rounding, and the cast back to (28,12) is exact for any
        magnitude below 10^16 (the centered products are < 1)."""
        return F.aggregate(
            F.zip_with(
                F.col("arr"),
                F.lit([float(w) for w in ws]),
                lambda xv, w: (xv * w).cast("decimal(28,12)"),
            ),
            F.lit(0).cast("decimal(28,12)"),
            lambda acc, term: (acc + term).cast("decimal(28,12)"),
        ).cast("double")

    xc_arr = managed_cache(xc_arr, "ext_pca_top_component/xc")
    n_dims = len(mu)
    v = [1.0 / (n_dims ** 0.5)] * n_dims
    spark_sess = e.sparkSession
    for _ in range(_PCA_ITERS):
        nxt = (
            xc_arr.select(dec_dot(v).alias("score"), "arr")
            .select("score", F.posexplode("arr").alias("dim", "val"))
            .groupBy("dim")
            .agg(
                F.sum((F.col("val") * F.col("score")).cast("decimal(28,12)"))
                .cast("double")
                .alias("u")
            )
            .collect()
        )  # d-bounded collect (n_dims rows), the k-means driver rule;
        # dim order restored on the driver (no range-exchange job, see mu)
        u = [r.u for r in sorted(nxt, key=lambda r: r.dim)]
        nrm = sum(w * w for w in u) ** 0.5
        v = [w / nrm for w in u]
    if v[0] < 0:  # deterministic sign convention: first loading >= 0
        v = [-w for w in v]
    # Rayleigh quotient + total variance fused into ONE final pass:
    # per-row score (decimal-exact fold) and per-row Σval² partial
    # (decimal terms, so the global decimal sum of per-row partials
    # equals the oracle's flat decimal SUM over all cells).
    fin_row = (
        xc_arr.select(
            dec_dot(v).alias("score"),
            F.aggregate(
                F.transform("arr", lambda xv: (xv * xv).cast("decimal(28,12)")),
                F.lit(0).cast("decimal(28,12)"),
                lambda acc, term: (acc + term).cast("decimal(28,12)"),
            ).alias("v2"),
        )
        .agg(
            F.sum((F.col("score") * F.col("score")).cast("decimal(28,12)"))
            .cast("double")
            .alias("lam_n"),
            F.sum("v2").cast("double").alias("tot"),
        )
        .first()
    )
    explained = fin_row.lam_n / fin_row.tot if fin_row.tot else 0.0
    return spark_sess.createDataFrame(
        [
            (i, round(float(w), 6), round(float(explained), 6))
            for i, w in enumerate(v)
        ],
        "dim int, loading double, explained_var_share double",
    ).orderBy("dim")
