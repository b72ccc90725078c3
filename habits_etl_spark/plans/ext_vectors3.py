"""Embedding-space curation, wave 5: product quantization (PQ).

Completes the similarity-search ladder (exact scan -> SRP-LSH buckets ->
IVF probe -> PQ codes): Jegou et al. 2011, "Product Quantization for
Nearest Neighbor Search". The embedding is split into M subvectors, each
quantized against its own k-entry codebook; a vector becomes M small
integer codes (here 8 x 4 bits of codebook id per 64-float vector — a
~64x payload reduction), and queries scan codes with asymmetric distance
computation (ADC): per-query lookup tables replace all float math on the
corpus side. At 100 TB this is the difference between scanning 25 TB of
float32 and scanning ~400 GB of codes with table lookups — the scan
becomes memory-bandwidth-bound on a small fraction of the data, and
composes with the IVF cell routing (ext_ann_ivf_probe) for sub-linear
candidate selection.

All three operators are oracle-gated end to end since r10: the fixed
Lloyd round count unrolls into a DuckDB CTE chain (pq_codebook_sql, the
k-center/MMR/PCA/PageRank/k-means pattern) with md5-int seeds and
decimal-exact mean numerators, so training is a deterministic function
of the data. Quantization quality and search recall against the exact
scan are additionally asserted in tests/test_vectors3.py.

Normalization discipline (see ext_vectors2 module docstring): corpus rows
carry (v, nrm); every fold runs on raw ``v`` and the 1/nrm scaling is
applied to the folded SCALAR, never element-wise inside a lambda — so
CollapseProject cannot inline the norm fold into a per-element body.
Vectors are unit-normalized before quantization, which makes squared
Euclidean ADC monotonic with cosine (|a-b|^2 = 2 - 2cos for unit vectors)
and therefore comparable with the exact cosine top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from habits_etl_spark.operators.lloyd import (
    argmax_cell_expr,
    hash_seeds,
    lit_array_sql,
    lloyd_round,
)
from habits_etl_spark.operators.srp import DIM
from habits_etl_spark.plans.bases import normed_base_cached, prepped_embeddings
from habits_etl_spark.plans.common import memo_fit, query, shared_cache
from habits_etl_spark.plans.ext_vectors import N_QUERIES, TOP_K
from habits_etl_spark.plans.ext_vectors2 import KM_ITERS, kmeans_cent_sql, kmeans_fit

_PQ_M = 8  # subspaces
_PQ_DSUB = DIM // _PQ_M
PQ_K = 16  # codebook entries per subspace (4-bit codes)
_PQ_RERANK = 64  # ADC shortlist size fed to the exact re-rank stage
_PQ_ITERS = 3


def _sub_slice(m: int, vcol: str = "v", dsub: int = _PQ_DSUB) -> str:
    """SQL slice of subspace m (1-based slice positions)."""
    return f"slice({vcol}, {m * dsub + 1}, {dsub})"


def _cb_lit(codebooks) -> str:
    """The full codebook as ONE m_sub x k x dsub literal matrix."""
    return "array(" + ", ".join(
        "array(" + ", ".join(lit_array_sql(c) for c in cb_m) + ")" for cb_m in codebooks
    ) + ")"


def _c2h_lit(codebooks) -> str:
    """|c|^2 / 2 per codeword (python-evaluated, so the exact doubles the
    oracle's in-query list_aggregate(...)/2.0 reproduces)."""
    return "array(" + ", ".join(
        "array(" + ", ".join(f"{sum(x * x for x in c) / 2.0!r}D" for c in cb_m) + ")"
        for cb_m in codebooks
    ) + ")"


def _scores_matrix_sql(codebooks, sv: str, subid: str) -> str:
    """(sv . c)/nrm - |c|^2/2 for every codeword of subspace ``subid``,
    as ONE expression over the literal codebook matrix — argmax of this
    is argmin of unit-vector Euclidean distance. The r9 form inlined a
    separate fold per codeword into a CASE chain keyed on sub_id (1024
    folds per row expression), which cost seconds of parse+codegen PER
    LLOYD ROUND because each round's new literals force a fresh compile;
    the matrix form is one small transform lambda (same per-score
    arithmetic, bit-identical values). The 1/nrm division stays OUTSIDE
    the fold (scalar context)."""
    dot = f"aggregate(zip_with({sv}, c, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    return (
        f"zip_with(transform(element_at({_cb_lit(codebooks)}, {subid} + 1),"
        f" c -> {dot} / nrm),"
        f" element_at({_c2h_lit(codebooks)}, {subid} + 1), (d, h) -> d - h)"
    )


def _argmax_code_sql(codebooks, sv: str, subid: str) -> str:
    s = _scores_matrix_sql(codebooks, sv, subid)
    return f"array_position({s}, array_max({s})) - 1"


def pq_fit(
    spark: SparkSession,
    sf_dir: str,
    m_sub: int = _PQ_M,
    k: int = PQ_K,
    iters: int = _PQ_ITERS,
) -> list[list[list[float]]]:
    """Train the M codebooks, Lloyd iterations expressed as DataFrame ops,
    ALL subspaces in one job per iteration. Returns codebooks[m][code] ->
    dsub floats (trained on unit-normalized vectors).

    Seeds and rounds come from operators/lloyd.py, the kernel kmeans_fit
    also runs: init is hash_seeds with salt ``"pq:"`` (k unit vectors,
    each sliced into its M subvectors); each lloyd_round, keyed by
    sub_id, is one pure-map assignment (the codebook matrix rides into
    the task as a literal, see _scores_matrix_sql), ONE decimal-exact
    (sub_id, cell, dim) aggregate and an M x k x dsub collect — bounded
    driver traffic (4 KB here) regardless of corpus size. A codeword is
    the plain mean of its members' unit subvectors.

    MEMOIZED per (sf_dir, m_sub, k, iters), like kmeans_fit: the fit is
    a deterministic pure function of the parquet input, and all three PQ
    queries (codes / flat topk / IVFPQ) compose the same codebooks — the
    r10 bench paid the identical 3-round training once per query per
    repetition, which made ext_ivfpq_topk the slowest registered id."""
    return memo_fit(
        ("pq_fit", sf_dir, m_sub, k, iters),
        lambda: _pq_fit(spark, sf_dir, m_sub, k, iters),
    )


def _pq_fit(spark, sf_dir, m_sub, k, iters):
    dsub = DIM // m_sub
    base = normed_base_cached(spark, sf_dir)
    seeds = hash_seeds(base, "pq:", k)
    codebooks = [[u[m * dsub : (m + 1) * dsub] for u in seeds] for m in range(m_sub)]

    # (vec_id, sub_id, sv_raw, nrm): one row per subspace per vector. The
    # subvector stays RAW here; lloyd_round divides each exploded element
    # by the scalar nrm (scalar context, no lambda). CACHED and
    # session-shared: every Lloyd round's update agg re-reads this
    # relation, and without the cache each round re-runs the scan +
    # slice + explode lineage (r10: the PQ queries were the bench's
    # slowest ids mostly on this).
    subs = shared_cache(
        spark,
        f"pq_fit/subs::{sf_dir}::{m_sub}",
        lambda: base.select(
            "vec_id",
            "nrm",
            F.posexplode(
                F.expr(
                    "array("
                    + ", ".join(_sub_slice(m, dsub=dsub) for m in range(m_sub))
                    + ")"
                )
            ).alias("sub_id", "sv"),
        ),
    )

    for _ in range(iters):
        cell = F.expr(_argmax_code_sql(codebooks, "sv", "sub_id")).cast("int")
        sums = lloyd_round(subs, cell, vec="sv", keys=("sub_id",))
        # codeword = plain mean of the members' unit subvectors; empty
        # cells keep their previous codeword
        new = {key: [x / n for x in vsum] for key, (vsum, n) in sums.items()}
        codebooks = [
            [new.get((m, c), codebooks[m][c]) for c in range(k)] for m in range(m_sub)
        ]
    return codebooks


def with_codes(base: DataFrame, codebooks) -> DataFrame:
    """Attach the M-code array — a pure map, codebooks as plan literals.
    One sequence-transform expression (the codebook matrix appears twice
    — argmax needs the scores array for both position and max — instead
    of 2 x M times as separate per-subspace expressions). Layout (m_sub,
    dsub) is derived from the codebook shape, so the same builder encodes
    under any layout the sim evaluates."""
    m_sub, dsub = len(codebooks), len(codebooks[0][0])
    s = _scores_matrix_sql(codebooks, f"slice(v, m * {dsub} + 1, {dsub})", "m")
    return base.withColumn(
        "codes",
        F.expr(
            f"transform(sequence(0, {m_sub - 1}),"
            f" m -> CAST(array_position({s}, array_max({s})) - 1 AS INT))"
        ),
    )


def pq_codebook_sql(m_sub: int = _PQ_M, k: int = PQ_K, iters: int = _PQ_ITERS) -> str:
    """CTE chain restating pq_fit in DuckDB, ending in ``cb{iters}``
    (sub_id, cell, w) plus ``m2``/``subs`` base relations and ``fasg``
    (final per-(vector, subspace) assignment carrying the chosen
    codeword). Same unroll discipline as kmeans_cent_sql: md5-int
    seeds, decimal-exact mean numerators, ordered-list folds for every
    scalar the driver computes left-to-right in Python, argmax ties to
    the lowest cell."""
    dsub = DIM // m_sub
    h = "CAST(('0x' || substr(md5('pq:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    score = (
        "(list_dot_product(s.sv, c.w) / s.nrm)"
        " - list_aggregate(list_transform(c.w, x -> x * x), 'sum') / 2.0"
    )
    ctes = [
        """m2 AS MATERIALIZED (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    )""",
        f"mh AS MATERIALIZED (SELECT vec_id, v, nrm, {h} AS h FROM m2)",
        f"""cand AS (
      SELECT * FROM mh
      WHERE h % greatest((SELECT count(*) FROM m2) // {k}, 1) < 2
    )""",
        "nslice AS (SELECT count(*) AS c FROM cand)",
        f"""seedsrc AS (
      SELECT vec_id, v, nrm, h FROM cand WHERE (SELECT c FROM nslice) >= {k}
      UNION ALL
      SELECT vec_id, v, nrm, h FROM mh WHERE (SELECT c FROM nslice) < {k}
    )""",
        f"""useeds AS MATERIALIZED (
      SELECT cell,
             list_transform(v, x -> x / (CASE WHEN nrm = 0.0 THEN 1.0 ELSE nrm END)) AS u
      FROM (SELECT *, row_number() OVER (ORDER BY h, vec_id) - 1 AS cell
            FROM seedsrc)
      WHERE cell < {k}
    )""",
        f"msub AS (SELECT unnest(range({m_sub})) AS sub_id)",
        f"""cb0 AS MATERIALIZED (
      SELECT g.sub_id, s.cell,
             list_slice(s.u, g.sub_id * {dsub} + 1, g.sub_id * {dsub} + {dsub}) AS w
      FROM useeds s CROSS JOIN msub g
    )""",
        f"""subs AS MATERIALIZED (
      SELECT vec_id, nrm, g.sub_id,
             list_slice(v, g.sub_id * {dsub} + 1, g.sub_id * {dsub} + {dsub}) AS sv
      FROM m2 CROSS JOIN msub g
    )""",
        f"cellgrid AS (SELECT g.sub_id, c.cell FROM msub g,"
        f" (SELECT unnest(range({k})) AS cell) c)",
    ]
    for r in range(1, iters + 1):
        ctes.append(
            f"""asg{r} AS MATERIALIZED (
      SELECT vec_id, sub_id, sv, nrm, cell FROM (
        SELECT s.vec_id, s.sub_id, s.sv, s.nrm, c.cell,
               row_number() OVER (PARTITION BY s.vec_id, s.sub_id
                                  ORDER BY {score} DESC, c.cell) AS rk
        FROM subs s JOIN cb{r - 1} c USING (sub_id)
      ) WHERE rk = 1
    )"""
        )
        ctes.append(
            f"""sums{r} AS (
      SELECT sub_id, cell, dim,
             CAST(sum(CAST(x / nrm AS DECIMAL(38,28))) AS DOUBLE) AS s,
             count(*) AS n
      FROM (SELECT sub_id, cell, nrm, unnest(range(len(sv))) AS dim,
                   unnest(sv) AS x
            FROM asg{r})
      GROUP BY 1, 2, 3
    )"""
        )
        ctes.append(
            f"""newcb{r} AS (
      SELECT sub_id, cell,
             list_transform(list(s ORDER BY dim), x -> x / n) AS w
      FROM (SELECT sub_id, cell, dim, s,
                   max(n) OVER (PARTITION BY sub_id, cell) AS n
            FROM sums{r})
      GROUP BY sub_id, cell, n
    )"""
        )
        ctes.append(
            f"""cb{r} AS MATERIALIZED (
      SELECT g.sub_id, g.cell, coalesce(n.w, p.w) AS w
      FROM cellgrid g
      LEFT JOIN newcb{r} n USING (sub_id, cell)
      LEFT JOIN cb{r - 1} p ON p.sub_id = g.sub_id AND p.cell = g.cell
    )"""
        )
    ctes.append(
        f"""fasg AS MATERIALIZED (
      SELECT vec_id, sub_id, sv, nrm, cell, cw FROM (
        SELECT s.vec_id, s.sub_id, s.sv, s.nrm, c.cell, c.w AS cw,
               row_number() OVER (PARTITION BY s.vec_id, s.sub_id
                                  ORDER BY {score} DESC, c.cell) AS rk
        FROM subs s JOIN cb{iters} c USING (sub_id)
      ) WHERE rk = 1
    )"""
    )
    return ",\n    ".join(ctes)


@query(
    "ext_pq_codes",
    f"""
    WITH {pq_codebook_sql()},
    codes AS (
      SELECT vec_id, array_to_string(list(cell ORDER BY sub_id), ',') AS codes
      FROM fasg GROUP BY vec_id
    ),
    recon AS (
      SELECT vec_id, list_aggregate(list(term ORDER BY sub_id), 'sum') AS err
      FROM (
        SELECT vec_id, sub_id,
               (list_dot_product(sv, sv) / (nrm * nrm))
               - 2.0 * (list_dot_product(sv, cw) / nrm)
               + list_aggregate(list_transform(cw, x -> x * x), 'sum') AS term
        FROM fasg
      ) GROUP BY vec_id
    )
    SELECT m2.vec_id, m2.label, c.codes, round(r.err, 4) AS recon_err
    FROM m2 JOIN codes c USING (vec_id) JOIN recon r USING (vec_id)
    ORDER BY m2.vec_id
    """,
)
def ext_pq_codes(spark, sf_dir):
    """PQ-encode the corpus: (vec_id, label, codes array<int>, recon_err).
    recon_err is the squared Euclidean distance between the unit vector
    and its reconstruction — the quantization loss an index build
    monitors (rounded; its distribution is bound-tested). Encoding is a
    single map over the scan; nothing shuffles but the output ORDER BY
    (which an index writer drops in favor of writing codes next to the
    source partition)."""
    codebooks = pq_fit(spark, sf_dir)
    base = prepped_embeddings(spark, sf_dir)
    coded = with_codes(base, codebooks)
    recon = recon_err_expr(codebooks)
    return coded.select(
        "vec_id",
        "label",
        # csv string, not array<int>: the driver's value hash stringifies
        # cells, and numpy-array vs python-list renderings of the same
        # array column differ between engines — a scalar column compares
        # portably and is the payload an index writer ships anyway
        F.array_join(
            F.transform("codes", lambda c: c.cast("string")), ","
        ).alias("codes"),
        F.round(recon, 4).alias("recon_err"),
    ).orderBy("vec_id")


def recon_err_expr(codebooks):
    """|u - recon|^2 over a ``codes`` column: per subspace |u_m|^2 -
    2 u_m.c + |c|^2, all folds on raw v with scalar 1/nrm applied outside
    the lambda. The codeword dot folds against the SELECTED codeword only
    (element_at into the literal matrix) — the r9 form folded all k
    codewords per subspace and picked one, 16x the float work and a far
    bigger codegen unit. Layout derived from the codebook shape (shared
    by ext_pq_codes and ext_pq_layout_sim)."""
    m_sub, dsub = len(codebooks), len(codebooks[0][0])
    cb = _cb_lit(codebooks)
    err_terms = []
    for m in range(m_sub):
        vm = _sub_slice(m, dsub=dsub)
        um2 = f"aggregate(zip_with({vm}, {vm}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x) / (nrm * nrm)"
        cw = f"element_at(element_at({cb}, {m + 1}), codes[{m}] + 1)"
        dot_c = (
            f"aggregate(zip_with({vm}, {cw}, (x, y) -> x * y),"
            " 0.0D, (acc, x) -> acc + x) / nrm"
        )
        c2 = (
            "element_at(array("
            + ", ".join(f"{sum(x * x for x in c)!r}D" for c in codebooks[m])
            + f"), codes[{m}] + 1)"
        )
        err_terms.append(f"({um2} - 2.0D * {dot_c} + {c2})")
    return F.expr(" + ".join(err_terms))


def _query_units(base: DataFrame) -> dict[int, list[float]]:
    """Collect the query vectors (vec_id < N_QUERIES) as unit vectors —
    bounded driver traffic: N_QUERIES x DIM floats."""
    qrows = (
        base.filter(F.col("vec_id") < N_QUERIES).select("vec_id", "v", "nrm").collect()
    )
    return {r.vec_id: [x / (r.nrm or 1.0) for x in r.v] for r in qrows}


def _adc_tables(units, codebooks):
    """Per-query ADC distance tables T[q][m][c] = |q_m - c|^2 (unit query
    vectors), computed in plain Python: M*k floats per query, once.
    d*d, not d**2: multiplication has ONE defined IEEE result, while **
    routes through libm pow — keeping it a product is what lets the
    DuckDB oracle state the identical table."""
    m_sub, dsub = len(codebooks), len(codebooks[0][0])
    return {
        qid: [
            [
                sum(
                    (u[m * dsub + i] - c[i]) * (u[m * dsub + i] - c[i])
                    for i in range(dsub)
                )
                for c in codebooks[m]
            ]
            for m in range(m_sub)
        ]
        for qid, u in units.items()
    }


def _adc_dist_sql(tab) -> str:
    """sum_m element_at(T_m, codes[m]+1) — the whole per-row ADC cost."""
    return " + ".join(
        f"element_at({lit_array_sql(tab[m])}, codes[{m}] + 1)" for m in range(len(tab))
    )


def _shortlist_topk(scored: DataFrame, n: int) -> DataFrame:
    from pyspark.sql import Window

    wa = Window.partitionBy("query_id").orderBy(
        F.col("approx_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(wa))
        .filter(F.col("rk") <= n)
        .select("query_id", "neighbor_id")
    )


def _rerank_exact(shortlist: DataFrame, base: DataFrame, units) -> DataFrame:
    """Exact-cosine re-rank of an ADC shortlist: join back to (v, nrm),
    score against literal unit query vectors (CASE over query_id, scalar
    1/nrm outside the fold), keep the final TOP_K."""
    from pyspark.sql import Window

    qcos = None
    for qid, u in sorted(units.items()):
        dot = (
            f"aggregate(zip_with(v, {lit_array_sql(u)}, (x, y) -> x * y),"
            " 0.0D, (acc, x) -> acc + x) / nrm"
        )
        e = F.expr(dot)
        qcos = e if qcos is None else F.when(F.col("query_id") == qid, e).otherwise(qcos)
    exact = shortlist.join(
        base.select(F.col("vec_id").alias("neighbor_id"), "v", "nrm"), "neighbor_id"
    ).select("query_id", "neighbor_id", F.round(qcos, 4).alias("cos"))
    wr = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        exact.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "cos")
        .orderBy("query_id", F.col("cos").desc(), "neighbor_id")
    )


def pq_search_tail_sql(
    adcd_body: str, extra: str = "", m_sub: int = _PQ_M, iters: int = _PQ_ITERS
) -> str:
    """Shared oracle tail of the PQ search queries: unit query vectors,
    the per-(query, sub, cell) ADC table (same d*d products and
    left-to-right folds as _adc_tables), the caller-supplied candidate
    scoring relation ``adcd``, the ADC shortlist, and the exact-cosine
    re-rank — each tie broken exactly as the Spark windows break it.
    ``m_sub``/``iters`` select the codebook layout (cb{{iters}} chain)."""
    dsub = DIM // m_sub
    return f"""qunits AS MATERIALIZED (
      SELECT vec_id AS query_id,
             list_transform(v, x -> x / (CASE WHEN nrm = 0.0 THEN 1.0 ELSE nrm END)) AS u
      FROM m2 WHERE vec_id < {N_QUERIES}
    ),
    adct AS MATERIALIZED (
      SELECT q.query_id, c.sub_id, c.cell,
             list_aggregate(
               list_transform(range({dsub}),
                 i -> (q.u[c.sub_id * {dsub} + i + 1] - c.w[i + 1])
                      * (q.u[c.sub_id * {dsub} + i + 1] - c.w[i + 1])),
               'sum') AS t
      FROM qunits q CROSS JOIN cb{iters} c
    ),
    {extra + "," if extra else ""}
    adcd AS MATERIALIZED (
      {adcd_body}
    ),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY approx_dist ASC, neighbor_id) AS rk
        FROM adcd WHERE query_id <> neighbor_id
      ) WHERE rk <= {_PQ_RERANK}
    ),
    rer AS (
      SELECT s.query_id, s.neighbor_id,
             round(list_dot_product(b.v, q.u) / b.nrm, 4) AS cos
      FROM short s
      JOIN m2 b ON b.vec_id = s.neighbor_id
      JOIN qunits q ON q.query_id = s.query_id
    )
    SELECT query_id, neighbor_id, cos FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rk
      FROM rer
    ) WHERE rk <= {TOP_K}
    """


PQ_FLAT_ADCD = """SELECT a.query_id, f.vec_id AS neighbor_id,
             list_aggregate(list(a.t ORDER BY f.sub_id), 'sum') AS approx_dist
      FROM fasg f
      JOIN adct a ON a.sub_id = f.sub_id AND a.cell = f.cell
      GROUP BY a.query_id, f.vec_id"""


@query(
    "ext_pq_topk",
    f"""
    WITH {pq_codebook_sql()},
    {pq_search_tail_sql(PQ_FLAT_ADCD)}
    """,
)
def ext_pq_topk(spark, sf_dir):
    """PQ-ADC candidate scan + exact re-rank (the IVFADC+R shape, Jegou
    et al. 2011 §V): the {N_QUERIES} query vectors (vec_id <
    {N_QUERIES}, same convention as ext_topk_sim_search) are collected
    driver-side, each query's M x k distance table is computed in plain
    Python (M*k floats per query), and the corpus-side scan is ONLY
    `sum_m table[q][m][codes[m]]` — element_at lookups into plan
    literals, zero float folds over embeddings at candidate time. The
    ADC shortlist (top {_PQ_RERANK} per query) is then re-ranked with
    EXACT cosine — float folds run on {N_QUERIES} x {_PQ_RERANK} rows,
    not the corpus. That asymmetry is the point of PQ: per-query float
    math happens once on the driver, the distributed scan touches just
    the codes, and exact math touches just the shortlist.

    Emits (query_id, neighbor_id, cos) — same shape as the exact
    ext_topk_sim_search, so consumers can swap scan for index. Recall
    against the exact top-k is asserted in tests/test_vectors3.py."""
    return pq_topk(spark, sf_dir)


def pq_topk(spark, sf_dir, m_sub: int = _PQ_M, k: int = PQ_K) -> DataFrame:
    """The flat PQ-ADC search pipeline under any (m_sub, k) codebook
    layout — the layout is a PARAMETER through pq_fit/with_codes/
    _adc_tables (all derive shapes from the codebooks), not a code path,
    which is what makes ext_pq_topk_retuned (ext_vectors4) a literal
    change. Called with defaults this IS ext_pq_topk's plan."""
    codebooks = pq_fit(spark, sf_dir, m_sub=m_sub, k=k)
    base = prepped_embeddings(spark, sf_dir)
    coded = with_codes(base, codebooks).select("vec_id", "codes")

    units = _query_units(base)
    tables = _adc_tables(units, codebooks)

    # one literal lookup expression per query, fanned out via explode of a
    # literal struct array: dist_q = sum_m element_at(T_qm, codes[m]+1)
    arms = [
        f"struct({qid}L AS query_id, {_adc_dist_sql(tab)} AS d)"
        for qid, tab in sorted(tables.items())
    ]
    scored = coded.select(
        "vec_id",
        F.explode(F.expr("array(" + ", ".join(arms) + ")")).alias("qd"),
    ).select(
        F.col("qd.query_id").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("qd.d").alias("approx_dist"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    shortlist = _shortlist_topk(scored, _PQ_RERANK)
    return _rerank_exact(shortlist, base, units)


_IVFPQ_N_PROBE = 3  # of _KM_K = 8 coarse cells


def _ivfpq_oracle_sql() -> str:
    """The IVFADC oracle: the PQ codebook chain and the (renamed) k-means
    centroid chain compose in one statement over the shared ``m2`` base;
    per-query probe cells replicate the driver's stable sort (dot DESC,
    cell ASC), and the ADC scan is restricted to rows whose coarse cell
    one of the probing queries selected — exactly the Spark plan's
    null-filtered arm semantics."""
    probes = f"""probes AS MATERIALIZED (
      SELECT query_id, cell FROM (
        SELECT q.query_id, c.cell,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY list_dot_product(q.u, c.w) DESC,
                                           c.cell) AS rk
        FROM qunits q CROSS JOIN km_cent{KM_ITERS} c
      ) WHERE rk <= {_IVFPQ_N_PROBE}
    )"""
    adcd = """SELECT a.query_id, f.vec_id AS neighbor_id,
             list_aggregate(list(a.t ORDER BY f.sub_id), 'sum') AS approx_dist
      FROM fasg f
      JOIN km_massign ma ON ma.vec_id = f.vec_id
      JOIN probes p ON p.cell = ma.cluster_id
      JOIN adct a ON a.query_id = p.query_id
                 AND a.sub_id = f.sub_id AND a.cell = f.cell
      GROUP BY a.query_id, f.vec_id"""
    return f"""
    WITH {pq_codebook_sql()},
    {kmeans_cent_sql(prefix="km_", include_base=False)},
    {pq_search_tail_sql(adcd, extra=probes)}
    """


@query("ext_ivfpq_topk", _ivfpq_oracle_sql())
def ext_ivfpq_topk(spark, sf_dir):
    """IVF + PQ-ADC + exact re-rank — the full IVFADC index shape (Jegou
    et al. 2011 §V; the FAISS IVFxPQy default): a coarse spherical
    k-means quantizer (ext_vectors2.kmeans_fit) routes every corpus
    vector to a cell as a pure map; each query probes only its
    _IVFPQ_N_PROBE closest cells (picked driver-side from the centroid
    literals); the ADC code scan runs ONLY on rows whose cell one of the
    probing queries selected — the per-row candidate set is built with a
    null-filtered literal-array expression, so non-probed (query, row)
    pairs are dropped BEFORE the explode fans them out. The shortlist
    then gets the same exact-cosine re-rank as ext_pq_topk.

    Cost model vs ext_pq_topk (flat ADC): the code scan drops from
    O(N x Q) lookups to O(N x Q x n_probe / n_cells) — with 3/8 probed
    that is ~2.7x fewer ADC evaluations, and the ratio is the tunable
    scale knob (more cells => cheaper scans, lower recall per probe). At
    100 TB the corpus would be WRITTEN partitioned by cell (partition
    pruning replaces the row filter), making each query's scan touch only
    its probed partitions — sub-linear candidate selection with bounded
    per-query float math, exactly the layout an index build ships.

    Recall against the exact scan is asserted in tests/test_vectors3.py
    (losses come from cell misses + quantization, bounded there)."""
    centroids = kmeans_fit(spark, sf_dir)
    codebooks = pq_fit(spark, sf_dir)
    base = prepped_embeddings(spark, sf_dir)
    coded = (
        with_codes(base, codebooks)
        .withColumn("cell", argmax_cell_expr(centroids))
        .select("vec_id", "cell", "codes")
    )

    units = _query_units(base)
    tables = _adc_tables(units, codebooks)
    # per-query probe list: top n_probe cells by centroid dot (driver-side
    # Python over k centroids — k floats per query, no job)
    probes = {
        qid: sorted(
            range(len(centroids)),
            key=lambda c: -sum(x * y for x, y in zip(u, centroids[c])),
        )[:_IVFPQ_N_PROBE]
        for qid, u in units.items()
    }

    # arm per query: NULL unless this row's cell is probed by the query;
    # filter(…, s -> s IS NOT NULL) prunes before the explode fan-out
    arms = [
        f"IF(cell IN ({', '.join(str(c) for c in probes[qid])}),"
        f" struct({qid}L AS query_id, {_adc_dist_sql(tab)} AS d), NULL)"
        for qid, tab in sorted(tables.items())
    ]
    scored = coded.select(
        "vec_id",
        F.explode(
            F.expr("filter(array(" + ", ".join(arms) + "), s -> s IS NOT NULL)")
        ).alias("qd"),
    ).select(
        F.col("qd.query_id").alias("query_id"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("qd.d").alias("approx_dist"),
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    shortlist = _shortlist_topk(scored, _PQ_RERANK)
    return _rerank_exact(shortlist, base, units)
