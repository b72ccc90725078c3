"""IVF index lifecycle, decide + audit (r14): the vector index gets the
same maintain -> decide -> audit arc the MinHash dedup index finished in
r13/r14.

- maintain: ext_ivf_delta_maintenance (ext_vectors2, r12) — arrivals
  route into standing cells, per-cell health report gates refits.
- decide:  ext_ivf_partition_sim (here) — every candidate ``nlist``
  evaluated on the actual corpus: occupancy skew, probe scan cost, and
  quantization quality per layout, the measured evidence a re-partition
  rests on (the IVF analogue of ext_minhash_reband_sim).
- audit:   ext_ivf_recall_audit (here) — ground-truth recall of the
  DEPLOYED probe configuration against the exact top-k, per query, per
  missed neighbor (the IVF analogue of ext_reband_recall_audit).

Both ops are oracle-gated end to end: centroids are a deterministic
hash-of-id pick and assignment is an argmax over pinned cells
(ext_vectors.ivf_probe_ctes has carried that parity since r10), so
"approximate" means approximate vs exact ANN, never nondeterministic.

Reference parity: [E] extension (BASELINE north-star similarity-search
family); no reference twin.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from habits_etl_spark.operators.srp import fold_dot
from habits_etl_spark.plans.bases import prepped_embeddings
from habits_etl_spark.plans.common import ORACLES, managed_cache, query
from habits_etl_spark.plans.ext_vectors import (
    IVF_H_DUCK,
    IVF_N_PROBE,
    N_QUERIES,
    TOP_K,
    ext_ann_ivf_probe,
    ext_ann_lsh_bucketed,
    ext_topk_sim_search,
    ivf_pick_assign,
    ivf_probe,
    ivf_probe_ctes,
    ivf_probe_oracle_sql,
)
from habits_etl_spark.plans.ext_vectors3 import (
    PQ_FLAT_ADCD,
    PQ_K,
    ext_pq_topk,
    pq_codebook_sql,
    pq_fit,
    pq_search_tail_sql,
    pq_topk,
    recon_err_expr,
    with_codes,
)

# Candidate nlist layouts the partition sim evaluates — bracketing the
# deployed _IVF_N_CELLS = 16 the way _REBAND_LAYOUTS brackets the 8x2
# banding. At a real re-shard these scale with corpus size (nlist ~
# sqrt(N) is the FAISS rule of thumb); the op is the measurement that
# replaces the rule of thumb.
_IVF_SIM_LAYOUTS = (8, 16, 32)


def _ivf_layout_ctes(c: int) -> str:
    """Per-layout DuckDB CTEs (suffix = nlist) over the shared e/n/tot
    base: hash-pick ``c`` centroids, argmax-assign the corpus, cell
    sizes, and the query probe routing at the deployed IVF_N_PROBE."""
    sim = "list_dot_product({l}.v, {r}.c_v) / ({l}.nrm * {r}.c_nrm)"
    return f"""candc{c} AS (
      SELECT vec_id, v, nrm, {IVF_H_DUCK} AS h
      FROM n CROSS JOIN tot
      WHERE {IVF_H_DUCK} % greatest(total // {c}, 1) < 2
    ),
    cent{c} AS (
      SELECT cell_id, v AS c_v, nrm AS c_nrm FROM (
        SELECT *, row_number() OVER (ORDER BY h, vec_id) - 1 AS cell_id FROM candc{c}
      ) WHERE cell_id < {c}
    ),
    assign{c} AS MATERIALIZED (
      SELECT vec_id, nrm, cell_id, cc FROM (
        SELECT n.vec_id, n.nrm, c.cell_id,
               {sim.format(l='n', r='c')} AS cc,
               row_number() OVER (PARTITION BY n.vec_id
                                  ORDER BY {sim.format(l='n', r='c')} DESC,
                                           c.cell_id) AS rk
        FROM n CROSS JOIN cent{c} c
      ) WHERE rk = 1
    ),
    sizes{c} AS (SELECT cell_id, count(*) AS m FROM assign{c} GROUP BY 1),
    qp{c} AS (
      SELECT query_id, cell_id FROM (
        SELECT nn.vec_id AS query_id, c.cell_id,
               row_number() OVER (PARTITION BY nn.vec_id
                                  ORDER BY ({sim.format(l='nn', r='c')}) DESC,
                                           c.cell_id) AS rk
        FROM n nn CROSS JOIN cent{c} c WHERE nn.vec_id < {N_QUERIES}
      ) WHERE rk <= {IVF_N_PROBE}
    )"""


def _ivf_sim_sql() -> str:
    layout_ctes = ",\n    ".join(_ivf_layout_ctes(c) for c in _IVF_SIM_LAYOUTS)
    reports = "\n    UNION ALL\n    ".join(
        f"""SELECT {c} AS n_cells,
      (SELECT CAST(count(*) AS BIGINT) FROM sizes{c}) AS occupied_cells,
      (SELECT CAST(max(m) AS BIGINT) FROM sizes{c}) AS max_cell,
      (SELECT CAST(sum(s.m) AS BIGINT)
       FROM qp{c} q JOIN sizes{c} s USING (cell_id)) AS probe_scan_rows,
      (SELECT round(CAST(sum(CAST(cc AS DECIMAL(28,12))) AS DOUBLE)
                    / count(*), 4) FROM assign{c}) AS mean_cos_to_centroid"""
        for c in _IVF_SIM_LAYOUTS
    )
    return f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS MATERIALIZED (
      SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ),
    tot AS (SELECT count(*) AS total FROM e),
    {layout_ctes}
    SELECT * FROM (
    {reports}
    ) ORDER BY n_cells
    """


@query("ext_ivf_partition_sim", _ivf_sim_sql())
def ext_ivf_partition_sim(spark, sf_dir):
    """IVF re-partition simulation (r14): every candidate ``nlist`` in
    {_IVF_SIM_LAYOUTS} evaluated on the actual corpus — per layout its
    occupied cell count, max cell occupancy (the skew the probe's tail
    latency rides on), the measured probe scan cost (rows the
    {N_QUERIES} standing queries would touch at the deployed
    n_probe={IVF_N_PROBE}), and the decimal-exact mean
    member-to-centroid cosine (what coarser cells COST in quantization
    quality). The delta-maintenance report says WHEN the index needs
    attention; this table says which nlist to rebuild at — measured
    evidence, not the sqrt(N) rule of thumb.

    Scale: each layout costs ONE corpus scan against nlist broadcast
    centroid literals (assignment is embarrassingly parallel) plus a
    cell-sized aggregation; no layout ever shuffles the vectors. At
    100 TB this is exactly the affordable experiment: scan the standing
    corpus k times vs committing a wrong nlist to a full re-shard.
    Oracle: the shared hash-pick/argmax chain per layout (suffixed CTEs
    over one e/n/tot base). Reference parity: [E] extension; no
    reference twin."""
    total = prepped_embeddings(spark, sf_dir).count()
    reports = []
    for c in _IVF_SIM_LAYOUTS:
        assigned, cents = ivf_pick_assign(spark, sf_dir, c, total=total)
        # r15 (guide §2.4, VERDICT r14 #2): the three aggregate branches
        # (occupancy, probe scan, quality) used to each re-read the cached
        # assignment — three corpus passes per layout. ONE
        # groupBy(cell_id) pass now computes per-cell occupancy AND the
        # per-cell decimal cos sum; everything downstream (occ/max,
        # mean cos, probe scan rows) derives from this ≤ n_cells-row
        # relation. Decimal sums are exact and associative, so
        # sum-of-per-cell-sums ≡ the old global sum, bit-for-bit.
        cellstats = managed_cache(
            assigned.groupBy("cell_id").agg(
                F.count(F.lit(1)).alias("m"),
                F.sum(F.col("cell_cos").cast("decimal(28,12)")).alias("s"),
            ),
            f"ivf_sim.cellstats{c}:{sf_dir}",
        )
        sizes = cellstats.select("cell_id", "m")
        occ = cellstats.agg(
            F.count(F.lit(1)).cast("bigint").alias("occupied_cells"),
            F.max("m").cast("bigint").alias("max_cell"),
        )
        dot_qc = fold_dot(F.col("v"), F.col("c_v"))
        w_probe = Window.partitionBy("query_id").orderBy(
            F.col("__sim").desc(), F.col("cell_id")
        )
        qp = (
            prepped_embeddings(spark, sf_dir)
            .filter(F.col("vec_id") < N_QUERIES)
            .select(F.col("vec_id").alias("query_id"), "v", "nrm")
            .crossJoin(F.broadcast(cents))
            .withColumn("__sim", dot_qc / (F.col("nrm") * F.col("c_nrm")))
            .withColumn("__rk", F.row_number().over(w_probe))
            .filter(F.col("__rk") <= IVF_N_PROBE)
            .select("query_id", "cell_id")
        )
        scan = qp.join(F.broadcast(sizes), "cell_id").agg(
            F.sum("m").cast("bigint").alias("probe_scan_rows")
        )
        # mean cos from the same cellstats pass: sum(s) is the exact
        # decimal total of cell_cos over the corpus and sum(m) the exact
        # row count, so cast(sum(s) as double) / sum(m) is the identical
        # double division the old assigned-wide aggregate performed.
        quality = cellstats.agg(
            F.round(
                F.sum("s").cast("double") / F.sum("m"),
                4,
            ).alias("mean_cos_to_centroid")
        )
        reports.append(
            occ.crossJoin(scan).crossJoin(quality).select(
                F.lit(c).alias("n_cells"),
                "occupied_cells", "max_cell",
                "probe_scan_rows", "mean_cos_to_centroid",
            )
        )
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out.orderBy("n_cells")


# The layout the partition sim's decision table points to on this corpus:
# nlist=32 scans ~4x fewer rows per probe than nlist=8 (645 vs 2506 at
# sf0.01) at the deployed n_probe, with BETTER quantization fit (mean cos
# 0.31 vs 0.20) — finer cells win on both axes until occupancy ~ n_probe.
_IVF_RETUNE_CELLS = 32


@query(
    "ext_ann_ivf_probe_retuned",
    ivf_probe_oracle_sql(n_cells=_IVF_RETUNE_CELLS),
)
def ext_ann_ivf_probe_retuned(spark, sf_dir):
    """The IVF re-partition decision EXECUTED (r14, the vector twin of
    ext_near_dedup_minhash_rebanded): the identical probe pipeline under
    the nlist={_IVF_RETUNE_CELLS} layout ext_ivf_partition_sim's table
    selects — a re-partition is a parameter change through the shared
    ivf_probe / ivf_probe_ctes pair, not a new code path. With
    maintenance (when), the partition sim (which nlist), the recall
    audit (what the deployed layout misses), and this id (the retuned
    index itself), the vector index lifecycle is executable end to end.

    Scale: identical shape to the deployed probe — one corpus scan
    against broadcast centroids, query cost O(N * n_probe / n_cells),
    so the finer layout cuts probed rows ~4x on this corpus. Oracle:
    the shared CTE chain under the retuned layout literal. Reference
    parity: [E] extension; no reference twin."""
    return ivf_probe(spark, sf_dir, n_cells=_IVF_RETUNE_CELLS)


def _ivf_audit_sql() -> str:
    return f"""
    WITH {ivf_probe_ctes()},
    probe AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rk
        FROM scored
      ) WHERE rk <= {TOP_K}
    ),
    ex_scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos
      FROM n a JOIN n b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    ),
    exact AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS exact_rk
      FROM ex_scored
    )
    SELECT x.query_id, x.neighbor_id, x.cos,
           CAST(x.exact_rk AS BIGINT) AS exact_rk,
           (p.neighbor_id IS NOT NULL) AS found
    FROM exact x LEFT JOIN probe p USING (query_id, neighbor_id)
    WHERE x.exact_rk <= {TOP_K}
    ORDER BY x.query_id, x.exact_rk
    """


@query("ext_ivf_recall_audit", _ivf_audit_sql())
def ext_ivf_recall_audit(spark, sf_dir):
    """Measured recall audit of the deployed IVF configuration (r14):
    for every TRUE top-{TOP_K} neighbor (exact brute-force cosine),
    whether the standing probe (nlist=16, n_probe={IVF_N_PROBE}) also
    surfaced it — the per-miss loss list a deployment reviews before
    trusting (or re-partitioning) its index, and the ground truth the
    partition sim's scan-cost table trades against. recall@k is
    ``avg(found)``; each miss names the query, the neighbor, and its
    exact rank/cosine, which is what makes the number actionable
    (misses at rank 5 and cos 0.41 are tolerable; at rank 1 and 0.9
    they are not).

    Scale: the exact side is the broadcast-queries x corpus scan the
    audit needs as ground truth — priced for a SAMPLED query set (the
    standing {N_QUERIES} queries here), never the full corpus; the
    probe side reuses the standing index. The audit joins two
    query-bounded top-k relations (k rows per query each) — the join is
    trivially broadcast. Oracle: the shared probe CTE chain plus the
    exact chain over the same normed base. Reference parity: [E]
    extension; no reference twin."""
    return _recall_audit_frame(spark, sf_dir, ext_ann_ivf_probe(spark, sf_dir))


def _recall_audit_frame(spark, sf_dir, probe_df):
    """Shared audit plan: exact top-k ground truth LEFT JOIN the probe's
    (query_id, neighbor_id) pairs -> per-true-neighbor ``found`` flag.
    One implementation for every index family's audit (IVF / PQ / SRP),
    so the audits cannot drift from each other."""
    exact = ext_topk_sim_search(spark, sf_dir).select(
        "query_id", "neighbor_id", "cos",
        F.col("rk").cast("bigint").alias("exact_rk"),
    )
    probe = probe_df.select(
        "query_id", F.col("neighbor_id").alias("p_neighbor_id")
    )
    return (
        exact.join(
            F.broadcast(probe),
            (exact["query_id"] == probe["query_id"])
            & (exact["neighbor_id"] == probe["p_neighbor_id"]),
            "left",
        )
        .select(
            exact["query_id"], "neighbor_id", "cos", "exact_rk",
            F.col("p_neighbor_id").isNotNull().alias("found"),
        )
        .orderBy("query_id", "exact_rk")
    )


def _composed_audit_sql(probe_oracle_id: str) -> str:
    """Recall-audit oracle by composing two REGISTERED oracle statements
    verbatim as subqueries (DuckDB nested-WITH; the
    ext_classifier_calibration pattern) — the audit cannot drift from
    the probe chain it measures."""

    exact_sql = ORACLES["ext_topk_sim_search"]
    probe_sql = ORACLES[probe_oracle_id]
    return f"""
    WITH ex AS (FROM ({exact_sql})),
    pr AS (FROM ({probe_sql}))
    SELECT ex.query_id, ex.neighbor_id, ex.cos,
           CAST(ex.rk AS BIGINT) AS exact_rk,
           (pr.neighbor_id IS NOT NULL) AS found
    FROM ex LEFT JOIN pr
      ON pr.query_id = ex.query_id AND pr.neighbor_id = ex.neighbor_id
    ORDER BY ex.query_id, exact_rk
    """


@query("ext_pq_recall_audit", _composed_audit_sql("ext_pq_topk"))
def ext_pq_recall_audit(spark, sf_dir):
    """Measured recall audit of the PQ/ADC search (r14): per true
    exact-top-k neighbor, whether ``ext_pq_topk``'s quantized scan +
    exact re-rank surfaced it. PQ's loss mechanism differs from IVF's
    (code-space distortion vs cell misses), so it gets its own measured
    number — with this and the SRP audit below, every ANN family (IVF /
    PQ / SRP-LSH) carries a ground-truth recall table next to its index,
    the same shape the dedup index got in r14. Plan and oracle are the
    shared audit builders (one implementation, composed registered
    statements). Reference parity: [E] extension; no reference twin."""

    return _recall_audit_frame(spark, sf_dir, ext_pq_topk(spark, sf_dir))


# Candidate PQ layouts the layout sim evaluates — subspace counts
# bracketing the deployed _PQ_M = 8 at the fixed k=16 (4-bit) codebook.
# The decision axis is bytes-per-code vs quantization distortion: more
# subspaces = longer codes = finer reconstruction.
_PQ_SIM_LAYOUTS = (4, 8, 16)


def _pq_layout_report_sql(m_sub: int) -> str:
    """One layout's report row: the full codebook chain for ``m_sub``
    runs inside a derived-table WITH (the _composed_audit_sql nesting
    trick — per-layout CTE names cannot collide), ending in the same
    per-vector recon_err relation ext_pq_codes emits, aggregated to one
    row. Every aggregate is cross-engine exact: the per-vector err is
    rounded to 4 (the grain ext_pq_codes' hash already proves portable),
    the mean folds decimal-cast rounded values, max is order-free."""

    bits = (PQ_K - 1).bit_length()  # bits per code = log2(k)
    return f"""SELECT {m_sub} AS m_sub,
      {m_sub * bits} AS code_bits,
      {m_sub * PQ_K} AS table_floats,
      vectors, mean_recon_err, max_recon_err
    FROM (
      WITH {pq_codebook_sql(m_sub=m_sub)},
      recon AS (
        SELECT vec_id,
               round(list_aggregate(list(term ORDER BY sub_id), 'sum'), 4) AS err4
        FROM (
          SELECT vec_id, sub_id,
                 (list_dot_product(sv, sv) / (nrm * nrm))
                 - 2.0 * (list_dot_product(sv, cw) / nrm)
                 + list_aggregate(list_transform(cw, x -> x * x), 'sum') AS term
          FROM fasg
        ) GROUP BY vec_id
      )
      SELECT CAST(count(*) AS BIGINT) AS vectors,
             round(CAST(sum(CAST(err4 AS DECIMAL(28,12))) AS DOUBLE)
                   / count(*), 6) AS mean_recon_err,
             max(err4) AS max_recon_err
      FROM recon
    )"""


def _pq_sim_sql() -> str:
    reports = "\n    UNION ALL\n    ".join(
        _pq_layout_report_sql(m) for m in _PQ_SIM_LAYOUTS
    )
    return f"SELECT * FROM (\n    {reports}\n    ) ORDER BY m_sub"


@query("ext_pq_layout_sim", _pq_sim_sql())
def ext_pq_layout_sim(spark, sf_dir):
    """PQ re-layout simulation (r14): every candidate subspace count in
    {_PQ_SIM_LAYOUTS} trained and scored on the actual corpus — per
    layout its code size (bits per vector), ADC table size (floats per
    query), and the measured quantization distortion (mean + max
    per-vector reconstruction error of the unit vectors). This is the
    PQ analogue of ext_ivf_partition_sim: the table that replaces the
    'm = d/8' rule of thumb with measured evidence before a re-encode
    of the standing code column.

    Scale: each layout is one pq_fit (three Lloyd rounds, map-side
    partials, M x k x dsub driver traffic) plus ONE encode+score map
    over the corpus — no layout shuffles the vectors; the corpus is
    scanned a constant number of times per candidate, which is the
    affordable experiment vs re-encoding 100 TB at a wrong m. Oracle:
    the per-layout codebook chain nested in a derived table (CTE names
    scoped per layout), aggregated over the SAME rounded per-vector
    error grain ext_pq_codes' hash already proves portable. Reference
    parity: [E] extension; no reference twin."""

    base = prepped_embeddings(spark, sf_dir)
    reports = []
    for m_sub in _PQ_SIM_LAYOUTS:
        codebooks = pq_fit(spark, sf_dir, m_sub=m_sub)
        err4 = F.round(recon_err_expr(codebooks), 4)
        reports.append(
            with_codes(base, codebooks)
            .select(err4.alias("err4"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("vectors"),
                F.round(
                    F.sum(F.col("err4").cast("decimal(28,12)")).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("mean_recon_err"),
                F.max("err4").alias("max_recon_err"),
            )
            .select(
                F.lit(m_sub).alias("m_sub"),
                F.lit(m_sub * (PQ_K - 1).bit_length()).alias("code_bits"),
                F.lit(m_sub * PQ_K).alias("table_floats"),
                "vectors", "mean_recon_err", "max_recon_err",
            )
        )
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out.orderBy("m_sub")


# The layout the PQ sim's table points to on this corpus: m=16 halves
# the mean reconstruction distortion vs the deployed m=8 (0.327 vs
# 0.566 at sf0.01, max 0.45 vs 0.73) for 2x the code bytes (8 vs 4) —
# and the ADC scan cost per row is still m element_at lookups, so the
# scan stays code-bound, not float-bound.
_PQ_RETUNE_M = 16


def _pq_retuned_oracle_sql() -> str:
    return f"""
    WITH {pq_codebook_sql(m_sub=_PQ_RETUNE_M)},
    {pq_search_tail_sql(PQ_FLAT_ADCD, m_sub=_PQ_RETUNE_M)}
    """


@query("ext_pq_topk_retuned", _pq_retuned_oracle_sql())
def ext_pq_topk_retuned(spark, sf_dir):
    """The PQ re-layout decision EXECUTED (r14, completing the third
    index family's lifecycle): the identical flat ADC + exact-re-rank
    pipeline under the m={_PQ_RETUNE_M} layout ext_pq_layout_sim's
    table selects — a re-encode is a parameter change through the
    shared pq_fit / with_codes / _adc_tables / pq_topk builders, not a
    new code path. With the layout sim (which m), the recall audit
    (what the deployed codes miss), and this id (the retuned index
    itself), PQ now has the same decide -> audit -> retune arc as the
    MinHash and IVF indexes.

    Scale: identical shape to ext_pq_topk — per-query float math on the
    driver, a code-only corpus scan ({_PQ_RETUNE_M} element_at lookups
    per row), exact folds only on the shortlist. Oracle: the shared
    codebook + search-tail chains under the retuned layout literals.
    Reference parity: [E] extension; no reference twin."""

    return pq_topk(spark, sf_dir, m_sub=_PQ_RETUNE_M)


@query("ext_lsh_recall_audit", _composed_audit_sql("ext_ann_lsh_bucketed"))
def ext_lsh_recall_audit(spark, sf_dir):
    """Measured recall audit of the SRP-LSH bucketed search (r14): per
    true exact-top-k neighbor, whether ``ext_ann_lsh_bucketed``'s band
    join surfaced it. SRP's loss mechanism is the band s-curve (a
    near-neighbor whose signs differ in every band), so its misses
    cluster at LOW cosines — the opposite tail from PQ distortion —
    which is exactly why each family needs its own table. Shared audit
    builders as above. Reference parity: [E] extension; no reference
    twin."""

    return _recall_audit_frame(spark, sf_dir, ext_ann_lsh_bucketed(spark, sf_dir))
