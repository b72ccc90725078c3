"""MinHash + LSH near-duplicate kernel over word-shingle sets, in Spark
and as the DuckDB CTE twin the oracles share.

md5-based hash permutations keep it engine-portable (same signatures in
DuckDB), unlike engine-specific hash() functions. DataFrames, Columns and
SQL strings in and out: the caller supplies the document relation and
owns any caching.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_BANDS = 8  # MinHash LSH bands
BAND_ROWS = 2  # hashes per band (b=8, r=2 -> s-curve threshold ~0.35)
JACCARD_THRESHOLD = 0.7
SHINGLE_N = 3  # word n-gram shingle width
N_HASHES = N_BANDS * BAND_ROWS

# word n-gram shingles, both engines (1-based element access in each)
_SHINGLE_DUCK = (
    "list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]"
    " for i in range(1, len(w) - 1)])"
)

# Broder-style minhash: ONE md5 per shingle -> 32-bit integer x, then
# N_HASHES universal-hash 'permutations' h_i(x) = (a_i*x + b_i) mod p.
# 16x less hashing than md5-per-permutation on the hottest stage, still
# engine-portable (identical integer arithmetic in Spark SQL and DuckDB;
# a_i < 2^31 and x < 2^32 keep a_i*x + b_i < 2^63, no BIGINT overflow
# under ANSI mode).
_MH_P = 4294967311  # prime > 2^32


def _mh_params(i: int) -> tuple[int, int]:
    a = (2654435761 * (i + 1)) % 2147483647 or 1  # Knuth multiplicative
    b = (97531 * (i + 1) + 12345) % _MH_P
    return a, b


# x = first 8 hex chars of md5(shingle) as an integer, computed once per
# shingle row in the sh relation of both engines. MD5_X_SQL is the Spark
# form over a shingle string ``s``.
_X_DUCK = "CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)"
MD5_X_SQL = "cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint)"


def _minhash_sql_sigs():
    """Per-doc signature columns from the xs array — a list fold per
    permutation, no unnest/GROUP BY."""
    parts = []
    for h in range(N_HASHES):
        a, b = _mh_params(h)
        parts.append(
            f"list_aggregate(list_transform(xs, x -> ({a} * x + {b}) % {_MH_P}), 'min') AS m{h}"
        )
    return ",\n             ".join(parts)


def _band_sql(
    alias: str = "sig", n_bands: int = N_BANDS, band_rows: int = BAND_ROWS
):
    """Band-table SQL for any (b x r) partition of the signature minima
    (r14: parameterized so a re-banded layout — the ext_minhash_reband_sim
    decision — is the same chain with different literals)."""
    assert n_bands * band_rows <= N_HASHES
    return " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat_ws(':', {cols}) AS v FROM {alias}".format(
            b=b,
            cols=", ".join(f"m{band_rows * b + j}" for j in range(band_rows)),
            alias=alias,
        )
        for b in range(n_bands)
    )


def minhash_ctes(n_bands: int = N_BANDS, band_rows: int = BAND_ROWS) -> str:
    """The MinHash pipeline's CTE chain under a given (b x r) banding,
    shared between the ext_near_dedup_minhash oracle, the dup-clusters
    recursive oracle, and (r14) the re-banded dedup twin. Mirrors the
    Spark topology: shingle ARRAYS stay packed per doc (no corpus-wide
    unnest); only candidate pairs compare full shingle sets."""
    return f"""words AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
    ),
    base AS (
      SELECT doc_id, {_SHINGLE_DUCK} AS sh_arr FROM words WHERE len(w) >= {SHINGLE_N}
    ),
    xs AS (
      SELECT doc_id, sh_arr, len(sh_arr) AS n,
             list_transform(sh_arr, shingle -> {_X_DUCK}) AS xs
      FROM base
    ),
    sig AS (
      SELECT doc_id,
             {_minhash_sql_sigs()}
      FROM xs
    ),
    bands AS (
      {_band_sql(n_bands=n_bands, band_rows=band_rows)}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(a.sh_arr, b.sh_arr)) AS n_common,
             a.n AS na, b.n AS nb
      FROM cand c
      JOIN xs a ON a.doc_id = c.doc_a
      JOIN xs b ON b.doc_id = c.doc_b
    )"""


MINHASH_CTES = minhash_ctes()

MINHASH_FINAL = f"""SELECT doc_a, doc_b,
           round(CAST(n_common AS DOUBLE) / (na + nb - n_common), 4) AS jaccard
    FROM inter
    WHERE CAST(n_common AS DOUBLE) / (na + nb - n_common) >= {JACCARD_THRESHOLD}"""


def shingle_arrays(docs: DataFrame, x_sql: str) -> DataFrame:
    """Packed per-doc relation (doc_id, sh_arr, n, xs) from (doc_id,
    text): the distinct word shingles, their count, and each shingle
    mapped by ``x_sql`` (over a shingle string ``s``) to the 32-bit
    integer the permutations hash. The signature stage and both verify
    arms start from it, so callers cache it."""
    # Materialize the word array once per doc BEFORE indexing into it:
    # element_at() inside the transform lambda would otherwise re-evaluate
    # split() per shingle position (O(doc_len^2) per document).
    words = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("w")
    )
    # Higher-order-function expressions are built as SQL strings, not
    # python-lambda Columns: each F.transform(..., lambda ...) costs
    # dozens of py4j round trips (profiled: 16 perm lambdas alone =
    # 0.37s of plan-BUILD time per invocation); F.expr is one parse.
    shingles = F.expr(
        "array_distinct(transform("
        f"sequence(1, size(w) - {SHINGLE_N - 1}), "
        "i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1), "
        "element_at(w, i + 2))))"
    )
    return (
        words.filter(F.size("w") >= SHINGLE_N)
        .select("doc_id", shingles.alias("sh_arr"))
        .withColumn("n", F.size("sh_arr"))
        .withColumn("xs", F.expr(f"transform(sh_arr, s -> {x_sql})"))
    )


def _perm_col(h: int) -> Column:
    a, b = _mh_params(h)
    return F.expr(
        f"array_min(transform(xs, x -> ({a}L * x + {b}L) % {_MH_P}L))"
    ).alias(f"m{h}")


def signatures(base: DataFrame) -> DataFrame:
    """(doc_id, m0..m{N_HASHES-1}) signature minima of a shingle_arrays
    relation — a pure map, no explode, no shuffle."""
    return base.select("doc_id", *[_perm_col(h) for h in range(N_HASHES)])


def band_rows_from(base: DataFrame, n_bands: int = N_BANDS, band_rows: int = BAND_ROWS):
    """(doc_id, band, v) LSH band rows from the packed base relation —
    the standing band TABLE a deployed dedup index materializes — under
    any (b x r) partition of the signature minima (r14: parameterized so
    the re-band decision is executable, not just simulated)."""
    assert n_bands * band_rows <= N_HASHES
    sig = signatures(base)
    # One pass, not a b-way union: explode an array of (band, value)
    # structs. A union of b selects re-evaluates the signature subtree
    # once per arm on EACH side of the self-join below (2b scans + 2b
    # stages of scheduling) — measured 2.8s vs 0.48s at sf0.1.
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ":",
                            *[
                                F.col(f"m{band_rows * b + j}")
                                for j in range(band_rows)
                            ],
                        ).alias("v"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "bv.band", "bv.v")


def near_dedup_pairs(
    base: DataFrame, n_bands: int = N_BANDS, band_rows: int = BAND_ROWS
) -> DataFrame:
    """(doc_a, doc_b, jaccard) pairs at Jaccard >= JACCARD_THRESHOLD from
    a shingle_arrays relation: LSH band self-join for candidates, then
    exact verification. ``n_bands x band_rows`` selects the LSH layout
    over the same signature minima (default = the registered 8x2)."""
    bands = band_rows_from(base, n_bands, band_rows)
    a = bands.alias("a")
    bb = bands.alias("b")
    cand = (
        a.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return verify_jaccard(base, cand, "sh_arr", JACCARD_THRESHOLD)


def verify_jaccard(arrays: DataFrame, cand: DataFrame, arr: str, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard) for the (doc_a, doc_b) candidate pairs whose
    exact set Jaccard reaches ``threshold``; ``arrays`` holds each doc's
    distinct-element array ``arr`` and its size ``n``."""
    arr_a = arrays.select(
        F.col("doc_id").alias("doc_a"), F.col(arr).alias("arr_a"), F.col("n").alias("na")
    )
    arr_b = arrays.select(
        F.col("doc_id").alias("doc_b"), F.col(arr).alias("arr_b"), F.col("n").alias("nb")
    )
    # The candidate ID-PAIR list is collision-sized: broadcast it against
    # the corpus arrays so the big side never shuffles in the first
    # lookup. The second lookup's left side carries the matched docs'
    # arrays — roughly the duplicate documents' text, UNBOUNDED in
    # exactly the duplicate-heavy corpus dedup targets — so it gets NO
    # forced broadcast: AQE sees its actual runtime size and broadcasts
    # when genuinely small, shuffles when not (a forced hint here would
    # hard-fail on the 8 GB broadcast limit at scale).
    inter = (
        arr_a.join(F.broadcast(cand), "doc_a")
        .join(arr_b, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("arr_a", "arr_b")))
    )
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )
