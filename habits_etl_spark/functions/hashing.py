"""Deterministic content hashing (reference etl/transform.py:16-18).

The reference hashes ``json.dumps(row, sort_keys=True, ensure_ascii=False)``
with SHA-256. The engine equivalent sorts struct fields by name *before*
``to_json`` (Spark preserves struct field order in JSON output), giving a
stable canonical form for arbitrary-width rows.

``md5_int`` is the salted-md5 integer every hash split, hash sample and
seed pick in ``plans/`` keys on: engine-portable, so each is restated in
DuckDB as ``CAST(('0x' || substr(md5(...), 1, n)) AS BIGINT)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def row_hash_expr(df: DataFrame, cols: list[str] | None = None) -> Column:
    """SHA-256 hex digest of the row's JSON form with sorted keys."""
    names = sorted(cols if cols is not None else df.columns)
    return F.sha2(F.to_json(F.struct(*[F.col(n) for n in names])), 256)


def canonical_hash_expr(*cols: Column) -> Column:
    """SHA-256 over a '\\x1f'-joined canonical string of the given columns —
    an engine-portable variant (same result in any engine with sha256 +
    concat) used where cross-engine hash equality matters."""
    parts = [F.coalesce(c.cast("string"), F.lit("\x00")) for c in cols]
    return F.sha2(F.concat_ws("\x1f", *parts), 256)


def md5_int(*parts: Column | str, hex_digits: int = 8) -> Column:
    """BIGINT of the first ``hex_digits`` hex digits of md5(concat(parts)).
    A ``str`` part is a literal (the salt); a ``Column`` part is used as
    is, so non-string keys must be cast by the caller. 8 digits give a
    uniform 32-bit integer, 12 digits a 48-bit one."""
    cols = [F.lit(p) if isinstance(p, str) else p for p in parts]
    return F.conv(F.substring(F.md5(F.concat(*cols)), 1, hex_digits), 16, 10).cast(
        "bigint"
    )
