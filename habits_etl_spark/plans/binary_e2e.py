"""End-to-end coverage, wave 23: the binary-file ingest path driven as
an oracle-gated query, and snapshot time travel on the manifest sink.

``src_binaryfile_scan`` is the front door of the multimodal story
(multimodal/__init__.py): real bytes land as FILES, Spark's
``binaryFile`` source lists and reads them as (path, content) rows,
and magic-byte MIME sniffing classifies payloads without a decode.
The oracle does not read the files — it reconstructs every expected
(name, size, content-hash, mime) tuple relationally from the
``documents`` table the fixtures were derived from, so a torn write,
a truncated read, or a mis-sniffed signature cannot hash-match.

``sink_manifest_time_travel`` drives the one manifest capability the
registered e2e (manifest_e2e.py) leaves untested: reading the table AS
OF an older committed version after later overwrites — the audit /
reproduce-yesterday's-training-set operation that motivates manifest
commits over directory listings in the first place.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from habits_etl_spark.multimodal import sniff_mime
from habits_etl_spark.plans.common import query, scratch_result, t
from habits_etl_spark.sinks import manifest as M

# Fixture construction shared (by value) with the oracle below: payload =
# magic prefix + UTF-8 text, cycling PNG / RIFF-WAVE / bare text.
_N_BIN_DOCS = 24
_PNG_HEX = "89504E470D0A1A0A"
_WAV_HEX = "524946462020202057415645"  # RIFF....WAVE (probe at offset 8)


@query(
    "src_binaryfile_scan",
    f"""
    WITH fx AS (
      SELECT doc_id,
             printf('doc_%04d.bin', doc_id) AS file_name,
             CASE doc_id % 3
               WHEN 0 THEN from_hex('{_PNG_HEX}') || encode(text)
               WHEN 1 THEN from_hex('{_WAV_HEX}') || encode(text)
               ELSE encode(text)
             END AS content,
             CASE doc_id % 3
               WHEN 0 THEN 'image/png'
               WHEN 1 THEN 'audio/wav'
               ELSE 'application/octet-stream'
             END AS sniffed_mime
      FROM documents WHERE doc_id < {_N_BIN_DOCS}
    )
    SELECT file_name,
           CAST(octet_length(content) AS BIGINT) AS n_bytes,
           md5(hex(content)) AS content_md5,
           sniffed_mime
    FROM fx ORDER BY file_name
    """,
)
def src_binaryfile_scan(spark, sf_dir):
    """Binary ingest end-to-end: materialize {_N_BIN_DOCS} payload
    files (magic prefix + document text, cycling PNG / RIFF-WAVE /
    bare bytes), scan them with Spark's ``binaryFile`` source, and
    emit each file's name, size, content hash, and magic-sniffed MIME
    (multimodal.sniff_mime — including the RIFF probe-at-offset case).
    The oracle rebuilds the identical tuples from ``documents``
    relationally, so the equality proves the bytes survived the
    file write → distributed read round trip intact.

    Scale: binaryFile is a real FileFormat — listing parallelizes,
    each file is one row in one task, and
    ``spark.sql.files.maxPartitionBytes`` packs small payloads into
    shared tasks; sniffing is hex/substring expressions inside
    whole-stage codegen (zero Python on the read path). The hash
    compares md5 of the HEX of the content in both engines (DuckDB's
    blob→VARCHAR cast escapes bytes, so hashing the blob's hex is the
    portable form)."""

    docs = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _N_BIN_DOCS)
        .select("doc_id", "text")
        .collect()
    )  # bounded fixture set ({_N_BIN_DOCS} rows) — driver-side by design

    def build(tmp):
        for r in docs:
            body = r.text.encode("utf-8")
            if r.doc_id % 3 == 0:
                body = bytes.fromhex(_PNG_HEX) + body
            elif r.doc_id % 3 == 1:
                body = bytes.fromhex(_WAV_HEX) + body
            with open(os.path.join(tmp, f"doc_{r.doc_id:04d}.bin"), "wb") as f:
                f.write(body)
        scanned = spark.read.format("binaryFile").load(tmp)
        return (
            sniff_mime(scanned, "content")
            .select(
                F.substring_index("path", "/", -1).alias("file_name"),
                F.col("length").cast("bigint").alias("n_bytes"),
                F.md5(F.hex("content")).alias("content_md5"),
                "sniffed_mime",
            )
            .orderBy("file_name")
        )

    return scratch_result(spark, "binaryfile_e2e_", build)


@query(
    "sink_manifest_time_travel",
    """
    WITH v1 AS (
      SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_rows,
             round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
               AS sum_value
      FROM events WHERE user_id % 5 = 0
    ),
    v2 AS (
      SELECT 2 AS version, CAST(count(*) AS BIGINT) AS n_rows,
             round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
               AS sum_value
      FROM events WHERE user_id % 5 IN (0, 1)
    ),
    v3 AS (
      SELECT 3 AS version, CAST(count(*) AS BIGINT) AS n_rows,
             round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
               AS sum_value
      FROM events WHERE user_id % 5 = 2
    )
    SELECT * FROM v1 UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM v3
    ORDER BY version
    """,
)
def sink_manifest_time_travel(spark, sf_dir):
    """Snapshot time travel: commit three manifest versions (overwrite,
    append, overwrite) and read EVERY version back AS OF its commit —
    including the two superseded ones — via
    ``read_snapshot(version=...)``. The oracle recomputes each
    version's expected state from the source predicates, so a vacuumed,
    overwritten, or cross-contaminated historical read cannot match.
    This is the reproduce-yesterday's-training-set / audit operation
    that justifies manifest commits: after the v3 overwrite the v1/v2
    data files are unreferenced by the CURRENT pointer yet still
    readable through their manifests until retention vacuums them.

    Scale: time travel is O(1) — resolving one older manifest file;
    the historical read plans from that immutable file list exactly
    like a current read (no directory listing, no tombstone replay)."""
    e = t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "value")

    def build(tmp):
        table = os.path.join(tmp, "events_tt")
        M.overwrite_snapshot(spark, e.filter(F.col("user_id") % 5 == 0), table)
        M.append_snapshot(spark, e.filter(F.col("user_id") % 5 == 1), table)
        M.overwrite_snapshot(spark, e.filter(F.col("user_id") % 5 == 2), table)
        parts = []
        for v in (1, 2, 3):
            snap = M.read_snapshot(spark, table, version=v)
            parts.append(
                snap.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                    F.round(
                        F.sum(F.col("value").cast("decimal(18,6)")).cast("double"),
                        4,
                    ).alias("sum_value"),
                ).select(
                    F.lit(v).cast("int").alias("version"), "n_rows", "sum_value"
                )
            )
        return parts[0].unionByName(parts[1]).unionByName(parts[2]).orderBy("version")

    return scratch_result(spark, "manifest_tt_", build)
