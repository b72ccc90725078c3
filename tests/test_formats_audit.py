"""Structural invariants for the PERMISSIVE malformed-CSV audit (exact
values are hash-checked against the DuckDB oracle, which predicts the
classification relationally; these assert what must hold on ANY input)."""

from __future__ import annotations

from habits_etl_spark.plans.common import t
from habits_etl_spark.plans.formats_e2e import src_csv_malformed_audit


def test_csv_audit_accounting(spark, sf_dir):
    rows = src_csv_malformed_audit(spark, sf_dir).collect()
    assert rows
    events = t(spark, sf_dir, "events")
    assert sum(r.n_rows for r in rows) == events.count()  # no row lost on disk
    for r in rows:
        # the four classes partition each type's rows exactly
        assert r.n_valid + r.n_too_few + r.n_bad_field + r.n_too_many == r.n_rows
        assert r.n_bad_field > 0  # the injected corruption is detected
        assert r.n_too_few > 0 and r.n_too_many > 0
        assert r.sum_cents_valid > 0
    # classification is deterministic: second run identical
    again = src_csv_malformed_audit(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_orc_roundtrip_removes_scratch_dir_when_write_fails(spark, sf_dir, monkeypatch, tmp_path):
    """A failed round-trip write must not leak its temp directory."""
    import tempfile

    import pytest
    from pyspark.sql import DataFrameWriter

    from habits_etl_spark.plans.formats_e2e import src_orc_roundtrip

    def broken_orc(self, path, *args, **kwargs):
        raise OSError("injected ORC write failure")

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(DataFrameWriter, "orc", broken_orc)
    with pytest.raises(OSError, match="injected"):
        src_orc_roundtrip(spark, sf_dir)
    assert not list(tmp_path.glob("orc_e2e_*"))
