"""The ledger's per-id oracle check (tools/check_correctness.check_one),
also run by bench.py's correctness extras: a fingerprint match passes; a
dropped oracle row or an id that changes the session conf fails."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from check_correctness import check_one, oracle_con  # noqa: E402

from habits_etl_spark.plans import ORACLES, QUERIES  # noqa: E402
from habits_etl_spark.session import conf_scope  # noqa: E402

QID = "agg_daily_rollup"


@pytest.fixture(scope="module")
def con(sf_dir):
    c = oracle_con(sf_dir)
    yield c
    c.close()


def test_check_one_passes_a_matching_id(spark, con, sf_dir):
    out = check_one(spark, con, QUERIES[QID], sf_dir, ORACLES[QID])
    assert out["status"] == "pass", out
    assert out["rows"] > 1 and out["schema_match"]
    assert out["spark_sec"] > 0 and out["oracle_sec"] > 0


def test_check_one_fails_when_the_oracle_drops_a_row(spark, con, sf_dir):
    out = check_one(spark, con, QUERIES[QID], sf_dir, f"SELECT * FROM ({ORACLES[QID]}) OFFSET 1")
    assert out["status"] == "fail", out
    assert out["spark_rows"] == out["oracle_rows"] + 1
    assert "conf_changed" not in out


def test_check_one_fails_when_the_id_changes_conf(spark, con, sf_dir):
    key = "spark.sql.shuffle.partitions"

    def sets_conf(s, d):
        s.conf.set(key, "7")
        return QUERIES[QID](s, d)

    with conf_scope(spark, {key: spark.conf.get(key)}):
        out = check_one(spark, con, sets_conf, sf_dir, ORACLES[QID])
    assert out["status"] == "fail", out
    assert out["conf_changed"] == [key]
    # the frames themselves still agree: only the conf check failed it
    assert out["hash"] and out["schema_match"]
