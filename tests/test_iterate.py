"""The lineage policy of the graph fixpoints (operators/iterate.py).

Block loss: each operator is built and collected, then every block that
appeared in the block manager since the build is removed
(``BlockManagerMaster.removeRdd``), which is what the loss of an executor
does to the blocks it held. In local mode the driver is the only
executor, so this reproduces the block loss a dead executor causes;
killing an executor process needs ``local-cluster`` mode. A second
collect must return the same rows: a generation cut with
``localCheckpoint`` fails here with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``,
a reliable checkpoint reads its files back. Blocks stored before the
build belong to other tests of the shared session and are left alone.
"""

from __future__ import annotations

import os

import pytest
from pyspark import SparkFiles

from habits_etl_spark.operators.clusters import connected_components
from habits_etl_spark.operators.kcore import coreness
from habits_etl_spark.operators.pagerank import pagerank

_PR_NODES = [1, 2, 3, 4, 5, 6]
_PR_EDGES = [(2, 1), (3, 1), (1, 2), (4, 5), (5, 4)]
_PATH = [(i, i + 1) for i in range(59)]


def _stored_rdds(spark):
    sc = spark.sparkContext._jsc.sc()
    return {info.id() for info in sc.getRDDStorageInfo()}


def _drop_blocks(spark, rdd_ids):
    master = spark.sparkContext._jsc.sc().env().blockManager().master()
    for rdd_id in rdd_ids:
        master.removeRdd(rdd_id, True)


def _pagerank(spark):
    nodes = spark.createDataFrame([(v,) for v in _PR_NODES], "node long")
    return pagerank(nodes, spark.createDataFrame(_PR_EDGES, "src long, dst long"))


def _coreness(spark):
    nodes = spark.createDataFrame([(i,) for i in range(60)], "node long")
    sym = _PATH + [(b, a) for a, b in _PATH]
    return coreness(nodes, spark.createDataFrame(sym, "src long, dst long"))


def _components(spark):
    edges = spark.createDataFrame(_PATH + [(100, 101)], "src long, dst long")
    return connected_components(edges, driver_solve_max_edges=0)


@pytest.mark.parametrize("build", [_pagerank, _coreness, _components])
def test_result_survives_lost_blocks(spark, build):
    before = _stored_rdds(spark)
    df = build(spark)
    first = sorted(df.collect())
    _drop_blocks(spark, _stored_rdds(spark) - before)
    assert sorted(df.collect()) == first


def _checkpoint_dirs(spark):
    root = spark.sparkContext.getCheckpointDir()
    return set(os.listdir(root.removeprefix("file:"))) if root else set()


def test_only_the_returned_generation_keeps_files(spark):
    conf = dict(spark.conf.getAll)
    before = _checkpoint_dirs(spark)
    df = _coreness(spark)
    leaf = df._jdf.queryExecution().logical().collectLeaves().head()
    returned = leaf.rdd().getCheckpointFile().get().rsplit("/", 1)[1]
    assert _checkpoint_dirs(spark) == before | {returned}
    assert dict(spark.conf.getAll) == conf
    assert {r.coreness for r in df.collect()} == {1}
    root = os.path.join(SparkFiles.getRootDirectory(), "checkpoints")
    assert spark.sparkContext.getCheckpointDir().removeprefix("file:").startswith(root)
