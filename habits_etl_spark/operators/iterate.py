"""One lineage policy and one round loop for iterative DataFrame operators.

The graph fixpoints (operators/pagerank.py, kcore.py, clusters.py) rebuild
their state from the previous generation every round. Without a cut, the
plan of round k holds every earlier round and grows without bound, so
each generation is materialized and the next round reads it.

Policy — a RELIABLE checkpoint, ``df.checkpoint(eager=True)``:

- ``localCheckpoint`` also truncates the plan, but it keeps the only copy
  of a generation as executor blocks with no lineage behind it: a lost
  executor makes the result unrecoverable
  (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``). A reliable checkpoint writes
  the generation to the checkpoint directory, and a lost block is read
  back from there.
- ``cache()`` per round was rejected: a cached generation keeps its whole
  logical plan, and each round references the previous one more than
  once, so the plan still grows and the driver ran out of heap on a
  6-node PageRank.

Directory: a session with no checkpoint directory gets
``SparkFiles.getRootDirectory()/checkpoints``, a per-context temporary
directory that Spark removes when the context stops. Setting it changes
no SQL conf. A directory already set — by ``setCheckpointDir`` or by
Spark's ``spark.checkpoint.dir`` — is left alone. That directory is
driver-local, so a cluster deployment sets ``spark.checkpoint.dir`` to
shared storage (HDFS, object store) that every executor can write.

Files: ``fixpoint`` deletes a generation's ``rdd-N`` directory once the
next generation is written, and ``release`` deletes the directories of
loop invariants once the loop is done. Only the returned generation's
files stay; they back the returned DataFrame for the life of the context.
A loop that raises leaves its files to that same cleanup at context stop.

Loops whose state is a bounded Python list on the driver (Lloyd, PQ, PCA,
BPE merges) have no lineage to cut and stay outside this module.
"""

from __future__ import annotations

import itertools
import os
from typing import Callable

from pyspark import SparkFiles
from pyspark.sql import Column, DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Write ``df`` to the checkpoint directory now and return a DataFrame
    that reads it back: the plan is cut, and lost blocks are recoverable."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(os.path.join(SparkFiles.getRootDirectory(), "checkpoints"))
    return df.checkpoint(eager=True)


def release(df: DataFrame) -> None:
    """Delete the checkpoint files behind a materialized DataFrame that
    nothing reads any more."""
    sc = df.sparkSession.sparkContext
    f = df._jdf.queryExecution().logical().rdd().getCheckpointFile().get()
    path = sc._jvm.org.apache.hadoop.fs.Path(f)
    path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int | None = None,
    changed: Column | None = None,
) -> DataFrame:
    """Run ``step`` on a materialized ``state`` for ``rounds`` rounds, or —
    with ``rounds`` None — until no row of a new generation matches
    ``changed``. The step carries each row's previous value in the
    generation it returns, so the check is one job over that generation.

    Each generation is materialized and the one it replaces is released,
    so ``state`` must itself be materialized and is owned by the loop."""
    for _ in itertools.count() if rounds is None else range(rounds):
        nxt = materialize(step(state))
        release(state)
        state = nxt
        # no limit(1): a codegen'd limit names its counter from a global
        # id (_limit_counter_N), so every round would recompile its class
        if rounds is None and state.filter(changed).count() == 0:
            break
    return state
