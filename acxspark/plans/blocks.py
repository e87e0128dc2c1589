"""One block-lifetime rule for the batch plan (plans/pipeline.py), the
crawl fold (plans/incremental.py) and the rounds of operators/cc.py:
an eager checkpoint per multi-consumer output, dropped by release()."""

from __future__ import annotations

from pyspark.sql import DataFrame


class CheckpointBlocks:
    """``unpersist()`` handle for the blocks of an eager
    localCheckpoint, so ``release()`` drops them too.
    ``DataFrame.unpersist`` does not reach them: the checkpointed RDD
    backs the frame's LogicalRDD leaf, not a cache-manager entry."""

    def __init__(self, df: DataFrame):
        self._sc = df.sparkSession.sparkContext._jsc.sc()
        self._rdd_id = df._jdf.queryExecution().logical().rdd().id()

    def unpersist(self, blocking: bool = False) -> None:
        # SparkContext.unpersistRDD, not RDD.unpersist: the same block
        # removal without a lineage-truncated warning per checkpoint
        self._sc.unpersistRDD(self._rdd_id, blocking)


def materialise(df: DataFrame, caches: list) -> DataFrame:
    """Eager localCheckpoint: one job computes ``df`` into executor
    blocks and every later query plans against the LogicalRDD leaf
    instead of re-analysing (and, for broadcast subtrees, re-running)
    the nested tree beneath it. Observations attached below fire in
    that job."""
    cp = df.localCheckpoint(eager=True)
    caches.append(CheckpointBlocks(cp))
    return cp


class Releasable:
    """``release()`` for a plan result whose ``caches`` holds a release
    handle (``unpersist()``) per persisted or checkpointed block."""

    caches: list

    def release(self) -> None:
        for c in self.caches or []:
            c.unpersist()
        self.caches = []
