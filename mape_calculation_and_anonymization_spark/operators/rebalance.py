"""Materialization barriers and compute-stage rebalancing.

Every eager barrier in the engine goes through this module:
:func:`checkpoint` (an eager ``localCheckpoint`` under a Spark job
description naming the barrier) and :func:`persisted` (a cache scoped
to a ``with`` block). A checkpoint is never released early: the frames
an operator returns keep their checkpointed lineage alive, so only the
persisted frames have a lifetime, and it ends on every exit path.

Rebalancing coarse-grained inputs (:func:`ensure_min_partitions`):

Parquet scans parallelize at row-group granularity: a task only
produces rows for row groups whose midpoint falls inside its byte
split. When the input layout is coarser than the available cores —
single-row-group files (exactly the local testdata layout), or a few
surviving splits after aggressive partition pruning — every NARROW
transform downstream inherits that parallelism. For cheap scans and
aggregations that is the correct plan (partial aggregation before the
shuffle beats moving rows), but for operators whose per-row compute
dwarfs the row's bytes — interpreted higher-order-function lambdas,
md5 banding over token arrays, Arrow-batched pandas UDFs doing
matmuls — it serializes the pipeline's hot loop onto a handful of
cores.

AQE cannot fix this direction: it coalesces small shuffle partitions
but never splits large scan partitions. So the compute-heavy
operators in this package call :func:`ensure_min_partitions` on their
input immediately before the hot projection. The inserted round-robin
shuffle moves the input ONCE; it pays for itself whenever
(per-row compute × rows/partition) >> (partition bytes × shuffle
constant), which holds for every caller here, and it is a complete
no-op whenever the scan already yields a split per core —
at 100 TB (~10^6 row groups at the parquet default 128 MB) the guard
short-circuits and no shuffle is added.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

_DESCRIPTION = "spark.job.description"


def checkpoint(df: DataFrame, label: str) -> DataFrame:
    """Eager ``localCheckpoint`` of ``df`` whose jobs carry the Spark
    job description ``label`` (``"<module>.<operator>.<frame>"``).

    The caller's description is restored afterwards, also when the
    checkpoint raises."""
    sc = df.sparkSession.sparkContext
    outer = sc.getLocalProperty(_DESCRIPTION)
    sc.setLocalProperty(_DESCRIPTION, label)
    try:
        return df.localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty(_DESCRIPTION, outer)


@contextmanager
def persisted(df: DataFrame) -> Iterator[DataFrame]:
    """Persist ``df`` for the ``with`` block and unpersist it on the way
    out, whether the block returns or raises. The cache fills on the
    first action inside the block. A frame derived from it that
    outlives the block recomputes it on use, unless a checkpoint inside
    the block cut the frame loose."""
    try:
        yield df.persist()
    finally:
        df.unpersist()


def ensure_min_partitions(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` iff it currently has fewer
    partitions than the session's ``defaultParallelism`` (the core
    count in local mode).

    Call this ONLY in front of transforms whose per-row compute
    dominates scan cost (see module docstring); for ordinary
    scan→filter→aggregate plans the extra exchange is pure loss.

    The repartition alone is NOT enough: Catalyst's
    PushDownPredicates pushes deterministic filters (and projection
    pruning) straight through a Repartition, landing the expensive
    expressions back below the exchange on the coarse scan — measured
    4.7s vs 0.9s for the HOF language/quality gates at sf0.1. The
    lazy ``localCheckpoint`` truncates the lineage into a leaf the
    optimizer cannot push anything below; it materializes the (column
    -pruned, pre-transform) input once on first action and is reused
    by every consumer of the returned frame.
    """
    min_partitions = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= min_partitions:
        return df
    return df.repartition(min_partitions).localCheckpoint(eager=False)
