"""Parallelism decisions read from the physical plan.

``plan_width`` says how many partitions a frame will run at without
starting a Spark job. Every width decision goes through it: the
Python reconstruction kernel's input rule
(``operators/reconstruction.py``), the prefix-sum form choice in
``operators/corpus.py`` and ``fanout_small`` below.

``fanout_small`` is the parallelism floor for tiny-input scans. The
heavy per-row operators (minhash/winnow fingerprinting, char n-gram
explosion, per-vertex geometry math) are pure column work: at 100 TB
a parquet scan yields thousands of partitions and every core stays
busy. At bench/test scale the same table is ONE small file with one
row group, so the scan resolves to a single task and the whole
expression pipeline serializes on 1 of N cores — `maxPartitionBytes`
cannot split below the row-group boundary. Inputs whose optimizer
size estimate is under ``_MIN_BYTES`` (dimension tables) are left
alone: scheduling N tasks over a 2 KB table is pure overhead. The
estimate is the file index's byte count for a scan, so the guard
holds on object-store paths too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_MIN_BYTES = 192 * 1024


def plan_width(df: DataFrame) -> int:
    """How many partitions ``df`` will run at; starts no Spark job.

    A plan with a shuffle is an ``AdaptiveSparkPlan``: the output
    partitioning of its not-yet-run physical plan is the planned
    width, read before any stage runs (0 when unknown, e.g. a
    broadcast join whose streamed side is a scan). AQE may still
    coalesce a hash or range shuffle at runtime, so for those the
    planned width is an upper bound. A shuffle-free plan resolves its
    scan splits without a job.
    """
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        return plan.executedPlan().outputPartitioning().numPartitions()
    return df.rdd.getNumPartitions()


def fanout_small(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` up to the session's
    defaultParallelism when it runs narrower than that; identity
    otherwise. Row-wise deterministic (sort-before-repartition is on
    by default), and a no-op at scale.
    """
    tgt = df.sparkSession.sparkContext.defaultParallelism
    if tgt <= 1:
        return df
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    if stats.sizeInBytes() < _MIN_BYTES:
        return df
    if plan_width(df) < tgt:
        return df.repartition(tgt)
    return df
