"""Scale-adaptive parallelism floor for tiny-input scans.

The heavy per-row operators (minhash/winnow fingerprinting, char
n-gram explosion, per-vertex geometry math) are pure column work: at
100 TB a parquet scan yields thousands of partitions and every core
stays busy. At bench/test scale the same table is ONE small file with
one row group, so the scan resolves to a single task and the whole
expression pipeline serializes on 1 of N cores — `maxPartitionBytes`
cannot split below the row-group boundary.

``fanout_small`` is the adaptive fix (spark_optimization_guide §2:
"make partitioning scale-adaptive ... rather than a constant tuned
for either local mode or the cluster"): probe the frame's scan
partition count and round-robin repartition up to the session's
default parallelism ONLY when the scan is narrower than that. On a
real-scale input the probe sees >= cores partitions and the operator
plan is untouched — no extra Exchange.

Two safety guards make it composable:

- **barrier guard**: the partition probe (`df.rdd.getNumPartitions()`)
  finalizes the physical plan, which under AQE *executes* upstream
  shuffle stages. So the probe only runs when the logical plan is
  scan-adjacent (reads + narrow projections/filters); frames that
  already contain a join/aggregate/window/repartition are returned
  unchanged (they are shuffle-parallel already, and a second fanout
  layer — e.g. an operator called on an already-fanned frame — must
  not re-probe an Exchange).
- **size guard**: inputs under ``_MIN_BYTES`` (dimension tables) are
  left alone — scheduling 32 tasks over a 2 KB table is pure
  overhead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

# logical-plan node names that mean "not scan-adjacent": either the
# frame is already shuffle-parallel or probing it would trigger AQE
# stage execution.
_BARRIER_NODES = (
    "Repartition",  # also matches RepartitionByExpression / ByRange
    "Join",
    "Aggregate",
    "Window",
    "Deduplicate",
    "Sort",
    "GlobalLimit",
    "Rebalance",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroups",
)

_MIN_BYTES = 192 * 1024

# logical-plan node names whose output partitioning is shuffle-derived
# (hash/range over the configured shuffle-partition count, AQE-coalesced
# with parallelismFirst): a downstream per-row kernel can consume them
# directly instead of paying its own round-robin Exchange.
_WIDE_NODES = (
    "Join",
    "Aggregate",
    "Window",
    "Repartition",  # also matches RepartitionByExpression / ByRange
    "Rebalance",
    "Deduplicate",
    "Sort",
)


def inherits_wide_partitioning(df: DataFrame) -> bool:
    """True when ``df``'s partitioning already comes from a shuffle
    (join/aggregate/window/repartition/sort...), so a kernel that only
    needs even row spread can skip its own repartition — removing a
    full Exchange of the rows (guide §2.4), which for fat nested
    payloads is the dominant cost at scale.

    A ``GlobalLimit``/``LocalLimit``-to-single-partition ABOVE every
    wide node collapses the width again (``df.limit(n)`` plans a
    single-partition exchange), so a limit that appears before (above)
    the first wide node in the top-down logical plan string defeats
    the inheritance and the caller should keep its repartition.
    """
    try:
        plan = df._jdf.queryExecution().logical().toString()
    except Exception:  # pragma: no cover - planning quirks
        return False
    wide = [i for i in (plan.find(n) for n in _WIDE_NODES) if i != -1]
    if not wide:
        return False
    lim = plan.find("GlobalLimit")
    if lim != -1 and lim < min(wide):
        return False
    return True


def probe_scan_partitions(df: DataFrame) -> int | None:
    """Partition count of a scan-adjacent frame, or None when the
    frame is not safely probe-able (contains joins/aggregates/
    repartitions — under AQE the probe would execute those stages)."""
    try:
        plan = df._jdf.queryExecution().logical().toString()
        if any(n in plan for n in _BARRIER_NODES):
            return None
        return df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - planning quirks
        return None


def fanout_small(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` up to the session's
    defaultParallelism when its scan resolves to fewer partitions;
    identity otherwise. Row-wise deterministic (sort-before-repartition
    is on by default), and a no-op at scale.
    """
    tgt = df.sparkSession.sparkContext.defaultParallelism
    if tgt <= 1:
        return df
    try:
        plan = df._jdf.queryExecution().logical().toString()
        if any(n in plan for n in _BARRIER_NODES):
            return df
        files = df.inputFiles()
        if files:
            total = 0
            for f in files:
                p = f[7:] if f.startswith("file:") else f
                try:
                    total += os.path.getsize(p)
                except OSError:
                    total = None
                    break
            if total is not None and total < _MIN_BYTES:
                return df
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - planning quirks: keep plan
        return df
    if n < tgt:
        return df.repartition(tgt)
    return df
