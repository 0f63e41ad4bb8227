"""SparkSession factory with scale-oriented defaults.

Replaces the reference's hand-tuned RocksDB knobs (db.hpp:96-111 —
bulk-load mode, WAL off, bloom filters, write batching) with the
Spark-side equivalents: AQE (runtime coalesce + skew-join splitting),
Arrow batch sizing for the Python reconstruction kernel, and a shuffle
partition count sized to the local core count but overridable for a
real cluster via ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for one local JVM (local[N], N = the cores this
# process may use, heap from _driver_memory) but expressed so the same
# code is correct on a 1000-executor cluster:
# AQE re-coalesces the static shuffle number at runtime, so a too-high
# static value costs little; a too-low one can't be split except by
# the skew-join rule.
_DEFAULTS = {
    # Runtime re-planning: partition coalescing, skew-join splitting,
    # broadcast-join demotion/promotion based on runtime stats.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Hot urls (many versions of one page / one OSM id) and hot tiles
    # are the two skew sources (SURVEY.md §7.4); lower the factor so
    # moderately skewed partitions are split too.
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "3",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64m",
    # Arrow ferries for the reconstruction kernel, the pipeline's only
    # Python stage (extraction runs in the JVM). 4.x enables arrow for
    # pandas UDFs by default; cap the batch so fat nested rows (or the
    # extraction UDF's html) don't blow executor memory.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # Parquet scans: keep splits small enough that a 100 TB input
    # yields units of work far smaller than executor memory.
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Eager reliable checkpoints (ANN candidate materialization) are
    # deleted when their RDD is GC'd instead of accumulating on disk.
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    # One pipeline pass generates ~95 classes; the default cache of 100
    # evicts some of them, so every later pass recompiled 27-54 classes.
    # 1024 keeps a session's classes compiled once.
    "spark.sql.codegen.cache.maxEntries": "1024",
    # The cache key is the generated source. AQE numbers whole-stage
    # codegen stages in the order it creates query stages, which
    # depends on which stages finish first; with the number in the
    # class name, the same code under another number compiled again
    # (6 classes on 3 of 85 repeated pipeline passes, local[4]).
    "spark.sql.codegen.useIdInClassName": "false",
    # Timestamps in the synthetic data are naive; keep them stable.
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
}


def _driver_memory() -> str:
    """Local-mode heap: the driver JVM hosts every executor thread, so
    it needs executor-scale memory. 8g GC-throttled the scaling bench
    ~2-3× at 2M+ pages (persist + 16 concurrent tasks); 24g removes
    the cliff on a 128 GiB host. On a real cluster this knob is
    irrelevant — spark-submit sets executor memory. Overridable via
    SPARK_GRAFT_DRIVER_MEM; otherwise capped at ~40% of host RAM so
    the JVM still starts on smaller machines."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
        cap_g = max(1, int(kb / 1024 / 1024 * 0.4))
    except (OSError, StopIteration, ValueError):
        cap_g = 4
    return f"{min(24, cap_g)}g"


def get_spark(
    app_name: str = "osm_wayback_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, and
    SPARK_GRAFT_CPUS to the cores this process may use
    (``os.sched_getaffinity``).
    """
    ncpu = len(os.sched_getaffinity(0))
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', ncpu)}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.driver.memory", _driver_memory())
    ncores = master.split("[")[-1].rstrip("]")
    n = int(ncores) if ncores.isdigit() else ncpu
    builder = builder.config("spark.sql.shuffle.partitions", str(max(n, 8)))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_checkpoint_dir(spark: SparkSession) -> None:
    """Make sure a RELIABLE checkpoint dir is configured before an
    eager ``.checkpoint()`` (ANN candidate materialization, kNN
    certificate slices).

    Local master only: default to a driver-local temp dir — in
    local mode driver == executor, so the path is visible to every
    task. On any OTHER master a reliable checkpoint must live on
    storage ALL executors can reach (HDFS/S3/shared FS); silently
    defaulting to tempfile.gettempdir() would scatter per-machine
    fragments and corrupt the read-back (round-4 advice), so require
    an explicit ``spark.sparkContext.setCheckpointDir(...)`` and fail
    loudly when it is missing."""
    import os
    import tempfile

    sc = spark.sparkContext
    if sc.getCheckpointDir() is not None:
        return
    if sc.master.startswith("local"):
        sc.setCheckpointDir(
            os.path.join(tempfile.gettempdir(), "osm_wayback_spark_ckpt")
        )
        return
    raise RuntimeError(
        "no checkpoint dir configured: reliable checkpoints on a "
        f"non-local master ({sc.master!r}) need a shared filesystem "
        "path visible to all executors — call "
        "spark.sparkContext.setCheckpointDir('hdfs://... or s3://...') "
        "before using operators that materialize candidates "
        "(ann_lsh_candidates, ann_ivf_candidates, "
        "ann_ivf_pq_candidates, knn_exact)"
    )
