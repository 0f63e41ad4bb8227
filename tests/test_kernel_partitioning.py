"""The kernel-input width rule: `reconstruct` consumes an input that
already runs at least defaultParallelism wide as it is, and
repartitions anything narrower, so a narrow input never puts the
Python kernel on one task. The width comes from `plan_width`, which
reads the physical plan without starting a Spark job. Output must be
identical either way."""

import shutil

from pyspark.sql import functions as F

from osm_wayback_spark import pipeline
from osm_wayback_spark.operators.reconstruction import reconstruct
from osm_wayback_spark.plans.parallel import fanout_small, plan_width
from osm_wayback_spark.synth import synth_pages

SF = 0.001


def _job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def test_plan_width_matches_partitions_without_a_job(spark, tmp_path):
    a = spark.range(100).withColumnRenamed("id", "k")
    b = spark.range(100).withColumnRenamed("id", "k")
    one_file = str(tmp_path / "one.parquet")
    a.coalesce(1).write.parquet(one_file)
    frames = {
        "join": a.join(b, "k"),
        "aggregate": a.groupBy("k").count(),
        "one-file scan": spark.read.parquet(one_file),
        "join.limit(5)": a.join(b, "k").limit(5),
        "limit(50).join": a.limit(50).join(b, "k"),
        "join.coalesce(1)": a.join(b, "k").coalesce(1),
        "join.repartition(1)": a.join(b, "k").repartition(1),
        "JoinKey scan": spark.read.parquet(one_file).withColumn(
            "JoinKey", F.col("k")
        ),
    }
    for name, df in frames.items():
        before = _job_ids(spark)
        width = plan_width(df)
        assert _job_ids(spark) == before, name
        assert width == df.rdd.getNumPartitions(), name


def test_fanout_small_size_guard_needs_no_file_system(spark, tmp_path):
    """The size guard reads the optimizer's file-index bytes, so it
    holds where the driver cannot stat the input files (object-store
    paths; here, files removed after the read was planned): a tiny
    one-file table stays as it is, and a one-file table above the
    guard still fans out to defaultParallelism."""
    tiny = str(tmp_path / "tiny.parquet")
    spark.range(10).coalesce(1).write.parquet(tiny)
    df = spark.read.parquet(tiny)
    shutil.rmtree(tiny)
    assert fanout_small(df) is df

    big = str(tmp_path / "big.parquet")
    spark.range(20000).selectExpr(
        "id", "sha2(cast(id AS string), 256) AS h"
    ).coalesce(1).write.parquet(big)
    df = spark.read.parquet(big)
    assert plan_width(df) == 1
    fanned = fanout_small(df)
    assert plan_width(fanned) == spark.sparkContext.defaultParallelism


def _canon(df):
    return sorted(
        (
            r.element_type, r.id, r.version, r.minor_version,
            r.valid_since, r.valid_until, r.changeset, r.uid, r.user,
            r.geometry, tuple(sorted((r.tags or {}).items())),
            tuple(tuple(p) for p in (r.coords or [])),
        )
        for r in df.collect()
    )


def test_reconstruct_output_identical_with_and_without_repartition(spark):
    pages = synth_pages(spark, SF)
    geom = pipeline.geometry_pipeline(pages)
    assert plan_width(geom) >= spark.sparkContext.defaultParallelism

    auto = reconstruct(geom, with_coords=True)  # consumes the join's width
    forced = reconstruct(geom.coalesce(1), with_coords=True)  # repartitions

    assert _canon(auto) == _canon(forced)


def _kernel_tasks(df) -> int:
    """Non-empty kernel partitions of ``reconstruct(df)``."""
    return (
        reconstruct(df)
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )


def test_reconstruct_kernel_runs_parallel_on_join_input(spark):
    pages = synth_pages(spark, SF)
    geom = pipeline.geometry_pipeline(pages)
    assert _kernel_tasks(geom) > 1  # not serialized onto a single task


def test_reconstruct_kernel_never_runs_on_one_task(spark, tmp_path):
    """Narrow inputs that a plan-text match took for shuffle-wide ones:
    each used to run the whole kernel on one task."""
    geom = pipeline.geometry_pipeline(synth_pages(spark, SF))
    path = str(tmp_path / "geom.parquet")
    geom.coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    types = F.broadcast(scan.select("element_type").distinct())
    inputs = {
        "coalesce(1)": geom.coalesce(1),
        "repartition(1)": geom.repartition(1),
        "one-file scan with a JoinKey column": scan.withColumn(
            "JoinKey", F.lit(1)
        ),
        "broadcast semi-join over a one-file scan": scan.join(
            types, "element_type", "left_semi"
        ),
    }
    for name, df in inputs.items():
        before = _job_ids(spark)
        reconstruct(df)
        assert _job_ids(spark) == before, name  # deciding starts no job
        assert _kernel_tasks(df) >= 2, name
