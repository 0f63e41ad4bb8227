"""The late-r7 kernel-input partitioning policy: `reconstruct`
inherits shuffle-derived width instead of paying its own round-robin
Exchange, but keeps the repartition for scan-adjacent / limit-capped
inputs. Output must be identical either way."""

from osm_wayback_spark import pipeline
from osm_wayback_spark.operators.reconstruction import reconstruct
from osm_wayback_spark.plans.parallel import inherits_wide_partitioning
from osm_wayback_spark.synth import synth_pages

SF = 0.001


def test_wide_detection_join_and_scan(spark, tmp_path):
    a = spark.range(100).withColumnRenamed("id", "k")
    b = spark.range(100).withColumnRenamed("id", "k")
    assert inherits_wide_partitioning(a.join(b, "k"))
    assert inherits_wide_partitioning(a.groupBy("k").count())
    # plain scan: no shuffle to inherit
    p = str(tmp_path / "t.parquet")
    a.write.parquet(p)
    assert not inherits_wide_partitioning(spark.read.parquet(p))
    # a limit ABOVE the join collapses to one partition again
    assert not inherits_wide_partitioning(a.join(b, "k").limit(5))
    # ...but a limit BELOW the join does not defeat the join's width
    assert inherits_wide_partitioning(a.limit(50).join(b, "k"))
    # local relation: nothing wide
    assert not inherits_wide_partitioning(
        spark.createDataFrame([(1,)], "k long")
    )


def test_reconstruct_output_identical_with_and_without_repartition(spark):
    pages = synth_pages(spark, SF)
    geom = pipeline.geometry_pipeline(pages)
    assert inherits_wide_partitioning(geom)

    auto = reconstruct(geom, with_coords=True)           # inherits width
    forced = reconstruct(geom, target_partitions=8, with_coords=True)

    def canon(df):
        rows = df.collect()
        return sorted(
            (
                r.element_type, r.id, r.version, r.minor_version,
                r.valid_since, r.valid_until, r.changeset, r.uid, r.user,
                r.geometry, tuple(sorted((r.tags or {}).items())),
                tuple(tuple(p) for p in (r.coords or [])),
            )
            for r in rows
        )

    assert canon(auto) == canon(forced)


def test_reconstruct_kernel_runs_parallel_on_join_input(spark):
    from pyspark.sql import functions as F

    pages = synth_pages(spark, SF)
    geom = pipeline.geometry_pipeline(pages)
    widths = (
        reconstruct(geom)
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert widths > 1  # not serialized onto a single task
