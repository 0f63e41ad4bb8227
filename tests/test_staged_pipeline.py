"""Staged (resumable) pipeline ≡ lazy pipeline; the history join on a
hot key completes on the shuffled plan."""

import os

from osm_wayback_spark import pipeline
from osm_wayback_spark.operators.history import add_history
from osm_wayback_spark.synth import synth_pages

SF = 0.001
STAGED = ("versions", "history_geom", "versions_out")  # what staged_pipeline writes


def _markers(root, stages) -> dict[str, str]:
    markers = {}
    for stage in stages:
        with open(os.path.join(root, stage, "_SUCCESS_STAGE")) as fh:
            markers[stage] = fh.read()
    return markers


def test_staged_equals_lazy(spark, tmp_path):
    """Whole rows, every column (``coords`` included), keyed by version."""
    pages = synth_pages(spark, SF)

    def by_key(df):
        rows = {
            (r.element_type, r.id, r.version, r.minor_version): r.asDict(recursive=True)
            for r in df.collect()
        }
        return df.columns, rows

    lazy = by_key(pipeline.reconstruction_pipeline(pages))
    root = str(tmp_path / "ck")
    staged = by_key(pipeline.staged_pipeline(spark, pages, root))
    assert "coords" in lazy[0]
    assert staged == lazy

    # resume: all three markers exist → a rerun reads checkpoints
    first = _markers(root, STAGED)
    again = pipeline.staged_pipeline(spark, pages, root)
    assert again.count() == len(lazy[1])
    assert _markers(root, STAGED) == first


def test_rebuilt_stage_rebuilds_every_later_stage(spark, tmp_path):
    """A stage built from a rebuilt input is stale: removing the first
    stage's marker rebuilds every stage after it, not only the first."""
    pages = synth_pages(spark, SF)
    root = str(tmp_path / "ck")
    pipeline.staged_pipeline(spark, pages, root)
    first = _markers(root, STAGED)
    os.remove(os.path.join(root, "versions", "_SUCCESS_STAGE"))
    pipeline.staged_pipeline(spark, pages, root)
    rebuilt = _markers(root, STAGED)
    for stage in STAGED:
        assert rebuilt[stage] != first[stage], stage


def test_hot_key_stress(spark, plan_nodes):
    """One entity with 3000 versions (pathological url), with broadcast
    joins off: the shuffled plan that inputs past the broadcast
    threshold run, one Exchange per side, completes in version order."""
    from pyspark.sql import functions as F

    from osm_wayback_spark.schemas import FEATURES

    versions = (
        spark.range(1, 3001)
        .select(
            F.lit("node").alias("element_type"),
            # 77 computed from the row, not a constant: a constant key
            # folds out of the join condition, which then plans as a
            # nested-loop join
            ((F.col("id") / 10_000).cast("long") + 77).alias("id"),
            F.col("id").cast("int").alias("version"),
            (F.lit(1500000000) + F.col("id") * 100).alias("ts"),
            (F.col("id") % 50).cast("long").alias("changeset"),
            F.lit(1).cast("int").alias("uid"),
            F.lit("u").alias("user"),
            F.lit(True).alias("visible"),
            F.lit(False).alias("deleted"),
            F.map_from_arrays(
                F.array(F.lit("v")),
                F.array(F.col("id").cast("string")),
            ).alias("tags"),
            F.array(F.lit(1.0), F.lit(2.0)).alias("lonlat"),
            F.lit(None).cast("array<bigint>").alias("node_refs"),
        )
    )
    features = spark.createDataFrame(
        [("node", 77, 3000, 1, 1500300000, 1, "u", "{}", {"v": "3000"})],
        schema=FEATURES,
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        out = add_history(features, versions)
        nodes = plan_nodes(out)
        row = out.collect()[0]
    finally:
        spark.conf.set(key, before)
    assert "SortMergeJoin" in nodes
    assert nodes.count("Exchange") == 2
    assert len(row.history) == 3000
    assert [r.i for r in row.history] == list(range(1, 3001))
