"""End-to-end golden test: the Spark pipeline vs a driver-side
re-execution of the reference stages over identical inputs.

The Spark side must produce, per feature, exactly the per-version
feature set the reference's stage 4 would emit given the same
@history + nodeLocations (the core itself is branch-tested in
test_reconstruction_core.py)."""

import json

import pytest

from osm_wayback_spark import pipeline
from osm_wayback_spark.operators._reconstruct_core import reconstruct_feature
from osm_wayback_spark.operators.reconstruction import reconstruct
from osm_wayback_spark.synth import synth_pages

from .oracle import (
    add_history_oracle,
    build_index,
    extract_all,
    node_locations_oracle,
)

SF = 0.001


@pytest.fixture(scope="module")
def spark_outputs(spark):
    pages = synth_pages(spark, SF)
    geom = pipeline.geometry_pipeline(pages)
    rows = reconstruct(geom, with_feature_json=True).collect()
    by_key: dict[tuple, list[str]] = {}
    for r in rows:
        by_key.setdefault((r.element_type, r.id), []).append(r.feature_json)
    return {k: sorted(v) for k, v in by_key.items()}


@pytest.fixture(scope="module")
def oracle_outputs():
    versions, locs, features = build_index(extract_all(SF))
    histories = add_history_oracle(versions, features)
    nested = node_locations_oracle(histories, features, locs)
    out: dict[tuple, list[str]] = {}
    for key, feat in features.items():
        feats = reconstruct_feature(
            key[0],
            key[1],
            feat.get("geometry"),
            histories.get(key) or [],
            nested.get(key),
        )
        if feats:
            out[key] = sorted(
                json.dumps(f, separators=(",", ":"), sort_keys=True)
                for f in feats
            )
    return out


def test_feature_keys_match(spark_outputs, oracle_outputs):
    assert set(spark_outputs) == set(oracle_outputs)


def test_per_version_features_match(spark_outputs, oracle_outputs):
    assert len(oracle_outputs) > 100
    mismatches = [
        k for k in oracle_outputs if spark_outputs[k] != oracle_outputs[k]
    ]
    assert not mismatches, (
        f"{len(mismatches)} features mismatch; first: {mismatches[:3]}\n"
        + "\n".join(spark_outputs[mismatches[0]][:2])
        + "\n---\n"
        + "\n".join(oracle_outputs[mismatches[0]][:2])
    )


def test_minor_versions_exist(oracle_outputs):
    # the synthetic corpus must exercise the minor-version machinery
    n_minor = sum(
        1
        for feats in oracle_outputs.values()
        for f in feats
        if json.loads(f)["properties"].get("@minorVersion", 0) > 0
    )
    assert n_minor > 10


def test_reconstruct_tolerates_all_empty_batches(spark):
    """A kernel batch where every feature yields zero output rows
    (e.g. a sorted-corpus slice of noHistory features) must not break
    the pandas→Arrow conversion (empty float64 columns can't cast to
    map/array types) — regression for the sorted-cache bench crash."""
    from pyspark.sql import types as T

    from osm_wayback_spark.schemas import HISTORY_RECORD

    schema = T.StructType(
        [
            T.StructField("element_type", T.StringType()),
            T.StructField("id", T.LongType()),
            T.StructField("geometry", T.StringType()),
            T.StructField("history", T.ArrayType(HISTORY_RECORD)),
            T.StructField(
                "node_locations",
                T.MapType(
                    T.LongType(),
                    T.MapType(
                        T.LongType(),
                        T.StructType(
                            [
                                T.StructField("p", T.ArrayType(T.DoubleType())),
                                T.StructField("i", T.IntegerType()),
                                T.StructField("u", T.IntegerType()),
                                T.StructField("h", T.StringType()),
                                T.StructField("t", T.LongType()),
                            ]
                        ),
                    ),
                ),
            ),
        ]
    )
    rows = [("way", 1, '{"type":"LineString","coordinates":[]}', [], None)]
    geom = spark.createDataFrame(rows, schema)
    assert reconstruct(geom).count() == 0
    assert reconstruct(geom, with_feature_json=True).count() == 0


def test_second_identical_run_compiles_nothing(spark):
    """Every class a pipeline pass generates stays in the session's
    codegen cache, so an identical second pass compiles none: the
    default 100-entry cache could not hold a pass's ~95 classes and
    recompiled dozens of them on every pass."""
    from osm_wayback_spark.operators.tiles import assign_tiles

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        assign_tiles(pipeline.reconstruction_pipeline(synth_pages(spark, SF))).count()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    run()
    assert run() == 0
