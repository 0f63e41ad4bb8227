"""J1/W1/A1 history join + tag diff vs the pure-Python oracle."""

import pytest

from osm_wayback_spark import pipeline
from osm_wayback_spark.operators.history import add_history
from osm_wayback_spark.synth import synth_pages

from .oracle import add_history_oracle, build_index, extract_all

SF = 0.001


@pytest.fixture(scope="module")
def spark_histories(spark):
    pages = synth_pages(spark, SF)
    t = pipeline.build_tables(pages)
    rows = add_history(t["features"], t["versions"]).collect()
    return {(r.element_type, r.id): r for r in rows}


@pytest.fixture(scope="module")
def oracle_histories():
    versions, _locs, features = build_index(extract_all(SF))
    return features, add_history_oracle(versions, features)


def _normalize_record(rec) -> dict:
    d = rec.asDict(recursive=True)
    out = {}
    for k, v in d.items():
        if v is None:
            continue
        if k == "aM":
            v = {mk: list(mv) for mk, mv in v.items()}
        out[k] = v
    # first-version aA may be an empty map — the reference still
    # writes the member; normalize presence
    return out


def test_same_feature_set(spark_histories, oracle_histories):
    features, oh = oracle_histories
    assert set(spark_histories) == set(oh)


def test_history_arrays_match_oracle(spark_histories, oracle_histories):
    _features, oh = oracle_histories
    assert len(oh) > 100
    for key, expected in oh.items():
        got = [_normalize_record(r) for r in spark_histories[key].history]
        exp = [
            {k: v for k, v in rec.items() if v is not None} for rec in expected
        ]
        assert got == exp, f"history mismatch for {key}"


def test_version_gaps_present():
    # The synthetic corpus must actually exercise the gap branch.
    versions, _locs, features = build_index(extract_all(SF))
    gaps = 0
    for (etype, eid), feat in features.items():
        present = [
            v for v in range(1, feat["version"] + 1)
            if (etype, eid, v) in versions
        ]
        if len(present) < feat["version"]:
            gaps += 1
    assert gaps > 0


def test_empty_history_for_unknown_feature(spark):
    # A feature whose id is absent from versions keeps an EMPTY
    # @history (add_history.cpp:216).
    from osm_wayback_spark.operators.history import add_history
    from osm_wayback_spark.schemas import FEATURES, VERSIONS

    feats = spark.createDataFrame(
        [("node", 999999999, 2, 1, 1500000000, 1, "x", "{}", {"a": "b"})],
        schema=FEATURES,
    )
    versions = spark.createDataFrame([], schema=VERSIONS)
    rows = add_history(feats, versions).collect()
    assert len(rows) == 1
    assert rows[0].history == []
