"""J2/J3 node-location join vs the pure-Python oracle."""

import pytest

from osm_wayback_spark import pipeline
from osm_wayback_spark.synth import synth_pages

from .oracle import (
    add_history_oracle,
    build_index,
    extract_all,
    node_locations_oracle,
)

SF = 0.001


@pytest.fixture(scope="module")
def spark_geom(spark):
    pages = synth_pages(spark, SF)
    rows = pipeline.geometry_pipeline(pages).collect()
    return {(r.element_type, r.id): r for r in rows}


@pytest.fixture(scope="module")
def oracle_geom():
    versions, locs, features = build_index(extract_all(SF))
    histories = add_history_oracle(versions, features)
    return node_locations_oracle(histories, features, locs)


def _normalize_nested(nl) -> dict:
    out = {}
    for node_id, by_cs in nl.items():
        inner = {}
        for cs, rec in by_cs.items():
            d = rec.asDict() if hasattr(rec, "asDict") else dict(rec)
            if d.get("p") is not None:
                d["p"] = list(d["p"])
            inner[str(cs)] = {k: v for k, v in d.items()}
        out[str(node_id)] = inner
    return out


def test_node_locations_match_oracle(spark_geom, oracle_geom):
    assert len(oracle_geom) > 20
    for key, row in spark_geom.items():
        if key in oracle_geom:
            assert row.node_locations is not None, key
            got = _normalize_nested(row.node_locations)
            exp = {
                nid: {cs: {k: v for k, v in rec.items()} for cs, rec in by.items()}
                for nid, by in oracle_geom[key].items()
            }
            assert got == exp, f"nodeLocations mismatch for {key}"
        else:
            # attached only when ≥1 node resolved (add_geometry.cpp:150)
            assert row.node_locations is None or key[0] == "node"


def test_nodes_pass_through_without_locations(spark_geom):
    for (etype, _id), row in spark_geom.items():
        if etype == "node":
            assert row.node_locations is None
