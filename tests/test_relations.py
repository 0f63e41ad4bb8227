"""True relation member-geometry assembly (operators/relations.py) —
the opt-in upgrade over the reference's GEOMETRY FAKER
(relation-history-builder.js:3; the faker stays the pipeline default
for oracle parity, pinned in test_reconstruction_core)."""

import json

import pytest

from osm_wayback_spark.operators.relations import (
    _stitch_rings,
    member_ways_asof,
    reconstruct_relations,
)

# two open ways forming a rectangle ring when stitched
WAY_A_V1 = [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0]]
WAY_B = [[2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]
# way A moves a vertex in its second version
WAY_A_V2 = [[0.0, 0.0], [3.0, 0.0], [2.0, 2.0]]
# closed inner hole
HOLE = [[0.5, 0.5], [1.0, 0.5], [1.0, 1.0], [0.5, 1.0], [0.5, 0.5]]


@pytest.fixture(scope="module")
def frames(spark):
    members = spark.createDataFrame(
        [
            # relation 9 v1 at t=100, v2 at t=250 — same three members
            (9, 1, 100, 0, 101, "outer"),
            (9, 1, 100, 1, 102, "outer"),
            (9, 1, 100, 2, 103, "inner"),
            (9, 2, 250, 0, 101, "outer"),
            (9, 2, 250, 1, 102, "outer"),
            (9, 2, 250, 2, 103, "inner"),
            # relation 10 references a way with no geometry rows
            (10, 1, 100, 0, 999, "outer"),
        ],
        "id long, version int, ts long, member_idx int, member_ref long, "
        "member_role string",
    )
    way_geoms = spark.createDataFrame(
        [
            (101, 50, 200, json.dumps(WAY_A_V1)),
            (101, 200, None, json.dumps(WAY_A_V2)),
            (102, 50, None, json.dumps(WAY_B)),
            (103, 50, None, json.dumps(HOLE)),
        ],
        "way_id long, valid_since long, valid_until long, coords_json string",
    )
    return members, way_geoms


def test_asof_picks_interval_containing_ts(spark, frames):
    members, way_geoms = frames
    rows = {
        (r.id, r.version, r.member_ref): r.coords_json
        for r in member_ways_asof(members, way_geoms).collect()
    }
    # v1 (t=100) sees way A's first interval; v2 (t=250) the second
    assert json.loads(rows[(9, 1, 101)]) == WAY_A_V1
    assert json.loads(rows[(9, 2, 101)]) == WAY_A_V2
    # unresolvable member survives with NULL coords
    assert rows[(10, 1, 999)] is None


def test_assembly_stitches_and_nests(spark, frames):
    members, way_geoms = frames
    out = {
        (r.id, r.version): r
        for r in reconstruct_relations(members, way_geoms).collect()
    }
    v1 = out[(9, 1)]
    assert v1.n_members == 3 and v1.n_resolved == 3 and v1.n_unclosed == 0
    geom = json.loads(v1.geometry)
    assert geom["type"] == "MultiPolygon"
    (poly,) = geom["coordinates"]
    assert len(poly) == 2  # outer ring + hole
    outer, inner = poly
    # A(3 pts) + B(3 pts) share both endpoints → 5-point closed ring
    assert outer[0] == outer[-1] and len(outer) == 5
    assert inner == HOLE
    # geometry CHANGES with the member way's version — the faker can't
    v2_outer = json.loads(out[(9, 2)].geometry)["coordinates"][0][0]
    assert [3.0, 0.0] in v2_outer and [3.0, 0.0] not in outer

    # unresolved-member relation: counted, geometry NULL (no ring)
    r10 = out[(10, 1)]
    assert r10.n_members == 1 and r10.n_resolved == 0
    assert r10.geometry is None
    # attached hole → n_unattached stays 0
    assert v1.n_unattached == 0


def test_unattached_inner_ring_is_counted(spark):
    """A closed inner ring whose bbox no outer contains is dropped
    from the geometry — that degradation must be observable
    (n_unattached), not silent (the r5 advice finding)."""
    far_hole = [[9.0, 9.0], [9.5, 9.0], [9.5, 9.5], [9.0, 9.5], [9.0, 9.0]]
    members = spark.createDataFrame(
        [
            (1, 1, 100, 0, 101, "outer"),
            (1, 1, 100, 1, 102, "outer"),
            (1, 1, 100, 2, 104, "inner"),
        ],
        "id long, version int, ts long, member_idx int, member_ref long, "
        "member_role string",
    )
    way_geoms = spark.createDataFrame(
        [
            (101, 50, None, json.dumps(WAY_A_V1)),
            (102, 50, None, json.dumps(WAY_B)),
            (104, 50, None, json.dumps(far_hole)),
        ],
        "way_id long, valid_since long, valid_until long, coords_json string",
    )
    r = reconstruct_relations(members, way_geoms).first()
    assert r.n_unclosed == 0
    assert r.n_unattached == 1
    geom = json.loads(r.geometry)
    (poly,) = geom["coordinates"]
    assert len(poly) == 1  # the orphan hole is not in the geometry


def test_stitch_reversal_and_unclosed():
    # B reversed: stitching must flip it
    rings, unc = _stitch_rings([WAY_A_V1, list(reversed(WAY_B))])
    assert unc == 0 and len(rings) == 1
    assert rings[0][0] == rings[0][-1]
    # a dangling segment that can't close is counted, not silent
    rings, unc = _stitch_rings([[[9.0, 9.0], [9.5, 9.5]]])
    assert rings == [] and unc == 1


def test_relation_geometry_flows_into_tiles(spark, frames):
    """End-to-end extension path: assembled relation MultiPolygons
    feed assign_tiles unchanged — some tile row carries the polygon
    with its hole."""
    from osm_wayback_spark.operators.tiles import assign_tiles

    members, way_geoms = frames
    recon = reconstruct_relations(members, way_geoms).filter(
        "geometry IS NOT NULL"
    )
    tiles = assign_tiles(
        recon, z=9, payload_cols=("id", "version")
    ).collect()
    assert tiles

    def polygons(feature_json):
        geom = json.loads(feature_json)
        if geom["type"] == "Polygon":
            return [geom["coordinates"]]
        return geom["coordinates"] if geom["type"] == "MultiPolygon" else []

    assert any(
        len(rings) >= 2 for r in tiles for rings in polygons(r.feature_json)
    )


def test_assembly_plan_shape(spark, frames, plan_nodes):
    """The as-of join must stay relational (equi-join + window): no
    Python node before the final assembly kernel."""
    members, way_geoms = frames
    nodes = plan_nodes(member_ways_asof(members, way_geoms))
    for python_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert python_node not in nodes, nodes
