"""F7 + D3 — TopoJSON topology encoder goldens (hand-derived) and the
two whole-object output modes (WRITE_HISTORY_COMPLETE_OBJECT with the
@histrory typo, WRITE_TOPOJSON_HISTORY)."""

import json

from osm_wayback_spark.functions.topojson import topology
from osm_wayback_spark.sources.sinks import to_topojson_history


def _line(coords, version=1):
    return {
        "type": "Feature",
        "properties": {"@version": version},
        "geometry": {"type": "LineString", "coordinates": coords},
    }


def test_identical_versions_share_one_arc():
    t = topology([_line([[0, 0], [1, 0], [2, 0]], 1),
                  _line([[0, 0], [1, 0], [2, 0]], 2)])
    assert t["type"] == "Topology"
    assert t["arcs"] == [[[0, 0], [1, 0], [2, 0]]]
    assert t["objects"]["0"]["arcs"] == [0]
    assert t["objects"]["1"]["arcs"] == [0]
    assert t["objects"]["1"]["properties"] == {"@version": 2}
    assert t["bbox"] == [0, 0, 2, 0]


def test_reversed_version_references_complement():
    t = topology([_line([[0, 0], [1, 0], [2, 0]]),
                  _line([[2, 0], [1, 0], [0, 0]])])
    assert t["arcs"] == [[[0, 0], [1, 0], [2, 0]]]
    assert t["objects"]["0"]["arcs"] == [0]
    assert t["objects"]["1"]["arcs"] == [~0]  # -1


def test_shared_subpath_cuts_at_junctions():
    t = topology([_line([[0, 0], [1, 0], [2, 0]]),
                  _line([[1, 0], [2, 0], [3, 0]])])
    # endpoints of both lines are junctions → three arcs, middle shared
    assert t["arcs"] == [
        [[0, 0], [1, 0]],
        [[1, 0], [2, 0]],
        [[2, 0], [3, 0]],
    ]
    assert t["objects"]["0"]["arcs"] == [0, 1]
    assert t["objects"]["1"]["arcs"] == [1, 2]


def test_interior_junction_from_diverging_neighbor():
    # v2 shares (1,0) but with a different continuation → junction at it
    t = topology([_line([[0, 0], [1, 0], [2, 0]]),
                  _line([[0, 0], [1, 0], [1, 1]])])
    assert t["objects"]["0"]["arcs"] == [0, 1]
    assert t["objects"]["1"]["arcs"] == [0, 2]
    assert t["arcs"][0] == [[0, 0], [1, 0]]


def test_point_feature_keeps_coordinates():
    t = topology([{
        "type": "Feature",
        "properties": {"@version": 1},
        "geometry": {"type": "Point", "coordinates": [5.5, -3.25]},
    }])
    assert t["objects"]["0"] == {
        "type": "Point",
        "coordinates": [5.5, -3.25],
        "properties": {"@version": 1},
    }
    assert t["arcs"] == []


def test_rotated_ring_dedups():
    sq1 = [[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]
    sq2 = [[1, 1], [0, 1], [0, 0], [1, 0], [1, 1]]  # rotation of sq1
    t = topology([
        {"type": "Feature", "properties": {"v": 1},
         "geometry": {"type": "Polygon", "coordinates": [sq1]}},
        {"type": "Feature", "properties": {"v": 2},
         "geometry": {"type": "Polygon", "coordinates": [sq2]}},
    ])
    assert len(t["arcs"]) == 1
    assert t["objects"]["0"]["arcs"] == [[0]]
    assert t["objects"]["1"]["arcs"] == [[0]]


def test_quantization_transform_and_delta():
    t = topology([_line([[0.0, 0.0], [10.0, 10.0]])], quantization=11)
    assert t["transform"] == {"scale": [1.0, 1.0], "translate": [0.0, 0.0]}
    # delta-encoded: absolute first point, then deltas
    assert t["arcs"] == [[[0, 0], [10, 10]]]


def test_to_topojson_history_is_json():
    s = to_topojson_history([_line([[0, 0], [1, 1]])])
    parsed = json.loads(s)
    assert parsed["type"] == "Topology"
    assert parsed["objects"]["0"]["type"] == "LineString"


def test_nohistory_edge_cases_pinned(spark):
    """Pin the two INTENTIONAL noHistory divergences from the
    reference (round-3 advice — acceptable under the default config,
    must not drift silently):

    1. A present-but-EMPTY @history array is treated as noHistory
       here (row passes through, n_versions=0); the reference defines
       a builder and, in complete mode, writes '[]' with the
       '@histrory' string property.
    2. Under GEOMETRY_ONLY=true the noHistory line is the REBUILT
       object with properties stripped to @validSince/@validUntil;
       the reference re-emits the ORIGINAL line verbatim before any
       stripping. (With the default GEOMETRY_ONLY=false the rebuilt
       object carries the full original properties — no divergence.)
    """
    import pyspark.sql.functions as F

    from osm_wayback_spark import pipeline
    from osm_wayback_spark.operators.reconstruction import reconstruct_objects
    from osm_wayback_spark.synth import synth_pages

    pages = synth_pages(spark, 0.001)
    geom = pipeline.geometry_pipeline(pages)
    empty_hist = geom.withColumn(
        "history", F.array().cast(geom.schema["history"].dataType)
    ).limit(10)
    rows = reconstruct_objects(empty_hist, mode="complete").collect()
    assert len(rows) == 10  # every row passes through…
    for r in rows:
        assert r.n_versions == 0
        obj = json.loads(r.object_json)
        assert r.line_json == r.object_json  # …as the rebuilt object
        assert "@histrory" not in obj["properties"]  # divergence 1
        assert obj["properties"]["@type"] == r.element_type

    stripped = reconstruct_objects(
        empty_hist, mode="complete", config={"GEOMETRY_ONLY": True}
    ).collect()
    for r in stripped:
        props = json.loads(r.line_json)["properties"]
        # divergence 2: stripped rebuild, not the original line
        assert set(props) == {"@validSince", "@validUntil"}


def test_way_empty_node_locations_written_not_skipped(spark):
    """Key-presence builder semantics at the DataFrame level: ways
    whose node_locations is an EMPTY map (vs null) are now written in
    complete mode (degraded geometry), matching js:82."""
    import pyspark.sql.functions as F

    from osm_wayback_spark import pipeline
    from osm_wayback_spark.operators.reconstruction import reconstruct_objects
    from osm_wayback_spark.synth import synth_pages

    pages = synth_pages(spark, 0.001)
    geom = pipeline.geometry_pipeline(pages)
    ways = geom.filter("element_type = 'way'").limit(5)
    nl_type = geom.schema["node_locations"].dataType
    emptied = ways.withColumn(
        "node_locations", F.create_map().cast(nl_type)
    )
    nulled = ways.withColumn(
        "node_locations", F.lit(None).cast(nl_type)
    )
    assert reconstruct_objects(emptied, mode="complete").count() == 5
    assert reconstruct_objects(nulled, mode="complete").count() == 0


def test_reconstruct_objects_modes(spark):
    from osm_wayback_spark import pipeline
    from osm_wayback_spark.operators.reconstruction import reconstruct_objects
    from osm_wayback_spark.synth import synth_pages

    pages = synth_pages(spark, 0.001)
    geom = pipeline.geometry_pipeline(pages)
    complete = reconstruct_objects(geom, mode="complete").collect()
    assert complete
    for r in complete[:20]:
        obj = json.loads(r.object_json)
        # the reference's typo'd property, verbatim (js:251)
        assert "@histrory" in obj["properties"]
        feats = json.loads(r.line_json)
        assert isinstance(feats, list) and len(feats) == r.n_versions
        assert obj["properties"]["@histrory"] == r.line_json
        assert all(f["type"] == "Feature" for f in feats)

    topo = reconstruct_objects(geom, mode="topojson").collect()
    by_key = {(r.element_type, r.id): r for r in topo}
    assert set(by_key) == {(r.element_type, r.id) for r in complete}
    n_ways = 0
    for r in topo:
        obj = json.loads(r.object_json)
        assert r.line_json == json.dumps(obj, separators=(",", ":"))
        t2 = json.loads(obj["properties"]["@history"])
        assert t2["type"] == "Topology"
        assert len(t2["objects"]) == r.n_versions
        if r.element_type == "way" and r.n_versions > 1:
            n_ways += 1
            # shared geometry across versions must dedup into fewer
            # arc points than the raw per-version total
            assert len(t2["arcs"]) >= 1
    assert n_ways > 0

    # per-feature version counts agree with WRITE_EVERY_GEOMETRY rows
    every = pipeline.reconstruct(geom)
    per_feat = {
        (r.element_type, r.id): r.n
        for r in every.groupBy("element_type", "id").count()
        .withColumnRenamed("count", "n").collect()
    }
    for r in complete:
        assert per_feat[(r.element_type, r.id)] == r.n_versions


def _geom_df(spark, sf=0.001):
    from osm_wayback_spark import pipeline
    from osm_wayback_spark.synth import synth_pages

    return pipeline.geometry_pipeline(synth_pages(spark, sf))


def test_base_object_keeps_original_properties(spark):
    """GEOMETRY_ONLY=false default: the written object keeps the
    feature's full original properties (tags + osmium attributes),
    with @history replaced by the reconstruction array and
    nodeLocations/@way_nodes stripped (map-geom-reconstruction.js:
    230-243)."""
    from osm_wayback_spark.operators.reconstruction import reconstruct_objects

    geom = _geom_df(spark)
    src = {
        (r.element_type, r.id): r
        for r in geom.select(
            "element_type", "id", "version", "changeset", "ts", "uid",
            "user", "tags"
        ).collect()
    }
    rows = reconstruct_objects(geom, mode="complete").collect()
    checked_tags = 0
    for r in rows[:50]:
        obj = json.loads(r.object_json)
        p = obj["properties"]
        s = src[(r.element_type, r.id)]
        assert p["@version"] == s.version
        assert p["@timestamp"] == s.ts
        assert p["@uid"] == s.uid
        assert p["@user"] == s.user
        assert p["@changeset"] == s.changeset
        assert isinstance(p["@history"], list)
        assert len(p["@history"]) == r.n_versions
        assert "nodeLocations" not in obj and "@way_nodes" not in p
        for k, v in (s.tags or {}).items():
            assert p[k] == v
            checked_tags += 1
    assert checked_tags > 0


def test_no_history_reemits_original_line(spark):
    """status.noHistory (js:281-283): a feature whose line has no
    @history is written back out, not dropped."""
    from pyspark.sql import functions as F

    from osm_wayback_spark.operators.reconstruction import reconstruct_objects

    geom = _geom_df(spark).limit(20).withColumn(
        "history", F.expr("filter(history, x -> false)")
    )
    rows = reconstruct_objects(geom, mode="topojson").collect()
    assert len(rows) == 20
    for r in rows:
        assert r.n_versions == 0
        obj = json.loads(r.line_json)
        assert obj["type"] == "Feature"
        assert "@history" not in obj["properties"]
        assert "@id" in obj["properties"]


def test_topojson_encode_error_skips_feature(spark, monkeypatch):
    """js:269-271 status.topoJSONEncodingError: a topology() failure
    skips the feature instead of failing the task."""
    import osm_wayback_spark.sources.sinks as sinks
    from osm_wayback_spark.operators.reconstruction import reconstruct_objects

    geom = _geom_df(spark)
    n_ok = reconstruct_objects(geom, mode="topojson").count()
    real = sinks.to_topojson_history

    def flaky(feats, quantization=None):
        if len(feats) >= 3:  # fail the multi-version features only
            raise ValueError("boom")
        return real(feats, quantization)

    monkeypatch.setattr(sinks, "to_topojson_history", flaky)
    rows = reconstruct_objects(geom, mode="topojson").collect()
    assert 0 < len(rows) < n_ok
    assert all(r.n_versions < 3 for r in rows)


def test_geometry_only_base_object():
    """js:246-252 — GEOMETRY_ONLY strips the base object's properties
    to @validSince/@validUntil."""
    from osm_wayback_spark.operators.reconstruction import build_history_object

    hist = [{"i": 1, "t": 1000, "c": 5, "u": 7, "h": "a",
             "p": [1.0, 2.0], "n": None, "d": None,
             "aA": {"x": "y"}, "aM": None, "aD": None}]
    obj, feats = build_history_object(
        "node", 42, {"type": "Point", "coordinates": [1.0, 2.0]},
        hist, None, config={"GEOMETRY_ONLY": True},
        feature_props={"@version": 1, "@timestamp": 1000, "tags": {"x": "y"}},
    )
    assert obj["properties"] == {"@validSince": 1000, "@validUntil": False}
    assert feats
