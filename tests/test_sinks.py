from osm_wayback_spark.sources.sinks import to_topojson_history


def test_topojson_empty_history():
    import json

    t = json.loads(to_topojson_history([]))
    assert t == {"type": "Topology", "objects": {}, "arcs": []}
