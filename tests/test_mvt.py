"""Mapbox Vector Tile 2.1 encoder/decoder (functions/mvt.py) and the
MVT payload of write_mbtiles — format parity with the reference's
tippecanoe artifact (run.sh:65)."""

import gzip
import json
import sqlite3

from osm_wayback_spark.functions.mvt import (
    _ring_area2,
    _unzigzag,
    _varint,
    _zigzag,
    decode_tile,
    encode_tile,
    project,
)


def test_varint_zigzag_roundtrip():
    for n in (0, 1, 127, 128, 300, 2**21, 2**35):
        buf = _varint(n)
        # decode by hand
        val, shift, i = 0, 0, 0
        while True:
            b = buf[i]
            val |= (b & 0x7F) << shift
            i += 1
            if not b & 0x80:
                break
            shift += 7
        assert val == n and i == len(buf)
    for n in (0, 1, -1, 2, -2, 4096, -4096, 2**31, -(2**31)):
        assert _unzigzag(_zigzag(n)) == n


def test_point_roundtrip_with_properties_and_id():
    feat = {
        "type": "Feature",
        "id": 42,
        "geometry": {"type": "Point", "coordinates": [-77.03, 38.89]},
        "properties": {
            "name": "dc",
            "pop": 700000,
            "ratio": 0.5,
            "flag": True,
            "neg": -3,
        },
    }
    z, x, y = 7, 36, 48
    data = encode_tile([feat], z, x, y, layer_name="pages")
    layers = decode_tile(data)
    assert list(layers) == ["pages"]
    layer = layers["pages"]
    assert layer["version"] == 2 and layer["extent"] == 4096
    (f,) = layer["features"]
    assert f["id"] == 42 and f["type"] == "POINT"
    assert f["properties"] == {
        "name": "dc",
        "pop": 700000,
        "ratio": 0.5,
        "flag": True,
        "neg": -3,
    }
    assert f["parts"] == [[project(-77.03, 38.89, z, x, y)]]


def test_negative_and_string_ids_demote_to_property():
    """Feature.id is uint64: a negative int id must NOT hit the
    unsigned varint (it would never terminate) — it travels as the
    $id property, same as string ids."""
    feats = [
        {
            "type": "Feature",
            "id": -5,
            "geometry": {"type": "Point", "coordinates": [0.0, 0.0]},
            "properties": {},
        },
        {
            "type": "Feature",
            "id": "way/12",
            "geometry": {"type": "Point", "coordinates": [1.0, 1.0]},
            "properties": {},
        },
    ]
    layers = decode_tile(encode_tile(feats, 1, 1, 0))
    f_neg, f_str = layers["features"]["features"]
    assert f_neg["id"] is None and f_neg["properties"]["$id"] == -5
    assert f_str["id"] is None and f_str["properties"]["$id"] == "way/12"


def test_linestring_and_polygon_winding():
    line = {
        "type": "Feature",
        "geometry": {
            "type": "LineString",
            "coordinates": [[10.0, 50.0], [10.1, 50.05], [10.2, 50.0]],
        },
        "properties": {"kind": "road"},
    }
    # exterior given COUNTER-clockwise (GeoJSON convention) with a
    # clockwise hole — the encoder must flip both to MVT winding
    poly = {
        "type": "Feature",
        "geometry": {
            "type": "Polygon",
            "coordinates": [
                [[10.0, 50.0], [10.2, 50.0], [10.2, 50.1], [10.0, 50.1], [10.0, 50.0]],
                [[10.05, 50.02], [10.05, 50.05], [10.1, 50.05], [10.1, 50.02], [10.05, 50.02]],
            ],
        },
        "properties": {"kind": "building"},
    }
    z = 10
    x, _ = divmod(int((10.1 + 180) / 360 * (1 << z)), 1)
    # use the tile containing the geometry so coords are in-extent
    px, py = project(10.1, 50.05, z, 0, 0, 1)
    x, y = int(px), int(py)
    data = encode_tile([line, poly], z, x, y)
    feats = decode_tile(data)["features"]["features"]
    assert [f["type"] for f in feats] == ["LINESTRING", "POLYGON"]
    assert len(feats[0]["parts"]) == 1 and len(feats[0]["parts"][0]) == 3
    rings = feats[1]["parts"]
    assert len(rings) == 2
    # ClosePath closes each ring
    assert rings[0][0] == rings[0][-1] and rings[1][0] == rings[1][-1]
    # spec winding: exterior positive area, interior negative
    assert _ring_area2(rings[0][:-1]) > 0
    assert _ring_area2(rings[1][:-1]) < 0


def test_multi_geometries_roundtrip():
    mp = {
        "type": "Feature",
        "geometry": {
            "type": "MultiPoint",
            "coordinates": [[0.01, 0.01], [0.02, 0.02]],
        },
        "properties": {},
    }
    ml = {
        "type": "Feature",
        "geometry": {
            "type": "MultiLineString",
            "coordinates": [
                [[0.0, 0.0], [0.01, 0.01]],
                [[0.02, 0.0], [0.03, 0.01]],
            ],
        },
        "properties": {},
    }
    mpoly = {
        "type": "Feature",
        "geometry": {
            "type": "MultiPolygon",
            "coordinates": [
                [[[0.0, 0.0], [0.01, 0.0], [0.01, 0.01], [0.0, 0.01], [0.0, 0.0]]],
                [[[0.02, 0.0], [0.03, 0.0], [0.03, 0.01], [0.02, 0.01], [0.02, 0.0]]],
            ],
        },
        "properties": {},
    }
    z, x, y = 9, 256, 255  # tile containing (0..0.03, 0..0.02)
    feats = decode_tile(encode_tile([mp, ml, mpoly], z, x, y))["features"][
        "features"
    ]
    assert [f["type"] for f in feats] == ["POINT", "LINESTRING", "POLYGON"]
    assert len(feats[0]["parts"]) == 2  # MultiPoint → 2 MoveTo runs
    assert len(feats[1]["parts"]) == 2
    assert len(feats[2]["parts"]) == 2  # two exterior rings
    for ring in feats[2]["parts"]:
        assert _ring_area2(ring[:-1]) > 0  # both exterior, spec winding


def test_key_value_tables_deduplicate():
    feats = [
        {
            "type": "Feature",
            "geometry": {"type": "Point", "coordinates": [0.0, 0.0]},
            "properties": {"kind": "node", "v": 1},
        }
        for _ in range(50)
    ]
    data = encode_tile(feats, 1, 1, 0)
    # 50 features sharing one (kind=node, v=1) pair: the layer keeps
    # exactly 2 keys and 2 values — the tables deduplicate
    layer = decode_tile(data)["features"]
    assert len(layer["features"]) == 50
    assert all(
        f["properties"] == {"kind": "node", "v": 1} for f in layer["features"]
    )
    # size sanity: far smaller than 50 copies of the strings
    assert len(data) < 50 * 20


def test_write_mbtiles_mvt_payload(spark, tmp_path):
    """write_mbtiles writes a real MBTiles 1.3 container of spec MVT
    tiles: TMS y-flip, unique tile index, metadata format = pbf, every
    tile blob gunzips to a decodable vector tile whose features carry
    the input geometries (co-located points share one tile), and the
    export is byte-deterministic across input partitioning."""
    from osm_wayback_spark.operators.tiles import assign_tiles
    from osm_wayback_spark.sources.sinks import write_mbtiles

    df = spark.createDataFrame(
        [
            ("node", 1, '{"type":"Point","coordinates":[-77.03,38.89]}'),
            ("node", 2, '{"type":"Point","coordinates":[-77.03,38.89]}'),
            ("node", 3, '{"type":"Point","coordinates":[10.0,50.0]}'),
        ],
        "element_type string, id long, geometry string",
    )
    tiles = assign_tiles(df, z=7)
    path = str(tmp_path / "out.mbtiles")
    stats = write_mbtiles(tiles, path, name="t")
    assert stats["tiles"] == 2 and stats["minzoom"] == stats["maxzoom"] == 7

    con = sqlite3.connect(path)
    meta = dict(con.execute("SELECT name, value FROM metadata").fetchall())
    assert meta["format"] == "pbf" and meta["compression"] == "gzip"
    assert meta["minzoom"] == meta["maxzoom"] == "7"
    # spec: unique index present
    idx = [r[1] for r in con.execute("PRAGMA index_list(tiles)").fetchall()]
    assert "tile_index" in idx
    rows = con.execute(
        "SELECT zoom_level, tile_column, tile_row, tile_data FROM tiles"
    ).fetchall()
    con.close()
    n_feats = 0
    sizes = []
    for z, col, tms_row, blob in rows:
        y = (1 << z) - 1 - tms_row
        layer = decode_tile(gzip.decompress(blob))["features"]
        assert layer["version"] == 2
        sizes.append(len(layer["features"]))
        for f in layer["features"]:
            assert f["type"] == "POINT"
            (pt,) = f["parts"][0:1]
            # in-tile coordinates within the extent grid
            assert 0 <= pt[0][0] <= 4096 and 0 <= pt[0][1] <= 4096
            n_feats += 1
        # cross-check against the expected projection
        src = [
            json.loads(r.feature_json)["coordinates"]
            for r in tiles.filter(
                (tiles.x == col) & (tiles.y == y)
            ).collect()
        ]
        got = sorted(p[0] for f in layer["features"] for p in f["parts"])
        exp = sorted(project(lon, lat, z, col, y) for lon, lat in src)
        assert got == exp
    assert n_feats == 3
    # the two co-located points share one tile
    assert sorted(sizes) == [1, 2]

    path2 = str(tmp_path / "out2.mbtiles")
    write_mbtiles(assign_tiles(df.repartition(3), z=7), path2, name="t")
    con1, con2 = sqlite3.connect(path), sqlite3.connect(path2)
    q = "SELECT zoom_level, tile_column, tile_row, tile_data FROM tiles"
    b1 = {tuple(r[:3]): r[3] for r in con1.execute(q)}
    b2 = {tuple(r[:3]): r[3] for r in con2.execute(q)}
    con1.close(), con2.close()
    assert b1 == b2
