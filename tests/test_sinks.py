import json

from osm_wayback_spark.sources.sinks import to_topojson_history


def test_topojson_empty_history():
    import json

    t = json.loads(to_topojson_history([]))
    assert t == {"type": "Topology", "objects": {}, "arcs": []}


def test_write_mbtiles_container(spark, tmp_path):
    """Real MBTiles 1.3 container (payload="json" option): TMS
    y-flip, unique tile index, metadata table, gzip'd deterministic
    per-tile payload that decodes back to the input features."""
    import gzip
    import sqlite3

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
    stats = write_mbtiles(tiles, path, name="t", payload="json")
    assert stats["tiles"] == 2 and stats["minzoom"] == stats["maxzoom"] == 7

    con = sqlite3.connect(path)
    rows = con.execute(
        "SELECT zoom_level, tile_column, tile_row, tile_data FROM tiles "
        "ORDER BY tile_column"
    ).fetchall()
    assert len(rows) == 2
    src = {(r.x, r.y): r for r in tiles.collect()}
    for z, col, tms_row, blob in rows:
        y = (1 << z) - 1 - tms_row  # undo the TMS flip
        assert (col, y) in src
        feats = gzip.decompress(blob).decode().splitlines()
        exp = 2 if col == src[min(src)].x and len(src) == 2 else 1
        assert len(feats) in (1, 2)
        for f in feats:
            json.loads(f)
    # the two co-located points share one tile payload of 2 lines
    sizes = sorted(
        len(gzip.decompress(b).decode().splitlines()) for *_a, b in rows
    )
    assert sizes == [1, 2]
    meta = dict(con.execute("SELECT name, value FROM metadata").fetchall())
    assert meta["format"] == "json" and meta["minzoom"] == "7"
    # spec: unique index present
    idx = [r[1] for r in con.execute("PRAGMA index_list(tiles)").fetchall()]
    assert "tile_index" in idx
    con.close()

    # deterministic bytes: re-export produces identical tile blobs
    path2 = str(tmp_path / "out2.mbtiles")
    write_mbtiles(
        assign_tiles(df.repartition(3), z=7), path2, name="t", payload="json"
    )
    con2 = sqlite3.connect(path2)
    blobs1 = dict(
        (tuple(r[:3]), r[3]) for r in rows
    )
    blobs2 = {
        tuple(r[:3]): r[3]
        for r in con2.execute(
            "SELECT zoom_level, tile_column, tile_row, tile_data FROM tiles"
        )
    }
    con2.close()
    assert blobs1 == blobs2
