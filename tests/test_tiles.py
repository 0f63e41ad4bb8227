"""Tile math + cell index + tile assignment."""

import math

from pyspark.sql import functions as F

from osm_wayback_spark.functions.cells import (
    cover_bbox,
    neighbors,
    pack_cell,
    unpack_cell,
)
from osm_wayback_spark.functions.tiles import tile_x, tile_y
from osm_wayback_spark.operators.tiles import assign_tiles


def _py_tile(lon, lat, z):
    n = 2**z
    x = min(n - 1, max(0, int(math.floor((lon + 180.0) / 360.0 * n))))
    lat = min(85.05112878, max(-85.05112878, lat))
    rad = math.radians(lat)
    merc = math.log(math.tan(rad) + 1.0 / math.cos(rad))
    y = min(n - 1, max(0, int(math.floor((1.0 - merc / math.pi) / 2.0 * n))))
    return x, y


def test_tile_math_matches_python_oracle(spark):
    pts = [
        (0.0, 0.0), (-180.0, 0.0), (179.999, 85.0), (-77.03, 38.89),
        (139.69, 35.68), (-0.1, 51.5), (151.2, -33.8), (0.0, -85.05112878),
    ]
    df = spark.createDataFrame(pts, "lon double, lat double")
    for z in (0, 7, 15):
        rows = df.select(
            tile_x(F.col("lon"), z).alias("x"), tile_y(F.col("lat"), z).alias("y")
        ).collect()
        for (lon, lat), r in zip(pts, rows):
            assert (r.x, r.y) == _py_tile(lon, lat, z), (lon, lat, z)


def test_cell_pack_roundtrip():
    for res, x, y in [(0, 0, 0), (7, 100, 120), (15, 32767, 1)]:
        assert unpack_cell(pack_cell(res, x, y)) == (res, x, y)


def test_cover_bbox_contains_point_cell():
    cells = cover_bbox(-10.0, -10.0, 10.0, 10.0, res=5)
    x, y = _py_tile(0.0, 0.0, 5)
    assert pack_cell(5, x, y) in cells


def test_neighbors_ring():
    c = pack_cell(7, 64, 64)
    ring = neighbors(c, 1)
    assert len(ring) == 9
    assert c in ring


def test_assign_tiles_point(spark):
    df = spark.createDataFrame(
        [("node", 1, '{"type":"Point","coordinates":[-77.03,38.89]}')],
        "element_type string, id long, geometry string",
    )
    rows = assign_tiles(df, z=15).collect()
    assert len(rows) == 1
    assert (rows[0].x, rows[0].y) == _py_tile(-77.03, 38.89, 15)


def test_assign_tiles_line_bounded(spark):
    # continent-spanning line: no bbox blowup, exactly its vertex tiles
    df = spark.createDataFrame(
        [("way", 2, '{"type":"LineString","coordinates":[[-170.0,80.0],[170.0,-80.0]]}')],
        "element_type string, id long, geometry string",
    )
    rows = assign_tiles(df, z=15).collect()
    assert len(rows) == 2


def test_assign_tiles_small_polygon_bbox_cover(spark):
    # a compact polygon gets its full bbox cover, not just vertices
    df = spark.createDataFrame(
        [("way", 3,
          '{"type":"Polygon","coordinates":[[[0.0,0.0],[0.03,0.0],[0.03,0.03],[0.0,0.03],[0.0,0.0]]]}')],
        "element_type string, id long, geometry string",
    )
    rows = assign_tiles(df, z=15).collect()
    xs = {(r.x, r.y) for r in rows}
    x0, y0 = _py_tile(0.0, 0.03, 15)
    x1, y1 = _py_tile(0.03, 0.0, 15)
    expected = {(x, y) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)}
    assert xs == expected
    assert len(expected) > 4  # actually a multi-tile cover


def test_typed_coords_path_matches_regex_path(spark):
    """assign_tiles over the pipeline's typed ``coords`` must produce
    exactly the tile set of the GeoJSON-regexp path (the same features
    without ``coords``)."""
    from pyspark.sql import functions as F

    from osm_wayback_spark import pipeline
    from osm_wayback_spark.operators.tiles import assign_tiles
    from osm_wayback_spark.synth import synth_pages

    pages = synth_pages(spark, 0.001)
    recon = pipeline.reconstruction_pipeline(pages)
    feats = recon.filter(F.col("geometry").isNotNull())
    payload = ("element_type", "id", "version", "minor_version")
    a = assign_tiles(feats.drop("coords"), z=15, payload_cols=payload)
    b = assign_tiles(feats, z=15, payload_cols=payload)
    key_cols = ["z", "x", "y", *payload]
    ka = sorted(tuple(r) for r in a.select(*key_cols).collect())
    kb = sorted(tuple(r) for r in b.select(*key_cols).collect())
    assert ka == kb
