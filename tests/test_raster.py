import json

from osm_wayback_spark.functions.cells import cover_bbox, pack_cell
from osm_wayback_spark.operators.raster import _cell_center, rasterize_polygons


def test_cell_center_inside_bounds():
    c = pack_cell(6, 20, 30)
    lon, lat = _cell_center(c)
    # the center's point cover at the cell's res is the cell itself
    assert cover_bbox(lon, lat, lon, lat, 6) == [c]


def test_rasterize_square(spark):
    # 20°×20° square at res 5 (cell ≈ 11.25° wide): centers of the
    # fully-contained cells only
    rings = [[[-10.0, -10.0], [10.0, -10.0], [10.0, 10.0], [-10.0, 10.0], [-10.0, -10.0]]]
    df = spark.createDataFrame(
        [(1, json.dumps(rings))], "polygon_id long, rings_json string"
    )
    cells = [r.cell for r in rasterize_polygons(df, res=5).collect()]
    assert cells
    for c in cells:
        lon, lat = _cell_center(c)
        assert -10 < lon < 10 and -10 < lat < 10


def test_zonal_stats_matches_python(spark):
    """Zonal aggregation equals a per-cell python oracle: rasterize
    two disjoint rectangles, lay a deterministic value per cell, and
    compare every statistic."""
    import json

    from osm_wayback_spark.operators.raster import (
        rasterize_polygons,
        zonal_stats,
    )

    def rect(pid, lon0, lat0, w, h):
        return (pid, json.dumps([[
            [lon0, lat0], [lon0 + w, lat0], [lon0 + w, lat0 + h],
            [lon0, lat0 + h], [lon0, lat0],
        ]]))

    polys = spark.createDataFrame(
        [rect(1, 0.0, 0.0, 20.0, 10.0), rect(2, 60.0, 20.0, 12.0, 12.0)],
        "polygon_id long, rings_json string",
    )
    zones = {(r.polygon_id, r.cell) for r in rasterize_polygons(polys, res=6).collect()}
    assert zones
    cells = sorted({c for _p, c in zones})
    values = spark.createDataFrame(
        [(c, float(c % 97)) for c in cells], "cell long, value double"
    )
    got = {r.polygon_id: r for r in zonal_stats(values, polys, res=6).collect()}
    for pid in (1, 2):
        vs = [float(c % 97) for p, c in zones if p == pid]
        assert got[pid].n_cells == len(vs)
        assert got[pid].v_min == min(vs)
        assert got[pid].v_max == max(vs)
        assert abs(got[pid].v_sum - sum(vs)) < 1e-9
        assert abs(got[pid].v_avg - sum(vs) / len(vs)) < 1e-9
