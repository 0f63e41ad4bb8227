"""PIP + kNN operators vs brute-force Python oracles."""

import json
import random

import pytest
from pyspark.sql import functions as F

from osm_wayback_spark.operators.spatial import knn_brute, knn_cells, point_in_polygon


@pytest.fixture(scope="module")
def pts(spark):
    rng = random.Random(7)
    rows = [
        (i, rng.uniform(-179, 179), rng.uniform(-80, 80)) for i in range(400)
    ]
    return rows, spark.createDataFrame(rows, "point_id long, lon double, lat double")


def test_pip_rectangles_match_bbox(spark, pts):
    rows, pdf = pts
    polys = []
    for pid in range(6):
        lon0, lat0 = pid * 40 - 150.5, pid * 20 - 70.5
        polys.append(
            (pid, json.dumps([[[lon0, lat0], [lon0 + 30, lat0], [lon0 + 30, lat0 + 15], [lon0, lat0 + 15], [lon0, lat0]]]))
        )
    poly_df = spark.createDataFrame(polys, "polygon_id long, rings_json string")
    got = {
        (r.point_id, r.polygon_id)
        for r in point_in_polygon(pdf, poly_df, res=4).collect()
    }
    exp = set()
    for pid, rj in polys:
        ring = json.loads(rj)[0]
        lon0, lat0, lon1, lat1 = ring[0][0], ring[0][1], ring[1][0], ring[2][1]
        for i, lon, lat in rows:
            if lon0 < lon < lon1 and lat0 < lat < lat1:
                exp.add((i, pid))
    assert got == exp
    assert len(exp) > 20


def test_pip_polygon_with_hole(spark):
    outer = [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]]
    hole = [[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0], [4.0, 4.0]]
    poly_df = spark.createDataFrame(
        [(1, json.dumps([outer, hole]))], "polygon_id long, rings_json string"
    )
    pts_df = spark.createDataFrame(
        [(1, 2.0, 2.0), (2, 5.0, 5.0), (3, 11.0, 5.0)],
        "point_id long, lon double, lat double",
    )
    got = {r.point_id for r in point_in_polygon(pts_df, poly_df, res=4).collect()}
    assert got == {1}  # inside hole and outside both excluded


def test_knn_brute_matches_python(spark, pts):
    rows, pdf = pts
    queries = spark.createDataFrame(
        [(0, 10.0, 10.0), (1, -100.0, 40.0)], "query_id long, lon double, lat double"
    )
    got = {
        (r.query_id, r.rank): r.point_id
        for r in knn_brute(pdf, queries, k=3).collect()
    }
    for qid, qlon, qlat in [(0, 10.0, 10.0), (1, -100.0, 40.0)]:
        ranked = sorted(
            rows, key=lambda p: ((p[1] - qlon) ** 2 + (p[2] - qlat) ** 2, p[0])
        )[:3]
        for rank, p in enumerate(ranked, 1):
            assert got[(qid, rank)] == p[0]


def test_knn_cells_subset_of_brute(spark, pts):
    rows, pdf = pts
    queries = spark.createDataFrame(
        [(0, 10.0, 10.0)], "query_id long, lon double, lat double"
    )
    cells = knn_cells(pdf, queries, k=3, res=3, ring=2).collect()
    assert 0 < len(cells) <= 3
    # every cell-path neighbor must be a real point; ranks consistent
    brute = {r.point_id for r in knn_brute(pdf, queries, k=50).collect()}
    assert {r.point_id for r in cells} <= brute


def test_pip_huge_polygon_coarsens_not_blows(spark, pts):
    # near-global polygon at fine res: polyfill must coarsen, results
    # still exact
    rows, pdf = pts
    big = [[[-179.0, -80.0], [179.0, -80.0], [179.0, 80.0], [-179.0, 80.0], [-179.0, -80.0]]]
    poly_df = spark.createDataFrame(
        [(1, json.dumps(big))], "polygon_id long, rings_json string"
    )
    got = {r.point_id for r in point_in_polygon(pdf, poly_df, res=12).collect()}
    exp = {i for i, lon, lat in rows if -179 < lon < 179 and -80 < lat < 80}
    assert got == exp


def test_parent_cell_derivation_exact(spark):
    """The single-pass PIP point side derives coarser-res cells from
    the finest-res (x, y) by integer math; must equal computing
    the cell id directly at each res — including clamp edges (±180
    lon, beyond-Mercator lats)."""
    from osm_wayback_spark.functions.cells import (
        pack_cell_cols,
        parent_cell_cols,
        tile_xy_cols,
    )

    rng = random.Random(13)
    rows = [(i, rng.uniform(-180, 180), rng.uniform(-89, 89)) for i in range(300)]
    rows += [
        (1000, -180.0, 0.0), (1001, 180.0, 0.0), (1002, 0.0, 89.9),
        (1003, 0.0, -89.9), (1004, 179.9999, 85.05), (1005, -179.9999, -85.05),
    ]
    df = spark.createDataFrame(rows, "point_id long, lon double, lat double")
    rmax = 12
    xf, yf = tile_xy_cols(F.col("lon"), F.col("lat"), F.lit(rmax))
    base = df.withColumns({"_xf": xf, "_yf": yf})
    for r in (2, 5, 9, 12):
        out = base.select(
            "point_id",
            parent_cell_cols(
                F.lit(rmax), F.col("_xf"), F.col("_yf"), F.lit(r)
            ).alias("derived"),
            pack_cell_cols(
                F.lit(r), *tile_xy_cols(F.col("lon"), F.col("lat"), F.lit(r))
            ).alias("direct"),
        ).collect()
        for row in out:
            assert row.derived == row.direct, (r, row.point_id)


def test_pip_single_pass_point_side(spark, pts, optimized_exprs):
    """The point side's expensive projection appears ONCE in the plan
    (one tan/log pair), not once per distinct res in use."""
    rows, pdf = pts
    big = [[[-179.0, -80.0], [179.0, -80.0], [179.0, 80.0], [-179.0, 80.0], [-179.0, -80.0]]]
    small = [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]]
    poly_df = spark.createDataFrame(
        [(1, json.dumps(big)), (2, json.dumps(small))],
        "polygon_id long, rings_json string",
    )
    out = point_in_polygon(pdf, poly_df, res=12)  # mixed res guaranteed
    names = optimized_exprs(out)
    assert names["Tan"] == 1, names


def test_knn_exact_matches_brute(spark, pts):
    from osm_wayback_spark.operators.spatial import knn_exact

    rows, pdf = pts
    queries = spark.createDataFrame(
        [(i, float(i * 25 - 100), float(i * 11 - 30)) for i in range(8)],
        "query_id long, lon double, lat double",
    )
    exact = {
        (r.query_id, r.rank): r.point_id
        for r in knn_exact(pdf, queries, k=4, res=4, ring=1).collect()
    }
    brute = {
        (r.query_id, r.rank): r.point_id
        for r in knn_brute(pdf, queries, k=4).collect()
    }
    assert exact == brute


def test_knn_exact_leaves_no_persisted_frames(spark, pts):
    """knn_exact persists the ring-candidate frame while the
    certificate is derived, but must release it before returning
    (round-4 verdict: it leaked one cached frame per call — the same
    session-lifetime pattern fixed in _guarantee_k and
    knn_cells(expand=True))."""
    from osm_wayback_spark.operators.spatial import knn_exact

    def persisted_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(str(k)) for k in jmap.keySet().toArray()}

    _rows, pdf = pts
    queries = spark.createDataFrame(
        [(i, float(i * 25 - 100), float(i * 11 - 30)) for i in range(8)],
        "query_id long, lon double, lat double",
    )
    before = persisted_ids()
    knn_exact(pdf, queries, k=4, res=4, ring=1).count()
    leaked = persisted_ids() - before
    assert not leaked, f"persisted RDDs leaked by knn_exact: {leaked}"


def test_knn_cells_plan_has_no_python_row_udf(spark, plan_nodes):
    """The ring expansion must stay native (neighbor_cells column
    math): no Python evaluation node (BatchEvalPython, where a
    PythonUDF runs, or ArrowEvalPython) may appear in the physical
    plan of the single-ring path."""
    from pyspark.sql import functions as F

    from osm_wayback_spark.operators.spatial import knn_cells

    pts = spark.range(100).select(
        F.col("id").alias("point_id"),
        (F.col("id") * 3.7 % 360 - 180).alias("lon"),
        (F.col("id") * 1.3 % 170 - 85).alias("lat"),
    )
    q = spark.range(5).select(
        F.col("id").alias("query_id"),
        (F.col("id") * 31.0 - 60.0).alias("lon"),
        (F.col("id") * 17.0 - 40.0).alias("lat"),
    )
    nodes = plan_nodes(knn_cells(pts, q, k=3, res=4, ring=1))
    for python_node in ("BatchEvalPython", "ArrowEvalPython"):
        assert python_node not in nodes, nodes
