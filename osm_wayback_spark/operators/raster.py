"""Vector → raster conversion over the quadtree cell grid (north rule:
"H3/S2 index, point-in-polygon, kNN, raster↔vector").

A "raster" here is the engine's cell table: (cell long, value) at a
fixed resolution — the discrete form every gridded layer reduces to.

- ``rasterize_polygons``: vector → raster. Polygons are polyfilled
  over their bbox cover (Arrow kernel, pure math), then each
  candidate cell keeps only if its CENTER lies inside the rings
  (center-sampling rasterization, the common GIS convention).
- ``zonal_stats``: per-polygon aggregates of a cell-keyed raster.

Both are cell-equi-join / narrow-map shaped: no cross product, no
driver-side geometry.
"""

from __future__ import annotations

import json
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES, cover_bbox, unpack_cell
from .spatial import _rings_contain


def _cell_center(cell: int) -> tuple[float, float]:
    res, x, y = unpack_cell(cell)
    n = 2**res
    lon = (x + 0.5) / n * 360.0 - 180.0
    yn = (y + 0.5) / n
    lat = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * yn))))
    return lon, lat


def rasterize_polygons(
    polygons: DataFrame, res: int = DEFAULT_RES
) -> DataFrame:
    """polygons(polygon_id, rings_json) → (polygon_id, cell) for every
    res-cell whose center is inside the polygon."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for pid, rj in zip(pdf["polygon_id"], pdf["rings_json"]):
                rings = [np.asarray(r, dtype=float) for r in json.loads(rj)]
                outer = rings[0]
                cells = cover_bbox(
                    outer[:, 0].min(), outer[:, 1].min(),
                    outer[:, 0].max(), outer[:, 1].max(), res,
                )
                if not cells:
                    continue
                centers = np.array([_cell_center(c) for c in cells])
                inside = _rings_contain(rings, centers[:, 0], centers[:, 1])
                rows.extend(
                    {"polygon_id": int(pid), "cell": c}
                    for c, ok in zip(cells, inside)
                    if ok
                )
            yield pd.DataFrame(rows, columns=["polygon_id", "cell"])

    return polygons.mapInPandas(kernel, schema="polygon_id long, cell long")


def zonal_stats(
    values: DataFrame,
    polygons: DataFrame,
    res: int = DEFAULT_RES,
) -> DataFrame:
    """Zonal statistics: aggregate a values(cell, value) raster per
    polygon zone → (polygon_id, n_cells, v_min, v_max, v_sum, v_avg).

    Scale shape: the polygon side rasterizes ONCE (bounded per-
    polygon by its bbox cover at ``res``), then a plain equi-join on
    the packed cell id against the (huge) raster meets a map-side-
    combined groupBy(polygon_id) — no geometry test ever touches a
    raster row, so the raster side stays pure columnar scan + one
    shuffle on polygon_id. Zones that cover no raster cell are
    absent (LEFT-join the polygon table afterwards if zeros are
    wanted)."""
    zones = rasterize_polygons(polygons, res)
    return (
        zones.join(values.select("cell", "value"), on="cell")
        .groupBy("polygon_id")
        .agg(
            F.count("*").alias("n_cells"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
            F.sum("value").alias("v_sum"),
            F.avg("value").alias("v_avg"),
        )
    )
