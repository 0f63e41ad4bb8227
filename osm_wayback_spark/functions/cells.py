"""Hierarchical spatial cell index (the engine's H3/S2 analog).

The north rule requires H3/S2-style cell partitioning for the
spatial joins; no H3/S2 library ships in this environment, so the
engine defines its own deterministic hierarchy: the Web-Mercator
quadtree. A cell at resolution r is the (x, y) tile at zoom r,
packed into one long:

    cell_id = r * 2^58 + x * 2^29 + y          (r ≤ 28)

Pure arithmetic — expressible identically in Spark Columns, numpy,
and the DuckDB oracle. Parent/child/neighbor relations are integer
math, which is all the PIP/kNN candidate generation needs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .tiles import tile_x, tile_y

DEFAULT_RES = 7
_XY_BITS = 29
_R_SHIFT = 2**58
_X_SHIFT = 2**_XY_BITS


def cell_id(lon: Column, lat: Column, res: int = DEFAULT_RES) -> Column:
    x = tile_x(lon, res)
    y = tile_y(lat, res)
    return (F.lit(res) * F.lit(_R_SHIFT) + x * F.lit(_X_SHIFT) + y).cast("long")


def tile_xy_cols(lon: Column, lat: Column, res: Column) -> tuple[Column, Column]:
    """(x, y) tile coordinates with a COLUMN resolution (same math as
    functions.tiles.tile_x/tile_y, n = 2^res computed in-row)."""
    import math as _m

    n = F.pow(F.lit(2.0), res.cast("double"))
    x = (
        F.greatest(
            F.lit(0.0),
            F.least(n - F.lit(1.0), F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n)),
        )
    ).cast("long")
    from .tiles import MAX_LAT

    clamped = F.greatest(F.lit(-MAX_LAT), F.least(F.lit(MAX_LAT), lat))
    rad = F.radians(clamped)
    merc = F.log(F.tan(rad) + F.lit(1.0) / F.cos(rad))
    y = (
        F.greatest(
            F.lit(0.0),
            F.least(
                n - F.lit(1.0),
                F.floor((F.lit(1.0) - merc / F.lit(_m.pi)) / F.lit(2.0) * n),
            ),
        )
    ).cast("long")
    return x, y


def pack_cell_cols(res: Column, x: Column, y: Column) -> Column:
    """Column twin of pack_cell."""
    return (
        res.cast("long") * F.lit(_R_SHIFT) + x.cast("long") * F.lit(_X_SHIFT) + y
    ).cast("long")


def parent_cell_cols(res_fine: Column, x: Column, y: Column, res: Column) -> Column:
    """Cell id at the COARSER resolution ``res`` derived from finest-
    res tile coordinates by pure integer math: the quadtree parent is
    x >> Δ, y >> Δ (Δ = res_fine - res). Exact — floor(v·2^rf) >> Δ
    = floor(v·2^(rf-Δ)) for v ≥ 0, and the [0, 2^r-1] clamps commute
    with the shift — so this equals computing tile_xy_cols directly
    at ``res``, without re-running the trig per resolution."""
    # x >> Δ for non-negative x, as exact double math (x < 2^29 and
    # 2^Δ are both exact doubles; the Python shiftright wrapper only
    # takes a literal shift)
    div = F.pow(F.lit(2.0), (res_fine - res).cast("double"))
    return pack_cell_cols(
        res,
        F.floor(x.cast("double") / div).cast("long"),
        F.floor(y.cast("double") / div).cast("long"),
    )


def pack_cell(res: int, x, y) -> int:
    return res * _R_SHIFT + x * _X_SHIFT + y


def unpack_cell(cell: int) -> tuple[int, int, int]:
    res = cell // _R_SHIFT
    rem = cell % _R_SHIFT
    return res, rem // _X_SHIFT, rem % _X_SHIFT


def cover_bbox(
    min_lon: float, min_lat: float, max_lon: float, max_lat: float,
    res: int = DEFAULT_RES,
) -> list[int]:
    """All cell ids whose tile intersects the bbox (driver/kernel-side
    polyfill used for polygon candidate generation)."""
    import math as _m

    n = 2**res
    def _tx(lon): return min(n - 1, max(0, int((lon + 180.0) / 360.0 * n)))
    def _ty(lat):
        lat = min(85.05112878, max(-85.05112878, lat))
        rad = _m.radians(lat)
        merc = _m.log(_m.tan(rad) + 1.0 / _m.cos(rad))
        return min(n - 1, max(0, int((1.0 - merc / _m.pi) / 2.0 * n)))

    x0, x1 = _tx(min_lon), _tx(max_lon)
    y0, y1 = _ty(max_lat), _ty(min_lat)  # y grows southward
    return [
        pack_cell(res, x, y)
        for x in range(x0, x1 + 1)
        for y in range(y0, y1 + 1)
    ]


def neighbor_cells(x: Column, y: Column, res: int, ring: int = 1) -> Column:
    """``array<long>`` of the (2·ring+1)² cell block centered on tile
    (x, y) at ``res`` — the Column twin of ``neighbors`` below
    (longitude wraps via pmod, y rows outside [0, 2^res) dropped).
    Pure integer math inside whole-stage codegen: zero Python."""
    n = 2**res
    offs = F.sequence(F.lit(-ring), F.lit(ring))
    return F.flatten(
        F.transform(
            offs,
            lambda dx: F.transform(
                F.filter(offs, lambda dy: ((y + dy) >= 0) & ((y + dy) < n)),
                lambda dy: (
                    F.lit(res * _R_SHIFT)
                    + F.pmod(x + dx, F.lit(n)) * F.lit(_X_SHIFT)
                    + (y + dy)
                ).cast("long"),
            ),
        )
    )


def neighbors(cell: int, ring: int = 1) -> list[int]:
    """The (2·ring+1)² cell block centered on `cell` (kNN expansion)."""
    res, x, y = unpack_cell(cell)
    n = 2**res
    out = []
    for dx in range(-ring, ring + 1):
        for dy in range(-ring, ring + 1):
            nx, ny = x + dx, y + dy
            if 0 <= ny < n:
                out.append(pack_cell(res, nx % n, ny))  # wrap longitude
    return out
