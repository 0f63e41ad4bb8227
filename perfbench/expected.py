"""Expected z15 tile set of a generated input, and the digest both
sides are compared by.

The expected side starts from the generator's own island records and
runs them through the repository's engine-independent oracles
(``tests/oracle.py`` for the version index, history and node-location
nesting; ``tests/oracle_reconstruct.py`` for reconstruction). The
z15 cover is re-derived here the way the ``pages_tiles`` oracle SQL
does it: the distinct tiles of the geometry's vertices, plus the full
bbox cover when that bbox spans at most 256 tiles.

Digest: the row count plus the sum of a 60-bit md5 prefix of each
``z|x|y|element_type|id|version|minor_version`` key. It is
insensitive to row order and sensitive to any changed, lost or
duplicated row; Spark computes the same value with ``md5``/``conv``.
"""

from __future__ import annotations

import hashlib
import json
import math

from tests.oracle import add_history_oracle, build_index, node_locations_oracle
from tests.oracle_reconstruct import reconstruct_rows

Z = 15
BBOX_COVER_MAX = 256
MAX_LAT = 85.05112878
_N = float(2**Z)


def tile_x(lon: float) -> int:
    x = math.floor((lon + 180.0) / 360.0 * _N)
    return max(0, min(int(_N) - 1, x))


def tile_y(lat: float) -> int:
    rad = math.radians(max(-MAX_LAT, min(MAX_LAT, lat)))
    merc = math.log(math.tan(rad) + 1.0 / math.cos(rad))
    y = math.floor((1.0 - merc / math.pi) / 2.0 * _N)
    return max(0, min(int(_N) - 1, y))


def flat_coords(geometry: dict | None) -> list:
    if geometry is None:
        return []
    t, c = geometry.get("type"), geometry.get("coordinates")
    if c is None:
        return []
    if t == "Point":
        return [c]
    if t == "LineString":
        return list(c)
    if t == "Polygon":
        return [p for ring in c for p in ring]
    if t == "MultiPolygon":
        return [p for poly in c for ring in poly for p in ring]
    return []


def tile_cover(pts: list) -> list[tuple[int, int]]:
    """Distinct (x, y) tiles of one geometry, in first-seen order."""
    tiles = list(dict.fromkeys((tile_x(p[0]), tile_y(p[1])) for p in pts))
    lons = [p[0] for p in pts]
    lats = [p[1] for p in pts]
    x0, x1 = tile_x(min(lons)), tile_x(max(lons))
    y0, y1 = tile_y(max(lats)), tile_y(min(lats))
    if (x1 - x0 + 1) * (y1 - y0 + 1) <= BBOX_COVER_MAX:
        bbox = [(x, y) for x in range(x0, x1 + 1) for y in range(y0, y1 + 1)]
        tiles = list(dict.fromkeys(tiles + bbox))
    return tiles


def expected_tiles(islands: list[dict]) -> list[tuple]:
    """→ [(z, x, y, element_type, id, version, minor_version)]."""
    versions, locs, features = build_index(islands)
    histories = add_history_oracle(versions, features)
    nested = node_locations_oracle(histories, features, locs)
    out = []
    for key, feat in features.items():
        for row in reconstruct_rows(
            key[0], key[1], feat.get("geometry"), histories.get(key) or [],
            nested.get(key),
        ):
            if row["geometry"] is None:
                continue
            pts = flat_coords(json.loads(row["geometry"]))
            if not pts:
                continue
            for x, y in tile_cover(pts):
                out.append(
                    (Z, x, y, row["element_type"], row["id"], row["version"],
                     row["minor_version"])
                )
    return out


def row_hash(row: tuple) -> int:
    key = "|".join(str(v) for v in row)
    return int(hashlib.md5(key.encode()).hexdigest()[:15], 16)


def digest(rows) -> dict:
    rows = list(rows)
    return {"rows": len(rows), "hash": sum(row_hash(r) for r in rows)}


def spark_digest(tiles) -> dict:
    """The same digest over an engine tile DataFrame (one action)."""
    from pyspark.sql import functions as F

    key = F.concat_ws(
        "|",
        *[
            F.col(c).cast("string")
            for c in ("z", "x", "y", "element_type", "id", "version", "minor_version")
        ],
    )
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("decimal(38,0)")
    row = tiles.select(h.alias("h")).agg(
        F.count("*").alias("rows"), F.sum("h").alias("hash")
    ).collect()[0]
    return {"rows": int(row["rows"]), "hash": int(row["hash"] or 0)}
