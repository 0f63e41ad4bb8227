"""Sinks (SURVEY.md rows S9, F7).

- ``to_topojson_history``: the reference's WRITE_TOPOJSON_HISTORY
  output mode (map-geom-reconstruction.js:257-275), backed by the
  pure-Python topology encoder in functions/topojson.py.
- ``write_mbtiles``: the reference's final artifact
  (run.sh:65 tippecanoe → .mbtiles): a real MBTiles 1.3 sqlite file
  (TMS tile addressing, unique tile index, metadata table) whose
  tile payloads are gzip'd Mapbox Vector Tile 2.1 protobufs encoded
  by the pure-Python functions/mvt.py (``format: pbf`` — full format
  parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_mbtiles(
    tiles: DataFrame,
    path: str,
    name: str = "osm_wayback_spark",
    feature_col: str = "feature_json",
    layer_name: str = "features",
) -> dict:
    """Export an ``assign_tiles`` output (z, x, y, …, feature_json)
    into a REAL `.mbtiles` sqlite container — the reference's final
    artifact shape (run.sh:65: tippecanoe → osm-wayback.mbtiles).

    tile_data is a gzip'd Mapbox Vector Tile 2.1 protobuf
    (pure-Python encoder, functions/mvt.py; ``metadata.format =
    "pbf"``) — full format parity with the tippecanoe artifact.

    Spec fidelity (MBTiles 1.3): the ``tiles`` table uses the TMS
    scheme — ``tile_row = 2^z - 1 - y`` (the XYZ y-flip) — with the
    spec's unique index, plus the required ``metadata`` table.

    Scale shape: per-tile feature lists are aggregated DISTRIBUTEDLY
    (one groupBy(z, x, y) with a sorted collect_list → deterministic
    bytes) and the MVT encoding runs in an Arrow-batched kernel on
    the executors (pure per-tile math) — only finished blobs stream
    through the driver into sqlite via ``toLocalIterator`` (one
    partition at a time, never the corpus). A single-file sqlite
    artifact is inherently single-writer; the reference pays the
    same serial step (tippecanoe runs on one node over the full
    export).
    """
    import gzip
    import sqlite3
    from collections.abc import Iterator

    import pandas as pd

    from ..functions.mvt import encode_tile_from_json

    per_tile = (
        tiles.groupBy("z", "x", "y")
        .agg(F.sort_array(F.collect_list(F.col(feature_col))).alias("_feats"))
        .select("z", "x", "y", "_feats")
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = [
                encode_tile_from_json(
                    list(feats), int(z), int(x), int(y), layer_name
                )
                for z, x, y, feats in zip(
                    pdf["z"], pdf["x"], pdf["y"], pdf["_feats"]
                )
            ]
            yield pd.DataFrame(
                {"z": pdf["z"], "x": pdf["x"], "y": pdf["y"], "_data": blobs}
            )

    encoded = per_tile.mapInPandas(
        kernel, schema="z int, x long, y long, _data binary"
    )

    con = sqlite3.connect(path)
    try:
        cur = con.cursor()
        cur.execute("DROP TABLE IF EXISTS tiles")
        cur.execute("DROP TABLE IF EXISTS metadata")
        cur.execute(
            "CREATE TABLE tiles (zoom_level integer, tile_column integer, "
            "tile_row integer, tile_data blob)"
        )
        cur.execute("CREATE TABLE metadata (name text, value text)")
        n_tiles = 0
        zmin = zmax = None
        for row in encoded.toLocalIterator():
            # fixed mtime → byte-deterministic output
            data = gzip.compress(bytes(row._data), mtime=0)
            tms_row = (1 << row.z) - 1 - row.y
            cur.execute(
                "INSERT INTO tiles VALUES (?, ?, ?, ?)",
                (row.z, row.x, tms_row, sqlite3.Binary(data)),
            )
            n_tiles += 1
            zmin = row.z if zmin is None else min(zmin, row.z)
            zmax = row.z if zmax is None else max(zmax, row.z)
        cur.execute(
            "CREATE UNIQUE INDEX tile_index ON tiles "
            "(zoom_level, tile_column, tile_row)"
        )
        meta = {
            "name": name,
            "format": "pbf",
            "compression": "gzip",
            "minzoom": str(zmin if zmin is not None else 0),
            "maxzoom": str(zmax if zmax is not None else 0),
            "type": "overlay",
            "version": "1",
        }
        cur.executemany(
            "INSERT INTO metadata VALUES (?, ?)", sorted(meta.items())
        )
        con.commit()
        return {"tiles": n_tiles, "minzoom": zmin, "maxzoom": zmax}
    finally:
        con.close()


def to_topojson_history(
    features: list[dict], quantization: int | None = None
) -> str:
    """WRITE_TOPOJSON_HISTORY encoding (map-geom-reconstruction.js:
    257-275): ``topojson.topology(newHistoryObject)`` over the
    per-version history FEATURE ARRAY (the reference passes the array
    itself, so objects are keyed "0", "1", … — reproduced). The
    encoder is the pure-Python topology implementation in
    functions/topojson.py; the reference passes no quantization."""
    import json

    from ..functions.topojson import topology

    return json.dumps(
        topology(features, quantization),
        separators=(",", ":"),
        # Arrow-native inputs carry coordinates as numpy arrays
        default=lambda o: o.tolist(),
    )
