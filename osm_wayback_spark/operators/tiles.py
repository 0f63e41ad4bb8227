"""Tile assignment — the QA-tile op (≙ tippecanoe, run.sh:65).

Point features land in one z15 tile via pure column math; line/area
features explode over the tiles covering their bbox (a superset
cover, like tippecanoe's clipping pass but without geometry
clipping — each tile row carries the full feature JSON, matching
``--no-duplication`` semantics of one authoritative copy per tile).

Scale notes: the geometry-bearing column is parsed ONCE per row with
``from_json``-free column math where possible; bbox + explode is
native (no Python). The output is meant for a (z, x)-partitioned
write, mirroring run.sh's single-zoom .mbtiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tiles import DEFAULT_ZOOM, tile_x, tile_y

TILE_PARTITIONS = ("z", "x")  # the tile table's directory partitioning
# largest bbox cover (in tiles) a geometry gets on top of its vertex tiles
BBOX_COVER_MAX = 256


def _flat_lonlats():
    """array<array<double>> of every [lon,lat] pair in the GeoJSON
    ``geometry`` string — native: regexp extract of number pairs."""
    return F.expr(
        r"""
        transform(
          regexp_extract_all(geometry, '(-?[0-9]+(?:\\.[0-9]+)?(?:[eE][+-]?[0-9]+)?),(-?[0-9]+(?:\\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)', 0),
          s -> array(cast(split(s, ',')[0] as double), cast(split(s, ',')[1] as double))
        )
        """
    )


def assign_tiles(
    features: DataFrame,
    z: int = DEFAULT_ZOOM,
    payload_cols: tuple[str, ...] = ("element_type", "id"),
) -> DataFrame:
    """features with a GeoJSON ``geometry`` column → one row per
    (z, x, y, feature).

    Cover strategy: the distinct tiles of the geometry's VERTICES —
    exact for points, bounded by vertex count for lines/areas (a
    geometry at z15 never explodes into the 32768-wide bbox rows a
    naive bbox cover would produce for a continent-spanning feature).
    Geometries whose bbox cover is small (≤ ``BBOX_COVER_MAX`` tiles)
    additionally get the full bbox cover, so compact areal features
    are present in every tile they touch (tippecanoe semantics);
    beyond the cap only vertex tiles are kept — documented superset/
    subset tradeoff, never a blowup.

    Output: z, x, y, *payload_cols, feature_json.

    The vertices come from the typed ``array<array<double>>`` flat
    [lon,lat] ``coords`` column when the input carries one (the
    reconstruction pipeline's output does), skipping the GeoJSON
    regexp re-parse; without it they are regexp-extracted from the
    GeoJSON string — same tile set either way (pytest-pinned
    equivalence on the full pipeline output).
    """
    if "coords" in features.columns:
        df = features.withColumn("_pts", F.coalesce(
            F.col("coords"), F.array().cast("array<array<double>>")
        ))
    else:
        df = features.withColumn("_pts", _flat_lonlats())
    df = df.filter(F.size("_pts") > 0)
    vert = F.array_distinct(
        F.transform(
            "_pts",
            lambda p: F.struct(
                tile_x(p[0], z).alias("x"), tile_y(p[1], z).alias("y")
            ),
        )
    )
    bounds = df.select(
        *payload_cols,
        F.col("geometry").alias("feature_json"),
        vert.alias("_vt"),
        tile_x(F.array_min(F.transform("_pts", lambda p: p[0])), z).alias("_x0"),
        tile_x(F.array_max(F.transform("_pts", lambda p: p[0])), z).alias("_x1"),
        # y grows southward: max lat → min y
        tile_y(F.array_max(F.transform("_pts", lambda p: p[1])), z).alias("_y0"),
        tile_y(F.array_min(F.transform("_pts", lambda p: p[1])), z).alias("_y1"),
    )
    small = (F.col("_x1") - F.col("_x0") + 1) * (
        F.col("_y1") - F.col("_y0") + 1
    ) <= BBOX_COVER_MAX
    bbox_tiles = F.flatten(
        F.transform(
            F.sequence(F.col("_x0"), F.col("_x1")),
            lambda x: F.transform(
                F.sequence(F.col("_y0"), F.col("_y1")),
                lambda y: F.struct(x.alias("x"), y.alias("y")),
            ),
        )
    )
    tiles = F.when(small, F.array_distinct(F.concat(F.col("_vt"), bbox_tiles))).otherwise(
        F.col("_vt")
    )
    return bounds.select(
        F.lit(z).alias("z"),
        F.explode(tiles).alias("_t"),
        *payload_cols,
        "feature_json",
    ).select(
        "z",
        F.col("_t.x").alias("x"),
        F.col("_t.y").alias("y"),
        *payload_cols,
        "feature_json",
    )


def write_tiles(tiles: DataFrame, path: str) -> None:
    """Materialize the tile table partitioned by (z, x) — the Iceberg/
    parquet stand-in for the .mbtiles artifact; partition pruning on
    (z, x) ≙ tile point lookup."""
    tiles.write.mode("overwrite").partitionBy(*TILE_PARTITIONS).parquet(path)
