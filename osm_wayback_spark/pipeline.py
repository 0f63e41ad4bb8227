"""The reference's 5-stage pipeline (run.sh:18-65) as one ordered stage
table, each stage built from the previous stage's output:

versions      pages → extract_versions_native → dedup_versions
history_geom  → features (latest per entity) / node_locations (window dedup)
              → add_history (join + tag diff + nest)      ≙ add_history.cpp
              → add_node_locations (explode/join/re-nest)  ≙ add_geometry.cpp
versions_out  → reconstruct (Arrow kernel)                 ≙ index.js stage 4
tiles         → assign_tiles (column math)                 ≙ tippecanoe z15

`walk` is the only function that chains the stages, lazily or staged.
"""

from __future__ import annotations

from functools import partial

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from .functions.tiles import DEFAULT_ZOOM
from .operators.history import add_history
from .operators.locations import add_node_locations
from .operators.reconstruction import reconstruct
from .operators.tiles import TILE_PARTITIONS, assign_tiles
from .plans import lineage
from .sources.extract import (dedup_versions, extract_versions_native,
                              features_from_versions, node_locations_from_versions)


def _branches(versions_ext: DataFrame) -> dict[str, DataFrame]:
    """The three tables the history join reads off the versions stage."""
    versions = versions_ext.drop("geometry_json")
    return {
        "versions": versions,
        "features": features_from_versions(versions_ext),
        "node_locations": node_locations_from_versions(versions),
    }


def _history_geom(versions_ext: DataFrame) -> DataFrame:
    t = _branches(versions_ext)
    hist = add_history(t["features"], t["versions"])
    return add_node_locations(hist, t["node_locations"], refs_source=t["versions"])


def _stage_table(zoom: int = DEFAULT_ZOOM):
    """(name, build from the previous stage's output), in order. The
    reconstruct step always emits the typed [lon,lat] ``coords``, which
    the tile stage reads instead of regexp-parsing the GeoJSON."""
    return (
        ("versions", lambda p: dedup_versions(extract_versions_native(p))),
        ("history_geom", _history_geom),
        ("versions_out", partial(reconstruct, with_coords=True)),
        ("tiles", partial(assign_tiles, z=zoom)),
    )


STAGES = tuple(name for name, _ in _stage_table())


def walk(pages: DataFrame, last: str = STAGES[-1], root: str | None = None,
         force: bool = False, zoom: int = DEFAULT_ZOOM) -> DataFrame:
    """Build the stage table from ``pages`` up to and including ``last``.

    Lazy (``root`` None): one plan; the versions table, read three
    times by history_geom, is persisted (MEMORY_AND_DISK; drop with
    ``spark.catalog.clearCache()``), not re-extracted per branch.

    Staged (``root`` set): each stage is a resumable checkpoint under
    ``<root>/<stage>`` (plans/lineage.py, ≙ run.sh's staged files) that
    the next stage reads. The first stage to build (the first without
    a marker, or with ``force`` the first) is stale input to every later
    stage, ``last`` or not: their markers go before anything is
    written, so none stays marked complete over a rebuilt input."""
    stop = STAGES.index(last) + 1
    if root is not None:
        stale = force
        for i, stage in enumerate(STAGES):
            stale = stale or (i < stop and not lineage.stage_complete(root, stage))
            if stale:
                lineage.invalidate(root, stage)
    df = pages
    for name, build in _stage_table(zoom)[:stop]:
        if root is None:
            df = build(df)
            if name == "versions":
                df = df.persist(StorageLevel.MEMORY_AND_DISK)
        else:
            df = lineage.run_stage(
                pages.sparkSession, root, name, partial(build, df),
                partition_by=TILE_PARTITIONS if name == "tiles" else (),
            )
    return df


def build_tables(pages: DataFrame) -> dict[str, DataFrame]:
    """The lazy, persisted versions stage and the tables read off it."""
    return _branches(walk(pages, "versions"))


def geometry_pipeline(pages: DataFrame) -> DataFrame:
    """pages → features with @history + nodeLocations (≙ .history.geometries)."""
    return walk(pages, "history_geom")


def reconstruction_pipeline(pages: DataFrame) -> DataFrame:
    """pages → per-version features (≙ stage-4 WRITE_EVERY_GEOMETRY)."""
    return walk(pages, "versions_out")


def staged_pipeline(spark, pages: DataFrame, checkpoint_root: str) -> DataFrame:
    """``reconstruction_pipeline`` staged under ``checkpoint_root``, the
    tile stage left to the caller (``spark`` is ``pages``' session)."""
    return walk(pages, "versions_out", checkpoint_root)
