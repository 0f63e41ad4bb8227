"""End-to-end composition of the reference's 5-stage pipeline
(run.sh:18-65) as lazily-composed DataFrame stages:

pages → extract (Arrow kernel) → versions
      → features (latest per entity) / node_locations (window dedup)
      → add_history (join + tag diff + nest)      ≙ add_history.cpp
      → add_node_locations (explode/join/re-nest)  ≙ add_geometry.cpp
      → reconstruct (Arrow kernel)                 ≙ index.js stage 4
      → assign_tiles (column math)                 ≙ tippecanoe z15
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .operators.history import add_history
from .operators.locations import add_node_locations
from .operators.reconstruction import reconstruct
from .sources.extract import (
    dedup_versions,
    extract_versions_native,
    features_from_versions,
    node_locations_from_versions,
)

# the checkpoint stages staged_pipeline writes, in order
STAGES = ("versions", "history_geom", "versions_out")


def build_tables(pages: DataFrame) -> dict[str, DataFrame]:
    """Parse the payload JVM-side (``extract_versions_native``) and
    dedup re-crawled versions last-write-wins (dedup_versions) before
    anything downstream.

    The extracted versions are persisted (MEMORY_AND_DISK): the three
    branches (versions / features / node_locations) form a diamond
    DAG that would otherwise re-scan + re-extract the pages input
    once per branch — free at test scale, 2-3 redundant full scans
    of the (much larger) pages table at 100 TB. The persisted table
    is the small side of the diamond (columnar versions, no html),
    so caching it — not the input — is the right trade; on a cluster
    the executor block manager spills it if needed. Measured at
    sf0.1/local[32]: 9.9 s → 5.7 s end-to-end. (For durable,
    resumable materialization use staged_pipeline instead.)"""
    from pyspark import StorageLevel

    versions_ext = dedup_versions(extract_versions_native(pages)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    versions = versions_ext.drop("geometry_json")
    return {
        "versions": versions,
        "features": features_from_versions(versions_ext),
        "node_locations": node_locations_from_versions(versions),
    }


def history_pipeline(pages: DataFrame) -> DataFrame:
    """pages → features with @history (≙ .history geojsonseq)."""
    t = build_tables(pages)
    return add_history(t["features"], t["versions"])


def geometry_pipeline(pages: DataFrame) -> DataFrame:
    """pages → features with @history + nodeLocations (≙ .history.geometries)."""
    t = build_tables(pages)
    hist = add_history(t["features"], t["versions"])
    return add_node_locations(
        hist, t["node_locations"], refs_source=t["versions"]
    )


def reconstruction_pipeline(
    pages: DataFrame,
    with_feature_json: bool = False,
    with_coords: bool = True,
) -> DataFrame:
    """pages → per-version features (≙ stage-4 WRITE_EVERY_GEOMETRY).

    ``with_coords`` (default True since r7): additionally emit the
    typed flat [lon,lat] array. The kernel already holds the geometry
    as objects, so emitting it costs one list per row — while the
    downstream tile stage otherwise re-derives every vertex from the
    GeoJSON STRING with a regexp (measured 2-3x the whole e2e wall at
    sf0.1; guide §8: move decisions onto typed small columns).
    ``assign_tiles`` picks the column up automatically."""
    return reconstruct(
        geometry_pipeline(pages),
        with_feature_json=with_feature_json,
        with_coords=with_coords,
    )


def staged_pipeline(
    spark,
    pages: DataFrame,
    checkpoint_root: str,
    with_feature_json: bool = False,
) -> DataFrame:
    """The production shape: each reference stage materialized as a
    resumable checkpoint with per-partition lineage
    (plans/lineage.py), mirroring run.sh's staged files
    (README.md:52-62).

    Crucially this also fixes the lazy DAG's one structural
    inefficiency: `build_tables` branches (versions / features /
    node_locations) each re-scan + re-extract the pages input — free
    at test scale, 2-3 redundant full scans at 100 TB. Staging
    `versions` once makes every downstream branch read the (much
    smaller, columnar, (element_type, id)-sorted) table instead.
    """
    from .plans.lineage import run_stage

    versions_ext = run_stage(
        spark, checkpoint_root, "versions",
        lambda: dedup_versions(extract_versions_native(pages)),
    )
    versions = versions_ext.drop("geometry_json")
    geom = run_stage(
        spark, checkpoint_root, "history_geom",
        lambda: add_node_locations(
            add_history(features_from_versions(versions_ext), versions),
            node_locations_from_versions(versions),
            refs_source=versions,
        ),
    )
    recon = run_stage(
        spark, checkpoint_root, "versions_out",
        lambda: reconstruct(geom, with_feature_json=with_feature_json),
    )
    return recon
