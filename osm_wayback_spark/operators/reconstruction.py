"""D1/J4 — the geometry-reconstruction kernel as an Arrow flat-map.

The reference runs a 24-process pool mapping one JSON line → 0..N
per-version features (geometry-reconstruction/index.js:28-32). Here
the same per-feature computation (_reconstruct_core.reconstruct_feature
— the exact as-of/changeset-override/minor-version semantics of
way-history-builder.js) runs inside ``mapInPandas``: Arrow-batched,
one Python worker per core/executor, no per-row JVM↔Python dispatch.

No grouping/shuffle is needed — the add_history + add_node_locations
output already has ONE row per feature with everything nested, so this
stage is embarrassingly parallel (a narrow map), exactly what the
reference's process pool was approximating.

Nested inputs cross the Arrow boundary NATIVELY (history as
array<struct>, node_locations as map<long, map<long, struct>>) — no
JSON round-trip. Arrow hands the kernel dicts/ndarrays directly;
``reconstruct_feature`` treats a None-valued struct field like the
reference's absent JSON member (its hasOwnProperty semantics reduce
to ``.get() is None`` checks throughout). The one JSON emission left
is the output GeoJSON geometry string — the actual wire format.

Spark's worker calls ``importlib.invalidate_caches()`` before every
task. Before 3.13 that re-read ``pyspark.zip``'s directory (always on
the workers' path) through every zipimporter: ~0.2 CPU-s a task. Each
kernel first installs ``_stat_checked_zip_invalidation``, so a worker
pays it once.
"""

from __future__ import annotations

import json
import os
import sys
import zipimport
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..plans.parallel import plan_width
from ..schemas import RECONSTRUCTED
from ._reconstruct_core import reconstruct_feature

_BASE_COLS = [f.name for f in RECONSTRUCTED.fields]


def _np_default(o):
    """json.dumps fallback: Arrow hands coordinate pairs as numpy
    arrays; ``tolist`` restores plain floats (identical repr)."""
    return o.tolist()


def _flat_coords(geometry: dict | None) -> list | None:
    """Every [lon, lat] pair of a reconstructed geometry, flattened —
    the typed twin of tiles._flat_lonlats so the tile stage can skip
    re-parsing the GeoJSON string."""
    if geometry is None:
        return None
    t = geometry.get("type")
    c = geometry.get("coordinates")
    if c is None:
        return None
    if t == "Point":
        return [list(c)]
    if t == "LineString":
        return [list(p) for p in c]
    if t == "Polygon":
        return [list(p) for ring in c for p in ring]
    if t == "MultiPolygon":
        return [list(p) for poly in c for ring in poly for p in ring]
    return None


def rows_for_feature(
    element_type: str,
    osm_id: int,
    geometry: dict | None,
    history: list | None,
    node_locations: dict | None,
    with_feature_json: bool = False,
    with_coords: bool = False,
) -> list[dict]:
    """One add_history+locations row → 0..N typed output rows.

    Object-based (no JSON strings in): used by the Arrow kernel AND
    by the driver-side oracle generator (tools / __spark_entry__) so
    both map reconstructed features to rows identically.
    """
    feats = reconstruct_feature(
        element_type, osm_id, geometry, history, node_locations
    )
    rows = []
    for ft in feats:
        props = ft["properties"]
        vu = props.get("@validUntil")
        tags = {
            k: v for k, v in props.items() if not k.startswith("@") and v is not None
        }
        row = {
            "element_type": element_type,
            "id": osm_id,
            # GEOMETRY_ONLY mode strips identity props
            "version": int(props.get("@version") or 0),
            "minor_version": int(props.get("@minorVersion") or 0),
            "valid_since": props.get("@validSince") or None,
            # quirk: node/relation last version is false, way's is
            # null — both map to SQL NULL here; feature_json keeps
            # the raw distinction for golden comparisons.
            "valid_until": vu
            if isinstance(vu, int) and not isinstance(vu, bool)
            else None,
            "changeset": props.get("@changeset"),
            "uid": props.get("@uid"),
            "user": props.get("@user"),
            "geometry": json.dumps(
                ft["geometry"], separators=(",", ":"), default=_np_default
            )
            if ft["geometry"] is not None
            else None,
            "tags": tags,
        }
        if with_feature_json:
            row["feature_json"] = json.dumps(
                ft, separators=(",", ":"), sort_keys=True, default=_np_default
            )
        if with_coords:
            row["coords"] = _flat_coords(ft["geometry"])
        rows.append(row)
    return rows


def _stat_checked_zip_invalidation() -> None:
    """On Python < 3.13, once: keep an archive's cached directory while
    its (mtime, size, inode) is as when last read. A replaced or new
    archive is still re-read, as Spark's ``addPyFile`` setup needs."""
    zi = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(zi.invalidate_caches, "stamps"):
        return
    reread = zi.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and invalidate_caches.stamps.get(self.archive) == stamp:
            self._files = files
        else:
            reread(self)
            invalidate_caches.stamps[self.archive] = stamp

    invalidate_caches.stamps = {}
    zi.invalidate_caches = invalidate_caches


def _kernel_input(with_locations: DataFrame, cols: list[str]) -> DataFrame:
    """The Python kernel's input: ``with_locations`` as it is when it
    already runs at least defaultParallelism wide, else round-robin
    repartitioned to ``spark.sql.shuffle.partitions``.

    The usual input ends in add_node_locations' join, so its
    shuffle-derived width is kept and the fat nested rows (history
    arrays, node-location maps) cross no second Exchange. Anything
    narrower (a small scan, a ``coalesce(1)``, a broadcast join over a
    one-file scan, whose width is unknown) would otherwise serialize
    the most expensive stage onto a few tasks.
    """
    spark = with_locations.sparkSession
    if plan_width(with_locations) >= spark.sparkContext.defaultParallelism:
        return with_locations.select(*cols)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return with_locations.repartition(n).select(*cols)


def reconstruct(
    with_locations: DataFrame,
    with_feature_json: bool = False,
    with_coords: bool = False,
) -> DataFrame:
    """add_history→add_node_locations output → per-version features.

    Input needs columns: element_type, id, geometry (GeoJSON string),
    history (array<HISTORY_RECORD>), node_locations (nested map,
    nullable). The kernel's input width follows ``_kernel_input``.

    ``with_feature_json=True`` additionally emits the reference's
    line format (one sorted-key GeoJSON Feature string per row) —
    off by default: serializing every feature twice is pure overhead
    when the consumer is columnar (tiles, parquet sinks).
    """
    prepared = _kernel_input(
        with_locations,
        ["element_type", "id", "geometry", "history", "node_locations"],
    )

    extra_fields = []
    if with_feature_json:
        extra_fields.append(T.StructField("feature_json", T.StringType()))
    if with_coords:
        # typed flat [lon,lat] pairs: lets assign_tiles skip re-parsing
        # the GeoJSON string
        extra_fields.append(
            T.StructField(
                "coords", T.ArrayType(T.ArrayType(T.DoubleType()))
            )
        )
    out_cols = _BASE_COLS + [f.name for f in extra_fields]
    # copy — StructType.add mutates the shared schema object
    out_schema = T.StructType(list(RECONSTRUCTED.fields) + extra_fields)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _stat_checked_zip_invalidation()
        for pdf in batches:
            # column-wise accumulation: building one dict-of-lists is
            # several times cheaper than pandas' list-of-dicts path
            cols: dict[str, list] = {c: [] for c in out_cols}
            for et, oid, gj, hist, nl in zip(
                pdf["element_type"],
                pdf["id"],
                pdf["geometry"],
                pdf["history"],
                pdf["node_locations"],
            ):
                geometry = json.loads(gj) if gj else None
                for row in rows_for_feature(
                    et, int(oid), geometry, hist, nl,
                    with_feature_json, with_coords,
                ):
                    for c in out_cols:
                        cols[c].append(row[c])
            if cols["element_type"]:
                yield pd.DataFrame(cols, columns=out_cols)
            # else: skip — an all-empty batch would materialize
            # float64 columns that Arrow can't cast to map/array types

    return prepared.mapInPandas(kernel, schema=out_schema)


def build_history_object(
    element_type: str,
    osm_id: int,
    geometry: dict | None,
    history: list | None,
    node_locations: dict | None,
    config: dict | None = None,
    feature_props: dict | None = None,
) -> tuple[dict, list[dict]]:
    """(base object, newHistoryObject) — the whole-object output
    shapes of map-geom-reconstruction.js:230-275.

    The base object is the INPUT feature: with the reference's default
    GEOMETRY_ONLY=false its full original properties (tags plus the
    osmium export attributes @type/@id/@version/@changeset/@timestamp/
    @uid/@user) are carried through, with only ``nodeLocations`` and
    ``@way_nodes`` stripped (js:237-243) and ``@history`` replaced by
    the reconstructed per-version feature array (js:233). With
    GEOMETRY_ONLY the properties narrow to @validSince/@validUntil/
    @history (js:246-252). ``feature_props`` supplies the original
    attributes/tags; None keeps the minimal @type/@id object (older
    callers/tests)."""
    cfg_geom_only = bool((config or {}).get("GEOMETRY_ONLY", False))
    feats = reconstruct_feature(
        element_type, osm_id, geometry, history, node_locations, config
    )
    props: dict = {"@type": element_type, "@id": osm_id}
    if feature_props:
        for k in ("@version", "@changeset", "@timestamp", "@uid", "@user"):
            if feature_props.get(k) is not None:
                props[k] = feature_props[k]
        for k, v in (feature_props.get("tags") or {}).items():
            if v is not None:
                props[k] = v
    if cfg_geom_only:
        # js:246-252 — strip the base object too
        props = {
            "@validSince": (feature_props or {}).get("@timestamp"),
            "@validUntil": False,
        }
    obj = {
        "type": "Feature",
        "geometry": geometry,
        "properties": props,
    }
    return obj, feats


def reconstruct_objects(
    with_locations: DataFrame,
    mode: str = "complete",
    config: dict | None = None,
) -> DataFrame:
    """The reference's other two stage-4 output modes (D3), one row
    per FEATURE (not per version):

    - ``mode="complete"`` ≙ WRITE_HISTORY_COMPLETE_OBJECT
      (map-geom-reconstruction.js:249-254): the written line is
      ``JSON.stringify(newHistoryObject)`` — the per-version feature
      ARRAY — and the base object gets
      ``properties['@histrory'] = <that string>`` (the reference's
      typo, preserved verbatim).
    - ``mode="topojson"`` ≙ WRITE_TOPOJSON_HISTORY
      (map-geom-reconstruction.js:257-275): the base object gets
      ``properties['@history'] = JSON.stringify(topojson.topology(
      newHistoryObject))`` and the written line is the stringified
      base object.

    → (element_type, id, line_json, object_json, n_versions).
    """
    if mode not in ("complete", "topojson"):
        raise ValueError(f"unknown mode: {mode!r}")
    feat_cols = [
        c for c in ("version", "changeset", "ts", "uid", "user", "tags")
        if c in with_locations.columns
    ]
    prepared = _kernel_input(
        with_locations,
        ["element_type", "id", "geometry", "history", "node_locations",
         *feat_cols],
    )

    from ..sources.sinks import to_topojson_history

    _ATTR = {"version": "@version", "changeset": "@changeset",
             "ts": "@timestamp", "uid": "@uid", "user": "@user"}

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _stat_checked_zip_invalidation()
        for pdf in batches:
            cols: dict[str, list] = {
                "element_type": [], "id": [], "line_json": [],
                "object_json": [], "n_versions": [],
            }
            for idx, (et, oid, gj, hist, nl) in enumerate(zip(
                pdf["element_type"], pdf["id"], pdf["geometry"],
                pdf["history"], pdf["node_locations"],
            )):
                geometry = json.loads(gj) if gj else None
                fprops = None
                if feat_cols:
                    fprops = {
                        _ATTR[c]: pdf[c].iloc[idx]
                        for c in feat_cols if c != "tags"
                    }
                    if "tags" in feat_cols:
                        fprops["tags"] = pdf["tags"].iloc[idx]
                obj, feats = build_history_object(
                    et, int(oid), geometry, hist, nl, config,
                    feature_props=fprops,
                )
                has_history = hist is not None and len(hist) > 0
                if not has_history:
                    # js:281-283 status.noHistory — the ORIGINAL line
                    # is re-emitted verbatim (columnar engine: the
                    # feature re-serialized, without @history).
                    cols["element_type"].append(et)
                    cols["id"].append(int(oid))
                    line = json.dumps(
                        obj, separators=(",", ":"), default=_np_default
                    )
                    cols["line_json"].append(line)
                    cols["object_json"].append(line)
                    cols["n_versions"].append(0)
                    continue
                builder_defined = (
                    # key presence, not truthiness — js:82, see
                    # _reconstruct_core.reconstruct_feature
                    et == "node" or nl is not None or et == "relation"
                )
                if not builder_defined:
                    # js:96-98/276-278 geometryBuilderFailedToDefine:
                    # nothing is written for this line.
                    continue
                if mode == "complete":
                    s = json.dumps(
                        feats, separators=(",", ":"), default=_np_default
                    )
                    # js:233 the object's @history becomes the array,
                    # THEN js:250-251 adds the typo'd string copy.
                    obj["properties"]["@history"] = feats
                    obj["properties"]["@histrory"] = s  # sic — the typo
                    line = s
                else:
                    try:
                        obj["properties"]["@history"] = to_topojson_history(
                            feats
                        )
                    except Exception:  # noqa: BLE001
                        # js:269-271 status.topoJSONEncodingError —
                        # the feature is skipped, the task survives.
                        continue
                    line = json.dumps(
                        obj, separators=(",", ":"), default=_np_default
                    )
                cols["element_type"].append(et)
                cols["id"].append(int(oid))
                cols["line_json"].append(line)
                cols["object_json"].append(
                    json.dumps(obj, separators=(",", ":"), default=_np_default)
                )
                cols["n_versions"].append(len(feats))
            if cols["element_type"]:
                yield pd.DataFrame(
                    cols,
                    columns=[
                        "element_type", "id", "line_json", "object_json",
                        "n_versions",
                    ],
                )

    return prepared.mapInPandas(
        kernel,
        schema=(
            "element_type string, id long, line_json string, "
            "object_json string, n_versions int"
        ),
    )
