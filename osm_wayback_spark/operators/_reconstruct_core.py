"""Pure-Python geometry-reconstruction core (no Spark imports).

A faithful re-implementation of the reference's stage-4 semantics
(geometry-reconstruction/*.js) written fresh from its observed
behavior; wrapped by operators/reconstruction.py as an Arrow
flat-map. Kept pure so property tests can hammer it directly.

Intentionally preserved reference quirks (SURVEY.md §2.1):
- minor versions carry NO @changeset (the source reads an undefined
  member, way-history-builder.js:320-327 — JSON.stringify drops it);
- ``@validUntil: false`` (node/relation last version,
  node-history-builder.js:45) vs ``null`` (way last version,
  way-history-builder.js:398) inconsistency;
- ``prevNode`` ends as the LAST time-sorted node version after the
  validSince loop (way-history-builder.js:85), so the empty-filter
  fallbacks return the newest — not the as-of — version;
- an empty majorVersion coordinates array is truthy in JS, so a major
  version with zero resolvable nodes still emits a feature;
- the minor-changeset pruning deletes the CURRENT changeset when its
  max is within 60 s of the previous one (way-history-builder.js:268 —
  the comment says "previous" but the code pushes the current key);
- JS ``||`` backfills treat 0 like undefined (Python ``or`` matches).
"""

from __future__ import annotations

import copy
from bisect import bisect_right
from typing import Any

# way-history-builder.js:3-7 (node/relation builders declare 5 min but
# never use it).
MINOR_CHANGESET_VERSION_THRESHOLD = 60
CHANGESET_THRESHOLD = 60

# map-geom-reconstruction.js:30-45 defaults.
CONFIG = {
    "GEOMETRY_ONLY": False,
    "INCLUDE_DIFFS_ON_MAJOR_VERSIONS": False,
    "INCLUDE_FULL_PROPERTIES_ON_MAJOR_VERSIONS": True,
    "INCLUDE_FULL_PROPERTIES_ON_MINOR_VERSIONS": True,
}


def fold_tags(base: dict, rec: dict) -> dict:
    """reconstructMajorOSMTags (map-geom-reconstruction.js:11-28):
    apply aA, take aM[k][1], delete aD keys. Mutates & returns base."""
    if rec.get("aA"):
        for k, v in rec["aA"].items():
            base[k] = v
    if rec.get("aM"):
        for k, pv in rec["aM"].items():
            base[k] = pv[1]
    if rec.get("aD"):
        for k in rec["aD"]:
            base.pop(k, None)
    return base


def _sorted_node_versions(node_locations: dict, node_ref: int):
    """Per-ref preparation (way-history-builder.js:41-53): changeset
    entries → time-sorted, location-bearing version list. Returns
    None (ref unknown) or the list (possibly empty ≙ all redacted).

    Split out of the filter so `_build_way` can memoize it: the sort
    is identical for every major version of the way, and the
    reference re-sorts per (version, ref) only because its builder is
    per-line anyway.
    """
    # keys are ints when fed Arrow-native maps, strings when fed
    # parsed JSON (the reference's wire format) — accept both.
    by_changeset = node_locations.get(node_ref)
    if by_changeset is None:
        by_changeset = node_locations.get(str(node_ref))
    if by_changeset is None:
        return None
    # JS Object.values of integer-like keys iterates in ascending
    # numeric key order; lodash sortBy is stable → sort by t with
    # ascending-changeset tiebreak.
    entries = [
        {**v, "c": int(k)}
        for k, v in sorted(by_changeset.items(), key=lambda kv: int(kv[0]))
    ]
    node_versions = sorted(entries, key=lambda n: n["t"])
    return [n for n in node_versions if n.get("p") is not None]


_UNPREPARED = object()  # sentinel: "no memoized sort supplied"


def _get_node_versions(
    node_locations: dict,
    node_ref: int,
    valid_since,
    valid_until,
    changeset,
    prepared=_UNPREPARED,
):
    """way-history-builder.js:32-155. Returns list | None | False.

    ``prepared`` short-circuits `_sorted_node_versions` with a
    memoized result (kernel hot path); None is a valid memo value
    (ref unknown), hence the sentinel default.
    """
    node_versions = (
        prepared
        if prepared is not _UNPREPARED
        else _sorted_node_versions(node_locations, node_ref)
    )
    if node_versions is None:
        return None
    if not node_versions:
        return False  # "LIKELY REDACTED"
    if len(node_versions) == 1:
        return node_versions

    prev_node = node_versions[0]
    prev_not_added = None
    filtered: list[dict] = []
    if valid_since:
        for node in node_versions:
            # OVERRIDE 1: changeset match admits older versions.
            if node["c"] == changeset:
                filtered.append(node)
            elif node["t"] >= valid_since:
                filtered.append(node)
            else:
                prev_not_added = dict(node)
            prev_node = node  # reassigned every iteration (quirk)
        if not filtered:
            return [prev_node]
        # as-of fallback: first in-window node is >60 s late.
        if prev_not_added is not None and filtered[0]["t"] > valid_since + CHANGESET_THRESHOLD:
            filtered.insert(0, prev_not_added)
    else:
        filtered = node_versions

    # The JS "stay safe from atomic changes" deep copy
    # (way-history-builder.js:106 JSON.parse(JSON.stringify(...)))
    # only changes object identity — nothing downstream mutates the
    # node records — so a list copy is semantically identical.
    filterable = list(filtered)
    if valid_until:
        # OVERRIDE 2: matching changeset survives the until-filter.
        filterable = [
            v for v in filterable if v["t"] < valid_until or v["c"] == changeset
        ]
        if not filterable:
            return [prev_node]
    if len(filterable) == 1:
        return filterable
    # Consecutive identical coordinates collapse (js:127-140).
    diff_geoms = [filterable[0]]
    prev_p = filterable[0]["p"]
    for v in filterable[1:]:
        if prev_p[0] != v["p"][0] or prev_p[1] != v["p"][1]:
            diff_geoms.append(v)
            prev_p = v["p"]
    return diff_geoms


def _build_all_possible(
    node_locations: dict,
    node_refs,
    valid_since,
    valid_until,
    changeset,
    memo: dict | None = None,
):
    """way-history-builder.js:169-337. ``memo`` caches the per-ref
    time-sorted version lists across the way's major versions. Each
    ref's possible versions are indexed once per call (first version
    per changeset; versions and times sorted by time), so a minor
    changeset's lookup is a dict hit or a bisection, not a scan."""
    versions: list[list[dict]] = []
    for ref in node_refs:
        ref = int(ref)
        if memo is None:
            prepared = _sorted_node_versions(node_locations, ref)
        elif ref in memo:
            prepared = memo[ref]
        else:
            prepared = memo[ref] = _sorted_node_versions(node_locations, ref)
        possible = _get_node_versions(
            node_locations, ref, valid_since, valid_until, changeset,
            prepared=prepared,
        )
        if possible:
            versions.append(list(possible))

    major = [a[0] for a in versions]
    minor_out = None
    max_len = max((len(a) for a in versions), default=0)
    if max_len > 1:
        minor_changesets: dict[int, dict] = {}
        for v in versions:
            for u in v:
                mc = minor_changesets.get(u["c"])
                if mc is not None:
                    mc["max"] = max(mc["max"], u["t"])
                    mc["min"] = min(mc["min"], u["t"])
                else:
                    minor_changesets[u["c"]] = {
                        "min": u["t"],
                        "max": u["t"],
                        "u": u.get("u"),
                        "h": u.get("h"),
                        "nodes": [],
                    }
        delete_me = [changeset]  # the major version's own changeset
        prev_time = None
        for ckey in sorted(minor_changesets):
            # closed before this major version → can't cause a minor.
            # (valid_since may be False ≡ 0, matching JS coercion.)
            if minor_changesets[ckey]["max"] < (valid_since or 0):
                delete_me.append(ckey)
            if prev_time is not None:
                if (
                    minor_changesets[ckey]["max"] - MINOR_CHANGESET_VERSION_THRESHOLD
                    < prev_time
                ):
                    delete_me.append(ckey)
            prev_time = minor_changesets[ckey]["max"]
        for ckey in delete_me:
            minor_changesets.pop(ckey, None)

        index = []
        for v in versions:
            first_by_changeset: dict = {}
            for u in v:
                first_by_changeset.setdefault(u["c"], u)
            nv = sorted(v, key=lambda u: u["t"])
            index.append((first_by_changeset, nv, [u["t"] for u in nv]))

        countable = []
        idx = 1
        for ckey in sorted(minor_changesets):
            obj = minor_changesets[ckey]
            for first_by_changeset, nv, ts in index:
                node = first_by_changeset.get(ckey)
                if node is None:
                    # the last time-sorted version at or before max,
                    # else the earliest (a one-version ref's only one)
                    node = nv[bisect_right(ts, obj["max"], 1) - 1]
                obj["nodes"].append(node)
            countable.append(
                {
                    "minorVersion": idx,
                    # obj.c is undefined in the source → minor
                    # versions never get a changeset.
                    "validSince": obj["max"],
                    "user": obj["h"],
                    "uid": obj["u"],
                    "coordinates": [p["p"] for p in obj["nodes"]],
                }
            )
            idx += 1
        minor_out = countable

    return {"majorVersion": [g["p"] for g in major], "minorVersions": minor_out}


def _build_way(history: list[dict], node_locations: dict) -> dict:
    """way-history-builder.js:347-443 → {major_version: [features]}."""
    hg: dict[int, list[dict]] = {}
    n = len(history)
    memo: dict[int, list | None] = {}
    for i, ver in enumerate(history):
        valid_since = ver["t"] if i > 0 else False
        valid_until = history[i + 1]["t"] - CHANGESET_THRESHOLD if i < n - 1 else False
        if ver.get("n") is None:
            continue
        mvn = ver["i"]
        geoms = _build_all_possible(
            node_locations, ver["n"], valid_since, valid_until, ver.get("c"),
            memo=memo,
        )
        # geometries.majorVersion is an array — always truthy in JS,
        # even when empty.
        hg[mvn] = [
            {
                "type": "Feature",
                "properties": {
                    "@version": mvn,
                    "@minorVersion": 0,
                    "@user": ver.get("h"),
                    "@changeset": ver.get("c"),
                    "@uid": ver.get("u"),
                    "@validSince": ver["t"],
                    "@validUntil": history[i + 1]["t"] if i < n - 1 else None,
                },
                "geometry": {
                    "type": "LineString",
                    "coordinates": geoms["majorVersion"],
                },
            }
        ]
        mv = geoms["minorVersions"]
        if mv:
            hg[mvn][0]["properties"]["@validUntil"] = mv[0]["validSince"]
            for j, m in enumerate(mv):
                hg[mvn].append(
                    {
                        "type": "Feature",
                        "geometry": {
                            "type": "LineString",
                            "coordinates": m["coordinates"],
                        },
                        "properties": {
                            "@version": mvn,
                            "@minorVersion": m["minorVersion"],
                            # no @changeset (undefined quirk)
                            "@user": m["user"],
                            "@uid": m["uid"],
                            "@validSince": m["validSince"],
                            "@validUntil": mv[j + 1]["validSince"]
                            if j < len(mv) - 1
                            else None,
                        },
                    }
                )
            if i < n - 1:
                hg[mvn][-1]["properties"]["@validUntil"] = history[i + 1]["t"]
    return hg


def _build_node(history: list[dict]) -> dict:
    """node-history-builder.js:26-77 — every version emitted, deleted
    ones with null geometry; record fields spread at entry top level."""
    hg: dict[int, list[dict]] = {}
    n = len(history)
    for i, ver in enumerate(history):
        p = ver.get("p")
        entry: dict[str, Any] = {
            "geometry": {"type": "Point", "coordinates": p} if p is not None else None,
            "properties": {
                "@validSince": ver["t"],
                "@validUntil": history[i + 1]["t"] if i < n - 1 else False,
            },
        }
        entry.update({k: v for k, v in ver.items() if k != "p"})
        hg[ver["i"]] = [entry]
    return hg


def _build_relation(history: list[dict], current_geometry) -> dict:
    """relation-history-builder.js — the GEOMETRY FAKER: current
    geometry copied onto every version."""
    hg: dict[int, list[dict]] = {}
    n = len(history)
    for i, ver in enumerate(history):
        entry: dict[str, Any] = {
            "geometry": copy.deepcopy(current_geometry),
            "properties": {
                "@validSince": ver["t"],
                "@validUntil": history[i + 1]["t"] if i < n - 1 else False,
            },
        }
        entry.update(dict(ver))
        hg[ver["i"]] = [entry]
    return hg


def reconstruct_feature(
    element_type: str,
    osm_id: int,
    current_geometry: dict | None,
    history: list[dict] | None,
    node_locations: dict | None,
    config: dict | None = None,
) -> list[dict]:
    """map-geom-reconstruction.js:47-295 per-line map fn → the list of
    per-(major, minor)-version output Features (WRITE_EVERY_GEOMETRY
    mode)."""
    cfg = {**CONFIG, **(config or {})}
    # len() (not truthiness): history may be a numpy array when fed
    # straight from the Arrow boundary.
    if history is None or len(history) == 0:
        return []

    if element_type == "node":
        hg = _build_node(history)
    elif node_locations is not None:
        # KEY PRESENCE, not truthiness (map-geom-reconstruction.js:82
        # checks `'nodeLocations' in properties`): a way with a
        # present-but-EMPTY nodeLocations map still gets a
        # WayGeometryBuilder (degraded empty-coordinate geometries),
        # it is not skipped. The pipeline itself never produces {}
        # (unresolvable ways carry NULL — locations.py inner join),
        # so this only affects direct API callers — round-3 advice.
        hg = _build_way(history, node_locations)
    elif element_type == "relation":
        hg = _build_relation(history, current_geometry)
    else:
        return []  # counted noNodeLocations in the reference

    geometry_type = current_geometry.get("type") if current_geometry else None
    out: list[dict] = []
    major_tags: dict[str, str] = {}
    for hist_obj in history:
        major_tags = fold_tags(major_tags, hist_obj)
        key = hist_obj["i"]
        for idx, entry in enumerate(hg.get(key, [])):
            geometry = entry["geometry"]
            # Polygon re-closure for ways whose current geometry is
            # areal (map-geom-reconstruction.js:130-134).
            if (
                element_type == "way"
                and geometry_type in ("Polygon", "MultiPolygon")
                and geometry is not None
            ):
                geometry = {
                    "type": "Polygon",
                    "coordinates": [geometry["coordinates"]],
                }

            if cfg["GEOMETRY_ONLY"]:
                props = {
                    "@validSince": entry["properties"]["@validSince"],
                    "@validUntil": entry["properties"]["@validUntil"],
                }
            else:
                props = dict(entry["properties"])
                props["@id"] = osm_id
                # JS `||` backfill from entry top level (node/relation
                # spreads); 0/None both fall through, like JS.
                props["@user"] = props.get("@user") or entry.get("h")
                props["@uid"] = props.get("@uid") or entry.get("u")
                cs = props.get("@changeset") or entry.get("c")
                if "@changeset" in props or entry.get("c") is not None:
                    if cs is not None:
                        props["@changeset"] = cs
                    else:
                        props.pop("@changeset", None)  # undefined → dropped
                props["@version"] = props.get("@version") or key
                if idx == 0:
                    if cfg["INCLUDE_DIFFS_ON_MAJOR_VERSIONS"]:
                        for dk in ("aA", "aM", "aD"):
                            if hist_obj.get(dk) is not None:
                                props[dk] = hist_obj[dk]
                    if cfg["INCLUDE_FULL_PROPERTIES_ON_MAJOR_VERSIONS"]:
                        props = {**props, **major_tags}
                else:
                    if cfg["INCLUDE_FULL_PROPERTIES_ON_MINOR_VERSIONS"]:
                        props = {**props, **major_tags}
            props.pop("n", None)
            # JSON.stringify drops undefined members: a missing
            # backfill source leaves @user/@uid undefined → absent.
            # (@validSince/@validUntil keep false/null — JS false and
            # null both survive stringify.)
            for k in ("@user", "@uid"):
                if k in props and props[k] is None:
                    del props[k]
            out.append({"type": "Feature", "geometry": geometry, "properties": props})
    return out
