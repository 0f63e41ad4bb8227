"""Unit tests of the pure-Python reconstruction core on hand-built
fixtures exercising every branch of way-history-builder.js semantics
(SURVEY.md §2.1 + quirks)."""

import hypothesis.strategies as st
from hypothesis import given, settings

from osm_wayback_spark.operators._reconstruct_core import (
    MINOR_CHANGESET_VERSION_THRESHOLD,
    _build_all_possible,
    _get_node_versions,
    _sorted_node_versions,
    fold_tags,
    reconstruct_feature,
)


def _locs(**nodes):
    """nodes: id -> {changeset: (t, p)}"""
    out = {}
    for nid, by_cs in nodes.items():
        out[nid.lstrip("n")] = {
            str(cs): {"p": p, "t": t, "i": 1, "u": 1, "h": "u"}
            for cs, (t, p) in by_cs.items()
        }
    return out


def test_fold_tags():
    base = {}
    base = fold_tags(base, {"aA": {"a": "1", "b": "2"}})
    assert base == {"a": "1", "b": "2"}
    base = fold_tags(base, {"aM": {"a": ["1", "9"]}, "aD": {"b": "2"}})
    assert base == {"a": "9"}
    base = fold_tags(base, {})  # equal-maps version: no diff members
    assert base == {"a": "9"}


def test_get_node_versions_single():
    locs = _locs(n1={10: (1000, [1.0, 2.0])})
    got = _get_node_versions(locs, 1, False, False, 99)
    assert [g["p"] for g in got] == [[1.0, 2.0]]


def test_get_node_versions_missing_and_redacted():
    assert _get_node_versions({}, 1, False, False, 0) is None
    locs = {"1": {"10": {"p": None, "t": 5, "i": 1, "u": 1, "h": "u"}}}
    assert _get_node_versions(locs, 1, False, False, 0) is False


def test_changeset_match_override_admits_older():
    # node edited in changeset 7 BEFORE validSince; way major version
    # is changeset 7 → the old node version must be admitted.
    locs = _locs(n1={7: (500, [0.0, 0.0]), 9: (2000, [1.0, 1.0])})
    got = _get_node_versions(locs, 1, 1000, False, 7)
    assert [g["c"] for g in got] == [7, 9]


def test_asof_fallback_when_first_in_window_late():
    # first in-window node is >60 s after validSince → previous
    # version is unshifted as the as-of base.
    locs = _locs(n1={5: (900, [0.0, 0.0]), 8: (1200, [1.0, 1.0])})
    got = _get_node_versions(locs, 1, 1000, False, 99)
    assert [g["c"] for g in got] == [5, 8]
    # but if the first in-window is within 60 s, no unshift
    locs2 = _locs(n1={5: (900, [0.0, 0.0]), 8: (1050, [1.0, 1.0])})
    got2 = _get_node_versions(locs2, 1, 1000, False, 99)
    assert [g["c"] for g in got2] == [8]


def test_prevnode_quirk_is_last_version():
    # All versions too old AND not matching → [prevNode] where
    # prevNode ended as the LAST time-sorted version (js:85 quirk).
    locs = _locs(n1={5: (100, [0.0, 0.0]), 6: (200, [1.0, 1.0])})
    got = _get_node_versions(locs, 1, 1000, False, 99)
    assert [g["c"] for g in got] == [6]


def test_consecutive_identical_coordinates_collapse():
    locs = _locs(
        n1={5: (100, [0.0, 0.0]), 6: (200, [0.0, 0.0]), 7: (300, [1.0, 1.0])}
    )
    got = _get_node_versions(locs, 1, False, False, 99)
    assert [g["c"] for g in got] == [5, 7]


def test_valid_until_filter_with_fallback():
    locs = _locs(n1={5: (5000, [0.0, 0.0]), 6: (6000, [1.0, 1.0])})
    # everything at/after validUntil → fallback [prevNode] (=last)
    got = _get_node_versions(locs, 1, False, 4000, 99)
    assert [g["c"] for g in got] == [5]  # no validSince → prevNode = first
    # changeset match survives the until-filter (OVERRIDE 2)
    got2 = _get_node_versions(locs, 1, False, 5500, 6)
    assert [g["c"] for g in got2] == [5, 6]


def test_minor_versions_basic():
    # 2-node way; node 2 edited later by a foreign changeset → one
    # minor version with validSince = that changeset's max time.
    locs = _locs(
        n1={10: (1000, [0.0, 0.0])},
        n2={10: (1000, [1.0, 1.0]), 20: (5000, [2.0, 2.0])},
    )
    got = _build_all_possible(locs, [1, 2], False, False, 10)
    assert got["majorVersion"] == [[0.0, 0.0], [1.0, 1.0]]
    mv = got["minorVersions"]
    assert len(mv) == 1
    assert mv[0]["minorVersion"] == 1
    assert mv[0]["validSince"] == 5000
    assert mv[0]["coordinates"] == [[0.0, 0.0], [2.0, 2.0]]
    assert "changeset" not in mv[0]  # the undefined-changeset quirk


def test_minor_changeset_pruning_within_threshold():
    # two foreign changesets 30 s apart → the LATER one is pruned
    # (code deletes the current key, not the previous).
    locs = _locs(
        n2={
            10: (1000, [1.0, 1.0]),
            20: (5000, [2.0, 2.0]),
            21: (5030, [3.0, 3.0]),
        },
        n1={10: (1000, [0.0, 0.0])},
    )
    got = _build_all_possible(locs, [1, 2], False, False, 10)
    mv = got["minorVersions"]
    assert [m["validSince"] for m in mv] == [5000]


def test_reconstruct_node_feature():
    history = [
        {"i": 1, "c": 5, "t": 100, "u": 1, "h": "a", "p": [0.0, 0.0],
         "aA": {"k": "v"}},
        {"i": 2, "c": 6, "t": 200, "u": 2, "h": "b", "p": [1.0, 1.0],
         "aM": {"k": ["v", "w"]}},
    ]
    out = reconstruct_feature("node", 42, {"type": "Point", "coordinates": [1.0, 1.0]}, history, None)
    assert len(out) == 2
    p0, p1 = out[0]["properties"], out[1]["properties"]
    assert p0["@validSince"] == 100 and p0["@validUntil"] == 200
    assert p1["@validUntil"] is False  # node quirk: false, not null
    assert p0["k"] == "v" and p1["k"] == "w"  # folded tags
    assert p0["@id"] == 42 and p0["@version"] == 1 and p1["@version"] == 2
    assert out[0]["geometry"] == {"type": "Point", "coordinates": [0.0, 0.0]}


def test_reconstruct_deleted_node_version_null_geometry():
    history = [
        {"i": 1, "c": 5, "t": 100, "u": 1, "h": "a", "p": [0.0, 0.0], "aA": {}},
        {"i": 2, "c": 6, "t": 200, "u": 2, "h": "b", "d": True},
    ]
    out = reconstruct_feature("node", 1, None, history, None)
    assert out[1]["geometry"] is None


def test_reconstruct_relation_faker():
    geom = {"type": "Point", "coordinates": [5.0, 5.0]}
    history = [
        {"i": 1, "c": 1, "t": 100, "u": 1, "h": "a", "aA": {"type": "route"}},
        {"i": 2, "c": 2, "t": 200, "u": 1, "h": "a"},
    ]
    out = reconstruct_feature("relation", 7, geom, history, None)
    assert len(out) == 2
    assert all(f["geometry"] == geom for f in out)


def test_reconstruct_way_polygon_reclosure():
    locs = _locs(
        n1={10: (1000, [0.0, 0.0])},
        n2={10: (1000, [0.0, 1.0])},
        n3={10: (1000, [1.0, 1.0])},
    )
    history = [
        {"i": 1, "c": 10, "t": 1000, "u": 1, "h": "a",
         "n": [1, 2, 3, 1], "aA": {"building": "yes"}},
    ]
    cur = {"type": "Polygon", "coordinates": [[[0.0, 0.0], [0.0, 1.0], [1.0, 1.0], [0.0, 0.0]]]}
    out = reconstruct_feature("way", 9, cur, history, locs)
    assert len(out) == 1
    g = out[0]["geometry"]
    assert g["type"] == "Polygon"
    assert g["coordinates"] == [[[0.0, 0.0], [0.0, 1.0], [1.0, 1.0], [0.0, 0.0]]]


def test_way_empty_node_locations_key_presence():
    """js:82 checks key PRESENCE of nodeLocations, not truthiness: a
    way with a present-but-EMPTY map still gets a WayGeometryBuilder
    (degraded empty-coordinate geometries), while an ABSENT (None)
    map skips the line entirely (round-3 advice; the pipeline itself
    only ever produces None for unresolvable ways)."""
    history = [
        {"i": 1, "c": 10, "t": 1000, "u": 1, "h": "a",
         "n": [1, 2], "aA": {"highway": "yes"}},
    ]
    cur = {"type": "LineString", "coordinates": [[0.0, 0.0], [1.0, 1.0]]}
    with_empty = reconstruct_feature("way", 9, cur, history, {})
    assert len(with_empty) == 1  # builder defined, degraded geometry
    assert with_empty[0]["geometry"]["coordinates"] == []
    assert reconstruct_feature("way", 9, cur, history, None) == []


def test_way_validity_rechaining_with_minors():
    # major v1 at t=1000, v2 at t=10000; node 2 edited at 5000 by a
    # foreign changeset → v1 gets minor 1; chains:
    # major1.until = 5000, minor1.until = next major t (10000).
    locs = _locs(
        n1={10: (1000, [0.0, 0.0])},
        n2={10: (1000, [1.0, 1.0]), 20: (5000, [2.0, 2.0])},
    )
    history = [
        {"i": 1, "c": 10, "t": 1000, "u": 1, "h": "a", "n": [1, 2], "aA": {}},
        {"i": 2, "c": 30, "t": 10000, "u": 1, "h": "a", "n": [1, 2]},
    ]
    out = reconstruct_feature(
        "way", 3, {"type": "LineString", "coordinates": []}, history, locs
    )
    props = [f["properties"] for f in out]
    v1_major = next(p for p in props if p["@version"] == 1 and p["@minorVersion"] == 0)
    v1_minor = next(p for p in props if p["@version"] == 1 and p["@minorVersion"] == 1)
    v2_major = next(p for p in props if p["@version"] == 2)
    assert v1_major["@validUntil"] == 5000
    assert v1_minor["@validSince"] == 5000
    assert v1_minor["@validUntil"] == 10000
    assert "@changeset" not in v1_minor
    assert v2_major["@validUntil"] is None  # way quirk: null, not false


def test_geometry_only_mode():
    history = [
        {"i": 1, "c": 5, "t": 100, "u": 1, "h": "a", "p": [0.0, 0.0], "aA": {"k": "v"}},
    ]
    out = reconstruct_feature(
        "node", 1, None, history, None, config={"GEOMETRY_ONLY": True}
    )
    assert out[0]["properties"] == {"@validSince": 100, "@validUntil": False}


def test_include_diffs_mode():
    history = [
        {"i": 1, "c": 5, "t": 100, "u": 1, "h": "a", "p": [0.0, 0.0], "aA": {"k": "v"}},
        {"i": 2, "c": 6, "t": 200, "u": 1, "h": "a", "p": [1.0, 1.0],
         "aM": {"k": ["v", "w"]}},
    ]
    out = reconstruct_feature(
        "node", 1, None, history, None,
        config={"INCLUDE_DIFFS_ON_MAJOR_VERSIONS": True},
    )
    assert out[0]["properties"]["aA"] == {"k": "v"}
    assert out[1]["properties"]["aM"] == {"k": ["v", "w"]}


# -- the way index against the loop it replaced -------------------------------


def _reference_build_all_possible(
    node_locations: dict,
    node_refs,
    valid_since,
    valid_until,
    changeset,
    memo: dict | None = None,
):
    """``_build_all_possible`` as it was before the per-ref index,
    verbatim: one scan and one sort per (minor changeset, ref). The
    index must reproduce it exactly."""
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

        countable = []
        idx = 1
        for ckey in sorted(minor_changesets):
            obj = minor_changesets[ckey]
            for v in versions:
                if len(v) == 1:
                    obj["nodes"].append(v[0])
                elif any(u["c"] == ckey for u in v):
                    obj["nodes"].append(next(u for u in v if u["c"] == ckey))
                else:
                    nv = sorted(v, key=lambda u: u["t"])
                    prev_node = nv[0]
                    for u in nv[1:]:
                        if u["t"] > obj["max"]:
                            break
                        prev_node = u
                    obj["nodes"].append(prev_node)
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


# Times come from a few per-case values on a coarse grid, so equal
# timestamps across refs and changesets, the 60 s thresholds and
# collapsing identical coordinates all occur often.
_times = st.integers(min_value=0, max_value=10).map(lambda k: k * 30)
_points = st.sampled_from([[0.0, 0.0], [1.0, 1.0], [2.0, 2.0]])


@st.composite
def _way_cases(draw):
    times = st.sampled_from(draw(st.lists(_times, min_size=1, max_size=5)))
    # "07" and "7" both parse to changeset 7: several versions of one
    # ref in the same changeset, as the reference's JSON keys allow.
    version = st.tuples(
        st.integers(min_value=1, max_value=6),
        st.integers(min_value=0, max_value=1),
        times,
        # None ≙ redacted; a ref can have only redacted versions
        st.one_of(st.none(), _points, _points, _points, _points),
    )
    node_locations = {}
    for ref in range(1, draw(st.integers(min_value=1, max_value=4)) + 1):
        by_changeset = {}
        for cs, zeros, t, p in draw(st.lists(version, min_size=1, max_size=7)):
            by_changeset["0" * zeros + str(cs)] = {
                "p": p, "t": t, "i": 1, "u": cs, "h": f"u{cs}",
            }
        node_locations[str(ref)] = by_changeset
    # refs repeat (closed ways) and include an unknown id
    refs = draw(
        st.lists(
            st.integers(min_value=1, max_value=len(node_locations) + 1),
            min_size=2, max_size=8,
        )
    )
    valid_since = draw(st.one_of(st.just(False), times))
    # a major version's window mostly ends after it starts
    valid_until = draw(
        st.one_of(st.just(False), times, _times.map(lambda d: (valid_since or 0) + d))
    )
    changeset = draw(st.one_of(st.none(), st.integers(min_value=1, max_value=6)))
    return node_locations, refs, valid_since, valid_until, changeset


@given(_way_cases())
@settings(max_examples=500, deadline=None)
def test_build_all_possible_matches_reference_loop(case):
    node_locations, refs, valid_since, valid_until, changeset = case
    expected = _reference_build_all_possible(
        node_locations, refs, valid_since, valid_until, changeset
    )
    assert _build_all_possible(
        node_locations, refs, valid_since, valid_until, changeset
    ) == expected
    # the memoized per-ref sort (_build_way's path) agrees too
    assert _build_all_possible(
        node_locations, refs, valid_since, valid_until, changeset, memo={}
    ) == expected
