"""Seeded page generator for the benchmark workloads.

Every workload is a ``Profile``: an entity mix, version-count
distribution and hot keys. ``generate`` turns (profile,
seed) into page rows in the engine's input format (FIXTURES.md §1):
an ``application/osm+json`` island per OSM page and a ``text`` column
equal to the page's ``<p>`` bodies, unescaped and newline-joined.

All draws come from one ``random.Random`` seeded by (workload, seed,
scale), so the same arguments give byte-identical pages and the
program under test only ever reads the parquet written here.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import hashlib
import html
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = 1_500_000_000
CHANGESET_BUCKET = 600
MAX_NODE_GAP = 4600  # seconds between two edits of a node
FILES = 8  # parquet files per input: enough scan splits for 4+ cores

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

_TAG_VALS = {
    "highway": ["residential", "primary", "secondary", "footway"],
    "name": ["Main St", "Oak Ave", "Hill Rd", "River Way", "Elm St"],
    "surface": ["asphalt", "gravel", "dirt"],
    "lanes": ["1", "2", "3"],
    "building": ["yes", "house", "retail"],
    "amenity": ["cafe", "school", "bench"],
    "ref": ["A1", "B2", "C3"],
}
_TAG_KEYS = sorted(_TAG_VALS)
_USERS = ["alice", "bob", "carol", "dave", "erin", "frank"]
_LANGS = ["en", "es", "de", "fr", "zh"]
_WORDS = (
    "map way node tile history version geometry change survey street "
    "river park bridge town data open world edit trace point line & < >"
).split()


@dataclasses.dataclass(frozen=True)
class Profile:
    entities: int  # ordinary OSM entities (each has 1..n versioned pages)
    mix: tuple[float, float]  # cumulative node, way shares; rest relations
    max_versions: int  # ordinary entities: 1..max_versions versions
    heavy_share: float  # share of each kind with 48-80 versions
    hot_ways: int = 0  # ways with hot_way_versions versions each
    hot_way_versions: int = 0
    hot_nodes: int = 0  # nodes with hot_node_versions versions each
    hot_node_versions: int = 0
    hot_ref_share: float = 0.0  # chance a way ref points at a hot node


PROFILES = {
    # the north-star synth mix: 60/35/5 %, ~2 % heavy, short html
    "pipeline_mixed": Profile(
        entities=3000, mix=(0.60, 0.95), max_versions=8, heavy_share=0.02,
    ),
    # way-dominant; one hot way with thousands of versions, and hot
    # nodes that many ways reference, so that every such way's first
    # version carries a minor version per hot-node edit
    "history_hot": Profile(
        entities=1800, mix=(0.30, 0.95), max_versions=5, heavy_share=0.0,
        hot_ways=1, hot_way_versions=3000,
        hot_nodes=2, hot_node_versions=200, hot_ref_share=0.05,
    ),
}
SMALL_DIVISOR = 16  # the small input: the same profile, 1/16 the size


def scaled(profile: Profile, divisor: int) -> Profile:
    """The same mix at 1/divisor of the size: entities and hot-key
    versions shrink; one of each hot key kind stays."""
    return dataclasses.replace(
        profile,
        entities=max(60, profile.entities // divisor),
        hot_ways=min(profile.hot_ways, 1),
        hot_way_versions=profile.hot_way_versions // divisor,
        hot_nodes=min(profile.hot_nodes, 1),
        hot_node_versions=profile.hot_node_versions // divisor,
    )


def fingerprint() -> str:
    """Changes whenever this generator's code changes, so cached
    inputs generated by an older version are never reused."""
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


# -- entity histories ---------------------------------------------------------


def _tags_sequence(rng: random.Random, n: int) -> list[dict]:
    """Cumulative tag state per version: adds, modifies, deletes and
    equal-map versions all occur."""
    state = {}
    for k in rng.sample(_TAG_KEYS, 2 + rng.randrange(3)):
        state[k] = rng.choice(_TAG_VALS[k])
    out = [dict(state)]
    for _ in range(1, n):
        if rng.random() < 0.25:
            out.append(dict(state))
            continue
        for k in rng.sample(_TAG_KEYS, rng.randrange(3)):
            state[k] = rng.choice(_TAG_VALS[k])
        if len(state) > 1 and rng.random() < 0.3:
            del state[rng.choice(sorted(state))]
        out.append(dict(state))
    return out


def _meta(rng: random.Random, ts: int) -> dict:
    return {
        "ts": ts,
        "changeset": ts // CHANGESET_BUCKET,
        "uid": rng.randrange(1, 500),
        "user": rng.choice(_USERS),
    }


def _node_versions(
    rng: random.Random, nid: int, n: int, ts: int | None = None
) -> list[dict]:
    base = (
        round(rng.uniform(-180.0, 180.0), 7),
        round(rng.uniform(-85.0, 85.0), 7),
    )
    tags = _tags_sequence(rng, n)
    if ts is None:
        ts = BASE_TS + nid * 977
    recs = []
    prev = list(base)
    for v in range(1, n + 1):
        if v > 1:
            # ~12 % of edits stay inside the previous changeset bucket
            # (max-version-wins in the node-location table)
            ts += rng.randrange(5, 60) if rng.random() < 0.12 else (
                CHANGESET_BUCKET + rng.randrange(MAX_NODE_GAP - CHANGESET_BUCKET)
            )
        deleted = 1 < v < n and rng.random() < 0.05
        if v > 1 and rng.random() < 0.15:
            lonlat = list(prev)  # identical consecutive coordinates
        else:
            lonlat = [
                round(base[0] + rng.random() * 1e-4 * (v - 1), 7),
                round(base[1] + rng.random() * 1e-4 * (v - 1), 7),
            ]
        if not deleted:
            prev = lonlat
        recs.append(
            {
                "version": v,
                **_meta(rng, ts),
                "visible": not deleted,
                "deleted": deleted,
                "tags": tags[v - 1],
                "lonlat": None if deleted else lonlat,
            }
        )
    return recs


def _way_versions(
    rng: random.Random, wid: int, n: int, node_ids: list[int],
    hot_ids: list[int], hot_share: float, node_recs: dict,
) -> list[dict]:
    tags = _tags_sequence(rng, n)
    recs = []
    refs: list[int] = []
    prev_ts = 0
    for v in range(1, n + 1):
        ts = BASE_TS + wid * 1061 + (v - 1) * 7200 + rng.randrange(3000)
        if refs and refs[0] not in hot_ids and rng.random() < 0.15:
            # share a changeset with an edit of the first ref
            # (changeset-match override in the way kernel); never a hot
            # node's, which would move the version before BASE_TS
            hist = node_recs[refs[0]]
            ts = hist[min(v, len(hist)) - 1]["ts"] + rng.randrange(60)
        if v > 1:
            ts = max(ts, prev_ts + 61)
        prev_ts = ts
        if v == 1 or rng.random() < 0.35:
            refs = [
                rng.choice(hot_ids) if hot_ids and rng.random() < hot_share
                else rng.choice(node_ids)
                for _ in range(3 + rng.randrange(4))
            ]
            if len(refs) >= 3 and rng.random() < 0.25:
                refs.append(refs[0])  # closed way
        recs.append(
            {
                "version": v,
                **_meta(rng, ts),
                "visible": True,
                "deleted": False,
                "tags": tags[v - 1],
                "node_refs": list(refs),
            }
        )
    return recs


def _relation_versions(rng: random.Random, rid: int, n: int) -> list[dict]:
    tags = _tags_sequence(rng, n)
    return [
        {
            "version": v,
            **_meta(rng, BASE_TS + rid * 1061 + (v - 1) * 7200 + rng.randrange(3000)),
            "visible": True,
            "deleted": False,
            "tags": tags[v - 1],
        }
        for v in range(1, n + 1)
    ]


def _current_geometry(kind, recs, node_recs, rng) -> dict | None:
    cur = recs[-1]
    if kind == "node":
        return {"type": "Point", "coordinates": list(cur["lonlat"])}
    if kind == "relation":
        return {
            "type": "Point",
            "coordinates": [
                round(rng.uniform(-180.0, 180.0), 7),
                round(rng.uniform(-85.0, 85.0), 7),
            ],
        }
    coords = []
    for ref in cur["node_refs"]:
        live = [r["lonlat"] for r in node_recs[ref] if r["lonlat"] is not None]
        if live:
            coords.append(list(live[-1]))
    if len(coords) < 2:
        return None
    refs = cur["node_refs"]
    if refs[0] == refs[-1] and len(coords) >= 4 and "building" in cur["tags"]:
        return {"type": "Polygon", "coordinates": [coords]}
    return {"type": "LineString", "coordinates": coords}


def entities(profile: Profile, rng: random.Random) -> list[tuple[str, int, list, dict]]:
    """→ [(kind, id, version records, current geometry or None)]."""
    # exact kind and heavy counts, so seeds differ in order, not in mix
    n_node = round(profile.entities * profile.mix[0])
    n_way = round(profile.entities * profile.mix[1]) - n_node
    ordinary = []
    for kind, n in (("node", n_node), ("way", n_way),
                    ("relation", profile.entities - n_node - n_way)):
        n_heavy = round(n * profile.heavy_share)
        ordinary += [(kind, True)] * n_heavy + [(kind, False)] * (n - n_heavy)
    rng.shuffle(ordinary)
    # hot keys first, so every ordinary way can reference them
    kinds = ["node"] * profile.hot_nodes + ["way"] * profile.hot_ways
    counts = [profile.hot_node_versions] * profile.hot_nodes + [
        profile.hot_way_versions] * profile.hot_ways
    for kind, heavy in ordinary:
        kinds.append(kind)
        counts.append(
            rng.randint(48, 80) if heavy else rng.randint(1, profile.max_versions)
        )
    node_ids = [i for i, k in enumerate(kinds) if k == "node"]
    hot_ids = node_ids[: profile.hot_nodes]
    # a hot node's edits all precede the first way version, so they
    # become minor versions only of a referencing way's first version
    # (it has no lower time bound), not of its later ones
    node_recs = {
        i: _node_versions(
            rng, i, counts[i],
            BASE_TS - counts[i] * MAX_NODE_GAP if i in hot_ids else None)
        for i in node_ids
    }
    out = []
    for i, kind in enumerate(kinds):
        if kind == "node":
            recs = node_recs[i]
        elif kind == "way":
            recs = _way_versions(
                rng, i, counts[i], node_ids, hot_ids, profile.hot_ref_share,
                node_recs,
            )
        else:
            recs = _relation_versions(rng, i, counts[i])
        out.append((kind, i, recs, _current_geometry(kind, recs, node_recs, rng)))
    return out


# -- pages ----------------------------------------------------------------------


def _page(url: str, ts: int, title: str, paras: list[str], lang: str,
          island: str) -> dict:
    body = "".join(f"<p>{html.escape(p, quote=False)}</p>" for p in paras)
    doc = (
        f"<html><head><title>{title}</title></head><body>{body}"
        f'<script type="application/osm+json">{island}</script></body></html>'
    )
    return {
        "url": url,
        "warc_ts": dt.datetime.fromtimestamp(ts, dt.timezone.utc),
        "html": doc.encode("utf-8"),
        "text": "\n".join(paras),
        "lang": lang,
    }


def _sentence(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def generate(profile: Profile, seed: int, workload: str, divisor: int = 1):
    """→ (page rows sorted by (url, warc_ts), island records as the
    engine will parse them)."""
    if divisor > 1:
        profile = scaled(profile, divisor)
    rng = random.Random(f"{workload}|{seed}|{divisor}")
    pairs: list[tuple[dict, dict]] = []  # (page, its island record)
    for kind, eid, recs, geom in entities(profile, rng):
        url = f"https://osm.example.test/{kind}/{eid}"
        lang = rng.choice(_LANGS)
        n = len(recs)
        for rec in recs:
            v = rec["version"]
            if 1 < v < n and rng.random() < 0.07:
                continue  # version gap (redacted page)
            island = {"element_type": kind, "id": eid, **rec}
            if v == n and geom is not None:
                island["geometry"] = geom
            payload = json.dumps(island, separators=(",", ":"), sort_keys=True)
            text = f"{kind} {eid} version {v}: " + _sentence(rng, 8, 48)
            page = _page(url, rec["ts"], f"{kind}/{eid} v{v}", [text], lang, payload)
            pairs.append((page, json.loads(payload)))
            if rng.random() < 0.01:
                # a later re-crawl of the same version (last write wins)
                later = page["warc_ts"] + dt.timedelta(days=3)
                pairs.append((dict(page, warc_ts=later), pairs[-1][1]))
    rows = [page for page, _ in pairs]
    islands = [island for _, island in pairs]
    rows.sort(key=lambda r: (r["url"], r["warc_ts"]))
    return rows, islands


def write_pages(rows: list[dict], path: str) -> int:
    """Write rows as FILES contiguous parquet files; → bytes on disk."""
    os.makedirs(path, exist_ok=True)
    n = len(rows)
    total = 0
    for j in range(FILES):
        part = rows[j * n // FILES : (j + 1) * n // FILES]
        table = pa.Table.from_pylist(part, schema=PAGES_SCHEMA)
        out = os.path.join(path, f"part-{j:02d}.parquet")
        pq.write_table(table, out)
        total += os.path.getsize(out)
    return total
