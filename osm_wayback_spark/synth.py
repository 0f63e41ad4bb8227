"""Deterministic Common-Crawl-style page synthesizer.

The engine's mandated input (BASELINE.json ``input_hint``) is a table
``pages(url, warc_ts, html, text, lang)`` carrying page-embedded
geometry payloads. The reference's only fixture is one .osh.pbf file
(example/history_of_albany.osh.pbf); this module replaces it with a
seeded generator whose every page is a pure function of
``(url_index, version)`` — so generation distributes over
``spark.range(n).mapInPandas`` with no cross-partition state and is
byte-identical at any parallelism.

Each page's html embeds one versioned entity record in a JSON island
``<script type="application/osm+json">…</script>`` (FIXTURES.md §1);
the visible text is recoverable byte-identically by the extraction
kernel (sources/extract.py) — the input_hint invariant.

Branch coverage engineered in (FIXTURES.md §5): first-version all-aA,
aM/aD mixed, equal-maps no-op, version gaps (redactions), deleted
(location-less) node versions, shared changesets (max-version-wins and
changeset-match override), identical consecutive coordinates, closed
ways → Polygon, relations, and ~2% skew-heavy urls (≥48 versions):
ids whose whole history lands on one reducer of the history join's
per-key collect.
"""

from __future__ import annotations

import datetime as _dt
import functools
import hashlib
import html as _html
import json
from collections.abc import Iterator

import pandas as pd

from .schemas import PAGES

SEED = 42
BASE_TS = 1_500_000_000  # epoch seconds; changeset = ts // 600
CHANGESET_BUCKET = 600

_TAG_KEYS = ["highway", "name", "surface", "lanes", "building", "amenity", "ref"]
_TAG_VALS = {
    "highway": ["residential", "primary", "secondary", "footway"],
    "name": ["Main St", "Oak Ave", "Hill Rd", "River Way", "Elm St"],
    "surface": ["asphalt", "gravel", "dirt"],
    "lanes": ["1", "2", "3"],
    "building": ["yes", "house", "retail"],
    "amenity": ["cafe", "school", "bench"],
    "ref": ["A1", "B2", "C3"],
}
_USERS = ["alice", "bob", "carol", "dave", "erin", "frank"]
_LANGS = ["en", "es", "de", "fr", "zh"]
_WORDS = (
    "map way node tile history version geometry change survey street "
    "river park bridge town data open world edit trace point line"
).split()


class _Rand:
    """Tiny deterministic md5-stream PRNG — ~30× cheaper to construct
    than np.random.RandomState (which dominated generation time) and
    trivially portable (pure hashlib)."""

    __slots__ = ("_key", "_buf", "_pos", "_ctr")

    def __init__(self, key: str):
        self._key = key.encode()
        self._buf = hashlib.md5(self._key).digest()
        self._pos = 0
        self._ctr = 0

    def _u32(self) -> int:
        if self._pos + 4 > len(self._buf):
            self._ctr += 1
            self._buf = hashlib.md5(
                self._key + self._ctr.to_bytes(4, "little")
            ).digest()
            self._pos = 0
        v = int.from_bytes(self._buf[self._pos : self._pos + 4], "little")
        self._pos += 4
        return v

    def rand(self) -> float:
        return self._u32() / 2**32

    def randint(self, a: int, b: int | None = None, size: int | None = None):
        if b is None:
            a, b = 0, a
        span = max(1, b - a)
        if size is None:
            return a + self._u32() % span
        return [a + self._u32() % span for _ in range(size)]

    def choice(self, seq, size: int = 1, replace: bool = True):
        items = list(seq)
        out = []
        for _ in range(size):
            idx = self._u32() % len(items)
            out.append(items.pop(idx) if not replace else items[idx])
        return out


def _rng(*keys) -> _Rand:
    return _Rand("|".join(map(str, keys)) + f"|{SEED}")


def scale_counts(sf: float) -> tuple[int, int]:
    """(n_urls, n_node_pool) for a scale factor."""
    n_urls = max(60, int(30000 * sf / 0.1))
    return n_urls, max(40, int(n_urls * 0.6))


def element_kind(i: int) -> str:
    r = _rng("kind", i).rand()
    return "node" if r < 0.60 else ("way" if r < 0.95 else "relation")


# -- pure per-node functions (ways derive geometry from these without
#    needing the node's rows) ------------------------------------------------

@functools.lru_cache(maxsize=200_000)
def node_n_versions(node_id: int) -> int:
    r = _rng("nnv", node_id)
    if r.rand() < 0.02:
        return int(48 + r.randint(0, 32))  # skew-heavy entity
    return int(1 + r.randint(0, 8))


@functools.lru_cache(maxsize=200_000)
def node_base_lonlat(node_id: int) -> tuple[float, float]:
    r = _rng("nll", node_id)
    lon = -180.0 + 360.0 * float(r.rand())
    lat = -85.0 + 170.0 * float(r.rand())
    return round(lon, 7), round(lat, 7)


@functools.lru_cache(maxsize=200_000)
def node_version_ts(node_id: int, v: int) -> int:
    # Strictly monotone in v; ~12% of steps stay inside the previous
    # changeset bucket so two versions share a changeset
    # (max-version-wins branch, json_encoding.hpp:51-57).
    ts = BASE_TS + node_id * 977
    for k in range(2, v + 1):
        r = _rng("nts", node_id, k)
        if r.rand() < 0.12:
            ts += int(r.randint(5, 60))
        else:
            ts += int(CHANGESET_BUCKET + r.randint(0, 4000))
    return ts


@functools.lru_cache(maxsize=200_000)
def node_version_info(node_id: int, v: int) -> dict:
    """Full record of node version v (1-based). Pure."""
    r = _rng("nv", node_id, v)
    ts = node_version_ts(node_id, v)
    deleted = bool(v > 1 and v < node_n_versions(node_id) and r.rand() < 0.05)
    lon, lat = node_base_lonlat(node_id)
    if v > 1 and r.rand() < 0.15:
        lonlat = list(node_version_lonlat(node_id, v - 1) or (lon, lat))  # identical → dedup branch
    else:
        j0, j1 = r.rand() * 1e-4 * (v - 1), r.rand() * 1e-4 * (v - 1)
        lonlat = [round(lon + j0, 7), round(lat + j1, 7)]
    return {
        "version": v,
        "ts": ts,
        "changeset": ts // CHANGESET_BUCKET,
        "uid": int(r.randint(1, 500)),
        "user": _USERS[int(r.randint(0, len(_USERS)))],
        "visible": not deleted,
        "deleted": deleted,
        "lonlat": None if deleted else lonlat,
    }


def node_version_lonlat(node_id: int, v: int):
    return node_version_info(node_id, v)["lonlat"]


def _tags_sequence(kind: str, eid: int, n_versions: int) -> list[dict]:
    """Cumulative tag state per version; engineered diff branches."""
    r = _rng("tags", kind, eid)
    state: dict[str, str] = {}
    keys = list(_TAG_KEYS)
    for k in r.choice(keys, size=2 + r.randint(0, 3), replace=False):
        state[k] = _TAG_VALS[k][int(r.randint(0, len(_TAG_VALS[k])))]
    out = [dict(state)]
    for _v in range(2, n_versions + 1):
        roll = r.rand()
        if roll < 0.25:
            out.append(dict(state))  # equal maps → no diff emitted
            continue
        for k in r.choice(keys, size=r.randint(0, 3), replace=False):
            vals = _TAG_VALS[k]
            state[k] = vals[int(r.randint(0, len(vals)))]  # add or modify
        present = list(state)
        if len(present) > 1 and r.rand() < 0.3:
            del state[present[int(r.randint(0, len(present)))]]  # delete
        out.append(dict(state))
    return out


def _entity_versions(kind: str, i: int, n_node_pool: int) -> list[dict]:
    """All version records for entity i of a kind. Pure per entity."""
    if kind == "node":
        nv = node_n_versions(i)
        tags = _tags_sequence("node", i, nv)
        recs = []
        for v in range(1, nv + 1):
            rec = dict(node_version_info(i, v))  # copy: the fn is lru_cached
            rec["tags"] = tags[v - 1]
            recs.append(rec)
        return recs
    r = _rng("ev", kind, i)
    nv = int(1 + r.randint(0, 5))
    tags = _tags_sequence(kind, i, nv)
    recs = []
    refs: list[int] = []
    prev_ts = 0
    for v in range(1, nv + 1):
        ts = BASE_TS + i * 1061 + (v - 1) * 7200 + int(r.randint(0, 3000))
        if kind == "way" and refs and r.rand() < 0.15:
            # Align the way edit with a node edit of its first ref so
            # they share a changeset — exercises the changeset-match
            # override (way-history-builder.js:75-77).
            ref0 = refs[0]
            nv0 = min(v, node_n_versions(ref0))
            ts = node_version_ts(ref0, nv0) + int(r.randint(0, 60))
        if v > 1:
            ts = max(ts, prev_ts + 61)  # keep version timestamps monotone
        prev_ts = ts
        if kind == "way":
            if v == 1 or r.rand() < 0.35:
                k = int(3 + r.randint(0, 4))
                refs = [int(x) for x in r.randint(0, n_node_pool, size=k)]
                if r.rand() < 0.25 and len(refs) >= 3:
                    refs = refs + [refs[0]]  # closed way → polygon branch
        rec = {
            "version": v,
            "ts": ts,
            "changeset": ts // CHANGESET_BUCKET,
            "uid": int(r.randint(1, 500)),
            "user": _USERS[int(r.randint(0, len(_USERS)))],
            "visible": True,
            "deleted": False,
            "tags": tags[v - 1],
            "node_refs": list(refs) if kind == "way" else None,
        }
        recs.append(rec)
    return recs


def _current_geometry(kind: str, i: int, recs: list[dict]) -> dict | None:
    cur = recs[-1]
    if kind == "node":
        ll = cur["lonlat"] or node_base_lonlat(i)
        return {"type": "Point", "coordinates": list(ll)}
    if kind == "way":
        coords = []
        for ref in cur["node_refs"] or []:
            v = node_n_versions(ref)
            ll = node_version_lonlat(ref, v)
            if ll is None:  # walk back past deleted latest versions
                for vv in range(v - 1, 0, -1):
                    ll = node_version_lonlat(ref, vv)
                    if ll is not None:
                        break
            if ll is not None:
                coords.append(list(ll))
        if len(coords) < 2:
            return None
        closed = (cur["node_refs"][0] == cur["node_refs"][-1]) and len(coords) >= 4
        if closed and "building" in (cur["tags"] or {}):
            return {"type": "Polygon", "coordinates": [coords]}
        return {"type": "LineString", "coordinates": coords}
    lon, lat = node_base_lonlat(i + 10_000_000)
    return {"type": "Point", "coordinates": [lon, lat]}


def _page_text(kind: str, i: int, v: int) -> str:
    r = _rng("text", kind, i, v)
    n = int(8 + r.randint(0, 40))
    words = [_WORDS[int(x)] for x in r.randint(0, len(_WORDS), size=n)]
    return f"{kind} {i} version {v}: " + " ".join(words)


def pages_for_url(i: int, n_node_pool: int) -> list[dict]:
    """All page rows for url index i — pure, partition-independent."""
    kind = element_kind(i)
    recs = _entity_versions(kind, i, n_node_pool)
    geom = _current_geometry(kind, i, recs)
    url = f"https://osm.example.test/{kind}/{i}"
    r = _rng("gap", kind, i)
    lang = _LANGS[int(_rng("lang", i).randint(0, len(_LANGS)))]
    rows = []
    nv = len(recs)
    for rec in recs:
        v = rec["version"]
        # version gaps (redactions): drop some middle pages so the
        # extracted versions table has holes (add_history.cpp:209-212).
        if 1 < v < nv and r.rand() < 0.07:
            continue
        island = {
            "element_type": kind,
            "id": i,
            **{k: rec[k] for k in (
                "version", "ts", "changeset", "uid", "user", "visible", "deleted", "tags",
            )},
        }
        if kind == "node":
            island["lonlat"] = rec["lonlat"]
        if kind == "way":
            island["node_refs"] = rec["node_refs"]
        if v == nv and geom is not None:
            island["geometry"] = geom
        text = _page_text(kind, i, v)
        body = _html.escape(text, quote=False)
        payload = json.dumps(island, separators=(",", ":"), sort_keys=True)
        html_doc = (
            f"<html><head><title>{kind}/{i} v{v}</title></head><body>"
            f"<p>{body}</p>"
            f'<script type="application/osm+json">{payload}</script>'
            f"</body></html>"
        )
        rows.append(
            {
                "url": url,
                "warc_ts": _dt.datetime.utcfromtimestamp(rec["ts"]),
                "html": html_doc.encode("utf-8"),
                "text": text,
                "lang": lang,
            }
        )
    return rows


def synth_pages(spark, sf: float):
    """Distributed deterministic pages DataFrame at scale factor sf."""
    n_urls, n_node_pool = scale_counts(sf)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"].tolist():
                rows.extend(pages_for_url(int(i), n_node_pool))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    parallelism = max(8, spark.sparkContext.defaultParallelism)
    base = spark.range(0, n_urls, numPartitions=min(parallelism, n_urls))
    return base.mapInPandas(gen, schema=PAGES)


def synth_pages_local(sf: float) -> pd.DataFrame:
    """Driver-side generator (tests / oracles); identical rows."""
    n_urls, n_node_pool = scale_counts(sf)
    rows = []
    for i in range(n_urls):
        rows.extend(pages_for_url(i, n_node_pool))
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


def sf_from_dir(sf_dir: str) -> float:
    """Parse scale factor from a testdata dir like /root/testdata/sf0.01."""
    name = sf_dir.rstrip("/").split("/")[-1]
    return float(name[2:]) if name.startswith("sf") else 0.001
