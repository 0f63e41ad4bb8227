"""Stage-0 extraction: pages → versions / features / text.

Plays the role of the reference's libosmium parse + osmium export
(build_lookup_index.cpp:101-103, run.sh:18-20): the one genuinely new
operator of the graft. The pipeline's stage 0 is
``extract_versions_native``, which pulls the page-embedded geometry
payload (the ``application/osm+json`` island) and parses it into a
typed ``versions`` row entirely JVM-side (locate/substr +
``from_json``).

``extract_versions`` is the Arrow-batched ``mapInPandas`` kernel over
the per-page Python pulls ``extract_island`` and ``extract_text``; it
is the reference the native kernel is tested against. The text
invariant is that ``extract_text(html) == text`` **byte-identically
per url** (BASELINE.json input_hint; ``verify_text_invariant``).

Everything downstream of extraction is relational (DataFrame ops).
"""

from __future__ import annotations

import html as _html
import json
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import VERSIONS

_P_RE = re.compile(r"<p>(.*?)</p>", re.DOTALL)
_ISLAND_RE = re.compile(
    r'<script type="application/osm\+json">(.*?)</script>', re.DOTALL
)


def extract_text(html_bytes: bytes) -> str:
    """Canonical text extraction: all <p> bodies, unescaped, joined
    by newline. Must be byte-identical to the ``text`` column."""
    doc = html_bytes.decode("utf-8", errors="replace")
    return "\n".join(_html.unescape(m) for m in _P_RE.findall(doc))


def extract_island(html_bytes: bytes) -> dict | None:
    doc = html_bytes.decode("utf-8", errors="replace")
    m = _ISLAND_RE.search(doc)
    if not m:
        return None
    try:
        return json.loads(m.group(1))
    except json.JSONDecodeError:
        return None


# warc_ts rides along so ``dedup_versions`` can apply the RocksDB
# last-write-wins semantics (db.hpp key design: a re-crawled version
# overwrites the earlier put) — dropped again right after the dedup.
_VERSIONS_OUT_COLS = [f.name for f in VERSIONS.fields] + [
    "geometry_json",
    "warc_ts",
]
# StructType.add mutates in place — build the extended schema once,
# from a copy.
_VERSIONS_EXT = T.StructType(
    list(VERSIONS.fields)
    + [
        T.StructField("geometry_json", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
    ]
)

# Typed island schema for the JVM-native parse (geometry handled
# separately: its nesting depth varies by type, so it stays a JSON
# string pulled by regexp — GeoJSON objects contain no nested braces).
_ISLAND_SCHEMA = T.StructType(
    [f for f in VERSIONS.fields if f.name not in ("element_type", "id")]
    + [
        T.StructField("element_type", T.StringType()),
        T.StructField("id", T.LongType()),
    ]
)

_GEOM_RE_SQL = r'"geometry":(\{[^{}]*\})'


_MARK = '<script type="application/osm+json">'
_END = "</script>"


def extract_versions_native(pages: DataFrame) -> DataFrame:
    """pages → versions, 100% JVM-side (locate/substr island pull +
    ``from_json``): the throughput path. Bit-identical to the Arrow
    kernel (tested); whole-stage-codegen keeps the hot loop off
    Python entirely, which matters both for absolute pages/sec and
    for N→4N scaling (a mapInPandas task burns ~2 cores — JVM
    serializer + Python worker — so Python extraction halves
    effective parallelism).

    The island is pulled with locate + substring_index rather than a
    lazy-dot regex — same first-match semantics (first marker, first
    closing tag), measurably cheaper per page (0.95 s → 0.72 s for
    131K pages at local[32]).

    The ``inline`` Generate is a barrier; do not fold it back into a
    plain select. Without it Catalyst pushes the ``r``/``element_type``
    filter below the projection and substitutes the alias, so a
    ``FilterExec`` (no subexpression elimination) re-runs a full and a
    pruned ``from_json`` and the whole decode/locate/substr chain, and
    the geometry ``regexp_extract`` runs in both the condition and the
    branch of its ``CASE``: ``decode`` ×35, ``from_json`` ×3,
    ``regexp_extract`` ×2 in the optimized plan. A filter on generated
    columns cannot move below the Generate, and the Project under it
    shares one decode through subexpression elimination, so island,
    ``from_json`` and ``regexp_extract`` each run once per page
    (pinned by test_extract.py)."""
    doc = F.decode(F.col("html"), "UTF-8")
    start = F.locate(_MARK, doc)
    rest = doc.substr(start + F.lit(len(_MARK)), F.length(doc))
    island = F.when(
        (start > 0) & (F.locate(_END, rest) > 0),
        F.substring_index(rest, _END, 1),
    )
    parsed = pages.select(island.alias("island"), "warc_ts").select(
        F.inline(
            F.array(
                F.struct(
                    F.from_json("island", _ISLAND_SCHEMA).alias("r"),
                    F.regexp_extract("island", _GEOM_RE_SQL, 1).alias("g"),
                    F.col("warc_ts"),
                )
            )
        )
    )
    return (
        parsed.filter(F.col("r").isNotNull() & F.col("r.element_type").isNotNull())
        .select(
            *[
                F.coalesce(
                    F.col("r.tags"), F.create_map().cast("map<string,string>")
                ).alias("tags")
                if f.name == "tags"
                else F.col(f"r.{f.name}").alias(f.name)
                for f in VERSIONS.fields
            ],
            F.when(F.col("g") != "", F.col("g")).alias("geometry_json"),
            "warc_ts",
        )
        # keep column order identical to the Arrow kernel
        .select(*_VERSIONS_OUT_COLS)
    )


def extract_versions(pages: DataFrame) -> DataFrame:
    """pages → versions (+ geometry_json carried on the row that
    embeds the current geometry). One Arrow pass; narrow (no shuffle).
    The reference that ``extract_versions_native`` is tested against.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for html_bytes, wts in zip(pdf["html"], pdf["warc_ts"]):
                isl = None if html_bytes is None else extract_island(html_bytes)
                if isl is None or isl.get("element_type") is None:
                    continue
                geom = isl.get("geometry")
                rows.append(
                    {
                        "element_type": isl["element_type"],
                        "id": int(isl["id"]),
                        "version": int(isl["version"]),
                        "ts": int(isl["ts"]),
                        "changeset": isl.get("changeset"),
                        "uid": isl.get("uid"),
                        "user": isl.get("user"),
                        "visible": isl.get("visible"),
                        "deleted": isl.get("deleted"),
                        "tags": isl.get("tags") or {},
                        "lonlat": isl.get("lonlat"),
                        "node_refs": isl.get("node_refs"),
                        "geometry_json": json.dumps(geom, separators=(",", ":"))
                        if geom is not None
                        else None,
                        "warc_ts": wts,
                    }
                )
            yield pd.DataFrame(rows, columns=_VERSIONS_OUT_COLS)

    return pages.mapInPandas(kernel, schema=_VERSIONS_EXT)


def dedup_versions(versions_ext: DataFrame) -> DataFrame:
    """Last-write-wins per (element_type, id, version): a page crawled
    twice for the same version keeps only the latest crawl (max
    warc_ts), matching the reference's RocksDB put semantics (db.hpp —
    the version-keyed put overwrites). Without this, duplicate crawls
    would yield duplicate @history records and a skewed lag-based tag
    diff.

    One window on (element_type, id) — the SAME partitioning as the
    tag-diff window and the history join downstream, so Catalyst plans
    a single Exchange for all three.
    """
    w = Window.partitionBy("element_type", "id").orderBy(
        "version", F.desc("warc_ts")
    )
    return (
        versions_ext.withColumn("_pv", F.lag("version").over(w))
        .filter(F.col("_pv").isNull() | (F.col("_pv") != F.col("version")))
        .drop("_pv", "warc_ts")
    )


def verify_text_invariant(pages: DataFrame) -> DataFrame:
    """Rows where extraction is NOT byte-identical (must be empty)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bad = pdf[
                [extract_text(h) != t for h, t in zip(pdf["html"], pdf["text"])]
            ]
            yield bad[["url", "text"]]

    return pages.mapInPandas(kernel, schema="url string, text string")


def features_from_versions(versions_ext: DataFrame) -> DataFrame:
    """Latest version per entity → the current-feature stream
    (≙ osmium time-filter + export, run.sh:18-20; SURVEY.md S2/S3).

    Single shuffle on (element_type, id) via max_by-style window.
    """
    w = Window.partitionBy("element_type", "id").orderBy(F.desc("version"))
    return (
        versions_ext.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & F.col("geometry_json").isNotNull())
        .select(
            "element_type",
            "id",
            "version",
            "changeset",
            "ts",
            "uid",
            "user",
            F.col("geometry_json").alias("geometry"),
            "tags",
        )
    )


def node_locations_from_versions(versions: DataFrame) -> DataFrame:
    """≙ the `locations` CF build (db.hpp:225-258): per (node_id,
    changeset) keep the max-version record (json_encoding.hpp:51-57 —
    two versions in one changeset lose the earlier one). The
    read-modify-write upsert becomes a window dedup.
    """
    w = Window.partitionBy("id", "changeset").orderBy(F.desc("version"))
    return (
        versions.filter(F.col("element_type") == "node")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("id").alias("node_id"),
            "changeset",
            "version",
            "ts",
            "uid",
            "user",
            "lonlat",
        )
    )
