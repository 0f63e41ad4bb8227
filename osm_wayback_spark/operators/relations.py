"""TRUE relation member-geometry assembly — beyond-reference extension.

The reference's relation history builder is an explicit stub: it
copies the relation's CURRENT geometry onto every historical version
(relation-history-builder.js:3 "GEOMETRY FAKER"), and the engine's
default pipeline reproduces that verbatim for oracle parity
(_reconstruct_core._build_relation). This module is the opt-in
upgrade the reference never shipped: per-version multipolygon
geometry assembled from the member ways' OWN reconstructed
histories.

Two Spark-first pieces:

- ``member_ways_asof``: a temporal AS-OF join — for every
  (relation version, member way) pick the member's geometry version
  valid at the relation version's timestamp. Expressed as an
  equi-join on the way id + validity-interval predicate + one
  max-validSince window per (relation version, member) — the
  standard Spark formulation of as-of (no UDF, no range explosion;
  the join shuffles on the member way id, the window on the pair
  key).

- ``assemble_relation_geometries``: ring assembly per relation
  version — closed member ways become rings directly, open ways are
  stitched end-to-end greedily and deterministically (smallest way
  id first, endpoint match), ``outer``/``inner`` roles map to
  exterior/interior rings (OSM multipolygon convention). Runs as an
  Arrow-batched kernel AFTER the as-of join has localized each
  relation version's members to one row group — pure per-row math,
  no shuffle inside.

Scale shape: both joins are equi-joins on ids; the expensive side
(way geometries) is joined once regardless of how many relation
versions reference a way, and the window key (relation id, version,
member index) is high-cardinality — no hot reducer.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def member_ways_asof(
    relation_members: DataFrame, way_geoms: DataFrame
) -> DataFrame:
    """AS-OF join: each (relation version, member way) row picks the
    member's geometry interval containing the relation version's
    timestamp: valid_since <= ts < valid_until (valid_until NULL =
    still current). Members with no interval at ts (way created
    later / deleted) yield a NULL coords_json — kept, so assembly
    can count unresolved members instead of silently dropping them.

    relation_members(id, version, ts, member_idx, member_ref,
    member_role) × way_geoms(way_id, valid_since, valid_until,
    coords_json) → (id, version, ts, member_idx, member_ref,
    member_role, coords_json).

    ONE left join with the interval predicate in the join condition
    (unmatched members surface as a single NULL-coords row directly —
    no join-back needed), then one window picking the latest
    valid_since per (relation version, member) — intervals from a
    lead() construction can't overlap, so the window is a no-op
    guard that also makes overlapping user input deterministic
    (secondary tiebreak on coords_json)."""
    w = way_geoms.select(
        F.col("way_id").alias("_ref"),
        F.col("valid_since").alias("_vs"),
        F.col("valid_until").alias("_vu"),
        "coords_json",
    )
    joined = relation_members.join(
        w,
        on=(
            (F.col("member_ref") == F.col("_ref"))
            & (F.col("_vs") <= F.col("ts"))
            & (F.col("_vu").isNull() | (F.col("ts") < F.col("_vu")))
        ),
        how="left",
    )
    key = Window.partitionBy("id", "version", "member_idx").orderBy(
        F.desc_nulls_last("_vs"), F.desc_nulls_last("coords_json")
    )
    return (
        joined.withColumn("_rn", F.row_number().over(key))
        .filter(F.col("_rn") == 1)
        .select(
            "id", "version", "ts", "member_idx", "member_ref",
            "member_role", "coords_json",
        )
    )


def _stitch_rings(
    ways: list[list[list[float]]],
) -> tuple[list[list[list[float]]], int]:
    """Greedy deterministic ring stitching → (rings, n_unclosed).
    Closed ways are rings; open ways chain end-to-end wherever an
    endpoint matches (reversing as needed), first-listed-first.
    Unclosable chains are dropped and counted — never silent."""
    rings: list[list[list[float]]] = []
    open_ways = []
    n_unclosed = 0
    for wcoords in ways:
        if len(wcoords) >= 4 and wcoords[0] == wcoords[-1]:
            rings.append(wcoords)
        elif len(wcoords) >= 2:
            open_ways.append(wcoords)
        else:
            n_unclosed += 1  # degenerate (< 2 points)
    while open_ways:
        chain = list(open_ways.pop(0))
        n_chained = 1
        progressed = True
        while progressed and chain[0] != chain[-1]:
            progressed = False
            for i, cand in enumerate(open_ways):
                if cand[0] == chain[-1]:
                    chain.extend(cand[1:])
                elif cand[-1] == chain[-1]:
                    chain.extend(reversed(cand[:-1]))
                elif cand[-1] == chain[0]:
                    chain[:0] = cand[:-1]
                elif cand[0] == chain[0]:
                    chain[:0] = reversed(cand[1:])
                else:
                    continue
                open_ways.pop(i)
                n_chained += 1
                progressed = True
                break
        if len(chain) >= 4 and chain[0] == chain[-1]:
            rings.append(chain)
        else:
            n_unclosed += n_chained
    return rings, n_unclosed


def assemble_relation_geometries(asof: DataFrame) -> DataFrame:
    """member_ways_asof output → one row per relation VERSION with
    true assembled geometry:

    (id, version, ts, geometry string GeoJSON, n_members,
    n_resolved, n_unclosed, n_unattached)

    geometry is a MultiPolygon (outer rings → polygons; inner rings
    attached to the FIRST polygon containing-by-bbox, the common
    simple case) or NULL when no outer ring closes. The counters make
    degraded assemblies measurable instead of silent: n_unclosed for
    chains that never close, n_unattached for closed inner rings
    whose bbox no outer polygon contains (they are DROPPED from the
    geometry — previously silently, the r5 advice finding)."""

    grouped = (
        asof.groupBy("id", "version", "ts")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct("member_idx", "member_role", "coords_json")
                )
            ).alias("_members")
        )
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, ver, ts, members in zip(
                pdf["id"], pdf["version"], pdf["ts"], pdf["_members"]
            ):
                outers, inners = [], []
                n_resolved = 0
                for m in members:
                    cj = m["coords_json"]
                    if cj is None:
                        continue
                    n_resolved += 1
                    coords = json.loads(cj)
                    (inners if m["member_role"] == "inner" else outers).append(
                        coords
                    )
                outer_rings, unc_o = _stitch_rings(outers)
                inner_rings, unc_i = _stitch_rings(inners)
                n_unclosed = unc_o + unc_i
                polys = [[r] for r in outer_rings]
                n_unattached = 0
                for ir in inner_rings:
                    # attach to the first outer whose bbox contains it
                    ix = [p[0] for p in ir]
                    iy = [p[1] for p in ir]
                    for poly in polys:
                        ox = [p[0] for p in poly[0]]
                        oy = [p[1] for p in poly[0]]
                        if (
                            min(ox) <= min(ix)
                            and max(ix) <= max(ox)
                            and min(oy) <= min(iy)
                            and max(iy) <= max(oy)
                        ):
                            poly.append(ir)
                            break
                    else:
                        n_unattached += 1
                geometry = (
                    json.dumps(
                        {"type": "MultiPolygon", "coordinates": polys},
                        separators=(",", ":"),
                    )
                    if polys
                    else None
                )
                rows.append(
                    {
                        "id": int(rid),
                        "version": int(ver),
                        "ts": int(ts),
                        "geometry": geometry,
                        "n_members": len(members),
                        "n_resolved": n_resolved,
                        "n_unclosed": n_unclosed,
                        "n_unattached": n_unattached,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "version", "ts", "geometry", "n_members",
                    "n_resolved", "n_unclosed", "n_unattached",
                ],
            )

    return grouped.mapInPandas(
        kernel,
        schema=(
            "id long, version int, ts long, geometry string, "
            "n_members int, n_resolved int, n_unclosed int, "
            "n_unattached int"
        ),
    )


def reconstruct_relations(
    relation_members: DataFrame, way_geoms: DataFrame
) -> DataFrame:
    """One-call true relation reconstruction (the opt-in alternative
    to the reference-faithful GEOMETRY FAKER): as-of member
    resolution + multipolygon assembly."""
    return assemble_relation_geometries(
        member_ways_asof(relation_members, way_geoms)
    )
