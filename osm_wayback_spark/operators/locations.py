"""J2 — the node-location join (≙ add_geometry.cpp).

The reference, per non-node feature, unions the ``n`` arrays across
all history versions into a std::set, point-gets each node's
per-changeset location history from the `locations` CF, and attaches a
nested ``nodeLocations`` dict (add_geometry.cpp:50-152).

Spark shape: explode the versions' node refs → distinct → equi-join
on node_id → re-nest with two staged map_from_entries aggregations.
The join shuffles on node_id (the natural key); the two re-nest
aggregations shuffle on (feature, node_id) then (feature) — each
strictly narrower than its input. ``nodeLocations`` is attached only when ≥1 node
resolved (add_geometry.cpp:150: left join → null for none).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _inner_record():
    # Inner record per (node, changeset): {p, i, u, h, t} short keys
    # (add_geometry.cpp:64-78, json_encoding.hpp:30-46).
    return F.struct(
        F.col("lonlat").alias("p"),
        F.col("version").alias("i"),
        F.col("uid").alias("u"),
        F.col("user").alias("h"),
        F.col("ts").alias("t"),
    )


def add_node_locations(
    with_history: DataFrame,
    node_locations: DataFrame,
    refs_source: DataFrame,
) -> DataFrame:
    """Attach ``node_locations: map<long, map<long, struct>>`` to
    every non-node feature of an add_history output; node features
    pass through with a null column (P7, add_geometry.cpp:46).

    ``refs_source`` must be the versions table ``with_history`` was
    built from (``add_history(features_from_versions(v), v)``). The
    referenced-node set is ``distinct (element_type, id,
    node_refs[i])`` over its non-node rows — the std::set-union of
    ``n`` across all history versions (add_geometry.cpp:53-62):
    ``features_from_versions`` keeps the MAX version, so a feature's
    ``@history`` holds every version row of the entity and each
    record's ``n`` is that row's ``node_refs`` verbatim; entities
    with no feature row contribute keys the final left join drops.
    Passing any other table silently yields missing or extra node
    entries. Deriving the refs from the versions table, not from
    ``with_history``'s nested arrays, keeps the optimizer from
    materializing the history-assembly subtree twice.
    """
    refs = (
        refs_source.filter(F.col("element_type") != "node")
        .select(
            "element_type",
            "id",
            F.explode("node_refs").alias("node_id"),
        )
        # across-version duplicates must collapse BEFORE the
        # changeset collect: map_from_entries rejects dup keys
        .distinct()
    )
    resolved = refs.join(node_locations, on="node_id", how="inner")
    per_node = resolved.groupBy("element_type", "id", "node_id").agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(F.struct(F.col("changeset").alias("key"), _inner_record().alias("value")))
            )
        ).alias("by_changeset")
    )
    # NOTE: no sort_array here — structs containing MapType are not
    # orderable in Spark; map key order is semantically irrelevant
    # (consumers sort keys when serializing).
    nested = per_node.groupBy("element_type", "id").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(F.col("node_id").alias("key"), F.col("by_changeset").alias("value"))
            )
        ).alias("node_locations")
    )
    return with_history.join(nested, on=["element_type", "id"], how="left")
