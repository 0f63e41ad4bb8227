"""J1 + W1 + A1 — the history join: the engine's core operator.

The reference's add_history (add_history.cpp:94-213) does, per input
feature, a loop of RocksDB point-gets ``v = 1..@version`` assembling an
``@history`` array. At Spark scale that per-row lookup becomes ONE
equi-join with a range predicate:

    features ⋈ versions ON (element_type, id)
             WHERE versions.version <= features.version
    → groupBy(feature) → sort_array(collect_list(record))

What the executed plan shows once the join is shuffled (inputs past
the broadcast threshold; tools/explain_audit.py checks the final
adaptive plan with ``spark.sql.autoBroadcastJoinThreshold=-1``):
- over the pipeline's persisted versions table, no Exchange at all:
  the cache is hash-partitioned on (element_type, id) by
  ``dedup_versions``' window, and once it is materialized (before the
  call, or as AQE's first query stage when this join is its first
  action) the SortMergeJoin, the tag-diff window and the collect
  groupBy read that partitioning in place. One hash Exchange per side
  on (element_type, id) appears only in the plan made before a cold
  cache runs, and AQE drops both;
- over inputs without that partitioning (uncached or partitioned
  otherwise), one hash Exchange per side on (element_type, id), which
  the window, the join and the groupBy all reuse;
- no skew split of a hot id: the join is a LEFT OUTER join with the
  hot key on its right (versions) side, and AQE's skew-join rule
  splits only the left side of a left outer join (every
  ``AQEShuffleRead`` is ``coalesced``, none ``skew=true``);
- so the per-key ``collect_list`` of a hot id runs on one reducer. A
  two-phase salted collect (partial lists per (key, version % 16),
  then flatten + re-sort) was no faster at 150K and 500K versions of
  one id, and ran out of heap at 1.5M where this join finished;
- features with NO matching versions keep an empty @history array
  (left join) — add_history.cpp:216 attaches @history even on total
  lookup failure;
- versions newer than the feature's version are excluded by the range
  predicate (README.md:12: lookup goes 1..@version only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tagdiff import with_tag_diff

# @history record short keys per HISTORICAL_SCHEMA.md:82-87 /
# pbf_encoding.hpp:101-119.
_RECORD = [
    ("i", "version"),
    ("c", "changeset"),
    ("t", "ts"),
    ("u", "uid"),
    ("h", "user"),
]


def history_records(versions: DataFrame) -> DataFrame:
    """versions (+gaps) → (element_type, id, version, rec) with the
    tag diff applied. ``d`` emitted only when deleted
    (pbf_encoding.hpp:156-160); ``p`` suppressed for deleted nodes
    (json_encoding.hpp:35-46); ``visible`` dropped on decode
    (pbf_encoding.hpp:151-154).
    """
    diffed = with_tag_diff(versions)
    rec = F.struct(
        *[F.col(src).alias(short) for short, src in _RECORD],
        F.when(F.col("deleted"), F.lit(True)).alias("d"),
        F.when(~F.coalesce(F.col("deleted"), F.lit(False)), F.col("lonlat")).alias("p"),
        F.col("node_refs").alias("n"),
        F.col("aA").alias("aA"),
        F.col("aM").alias("aM"),
        F.col("aD").alias("aD"),
    )
    return diffed.select("element_type", "id", "version", rec.alias("rec"))


def _version_sort(col):
    return F.array_sort(
        col,
        lambda l, r: F.when(l["i"] < r["i"], F.lit(-1))
        .when(l["i"] > r["i"], F.lit(1))
        .otherwise(F.lit(0)),
    )


def add_history(features: DataFrame, versions: DataFrame) -> DataFrame:
    """Attach the @history array to every feature.

    Returns the feature columns + ``history: array<HISTORY_RECORD>``
    ordered version-ascending (HISTORICAL_SCHEMA.md:64-73).
    """
    recs = history_records(versions)
    f = features.alias("f")
    v = recs.alias("v")
    joined = f.join(
        v,
        on=[
            F.col("f.element_type") == F.col("v.element_type"),
            F.col("f.id") == F.col("v.id"),
            F.col("v.version") <= F.col("f.version"),
        ],
        how="left",
    )
    feature_cols = [c for c in features.columns]
    agg = (
        joined.groupBy(F.col("f.element_type"), F.col("f.id"))
        .agg(
            *[
                F.first(F.col(f"f.{c}")).alias(c)
                for c in feature_cols
                if c not in ("element_type", "id")
            ],
            # array_sort with an explicit comparator on `i` (version):
            # structs containing maps aren't natively orderable, and
            # only the version field defines @history order anyway
            # (version-ascending, current last —
            # HISTORICAL_SCHEMA.md:64-73).
            _version_sort(F.collect_list(F.col("v.rec"))).alias("history"),
        )
    )
    return agg.select(*feature_cols, "history")
