"""Benchmark harness.

    python bench.py

prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "queries_passes": {...},
     "sf": 0.1, "pages_per_sec": ..., "tiles_per_sec": ...,
     "host": {...}, "scaling": {...}}

Input: the driver tables under $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) and the synthetic pages corpus at the same scale
factor. Everything runs in one JVM, at local[n] with
n = $SPARK_GRAFT_CPUS (default: the cores this process may use).

Per-query section: ``pipeline_e2e`` is ``core_job`` (pages → history
join + tag diff → node locations → reconstruction → z15 tiles), and
``pages_per_sec``/``tiles_per_sec`` are its throughput. Every other key
of ``queries`` except ``skew_history`` is one oracle query, counted.
Each wall is the best of $SPARK_GRAFT_BENCH_QUERY_PASSES (default 2)
timed passes, so one pass that collides with a host-load burst does
not define the number; every raw pass is kept in ``queries_passes``.
``value`` is the wall of the whole section.

Scaling block: the method of perfbench/run.py's ``scaling``. After the
per-query section, ``core_job`` runs the same number of passes at
local[n]. Then the session stops, the JVM and its Python workers are
pinned to the first allowed core (``perfbench.run.bind``; local[1]
caps JVM task threads but not the Python workers, which would borrow
idle cores), and a local[1] session in the same JVM is warmed by one
untimed full ``core_job`` pass and timed over the same input. Each
side is min-combined; ``efficiency`` = (pages_per_sec_4n /
pages_per_sec_n) / (cores_4n / cores_n). The JVM stays bound, so this
is the run's last step.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_QUERY_PASSES", "2"))


def _spark(cores: int):
    from osm_wayback_spark.session import get_spark

    s = get_spark(master=f"local[{cores}]")
    s.sparkContext.setLogLevel("ERROR")
    return s


def _pages_cache(spark):
    import __spark_entry__ as entrymod

    return entrymod._pages(spark, SF_DIR)


def _warm(spark) -> None:
    """Codegen and Python-worker warm-up on a slice of the pages (also
    builds the pages cache outside the timings: input generation is
    not engine work)."""
    from osm_wayback_spark import pipeline

    pipeline.reconstruction_pipeline(_pages_cache(spark).limit(5_000)).count()


def core_job(spark) -> tuple[int, int, float]:
    """The scaling-measured job: pages → history join + tag diff +
    node locations + reconstruction → z15 tile assignment."""
    from osm_wayback_spark import pipeline
    from osm_wayback_spark.operators.tiles import assign_tiles
    from pyspark.sql import functions as F

    pages = _pages_cache(spark)
    n_pages = pages.count()
    t0 = time.time()
    recon = pipeline.reconstruction_pipeline(pages)
    tiles = assign_tiles(recon.filter(F.col("geometry").isNotNull()), z=15)
    n_tiles = tiles.count()
    wall = time.time() - t0
    return n_pages, n_tiles, wall


def best_core_job(spark) -> dict:
    """PASSES timed ``core_job`` passes, min-combined. The cache is
    cleared before each pass, so each one rebuilds the persisted
    versions table like a fresh job would."""
    walls = []
    for _ in range(PASSES):
        spark.catalog.clearCache()
        n_pages, n_tiles, wall = core_job(spark)
        walls.append(round(wall, 3))
    wall = min(walls)
    return {
        "wall": wall,
        "walls": walls,
        "pages_per_sec": round(n_pages / wall, 1),
        "tiles_per_sec": round(n_tiles / wall, 1),
    }


def scaling(spark) -> dict:
    """``core_job`` at local[CPUS], then at local[1] in the same JVM
    bound to one core (see the module docstring). Leaves the JVM bound
    and the local[1] session stopped."""
    from perfbench.run import bind, jvm_pid

    cores_n, cores_4n = 1, CPUS
    hi = best_core_job(spark)
    pid = jvm_pid(spark)
    spark.stop()
    bind(pid, {min(os.sched_getaffinity(0))})
    spark = _spark(cores_n)
    core_job(spark)
    lo = best_core_job(spark)
    spark.stop()
    return {
        "cores_n": cores_n,
        "cores_4n": cores_4n,
        "wall_n": lo["wall"],
        "wall_4n": hi["wall"],
        "walls_n": lo["walls"],
        "walls_4n": hi["walls"],
        "pages_per_sec_n": lo["pages_per_sec"],
        "pages_per_sec_4n": hi["pages_per_sec"],
        "tiles_per_sec_n": lo["tiles_per_sec"],
        "tiles_per_sec_4n": hi["tiles_per_sec"],
        "efficiency": round(
            (hi["pages_per_sec"] / lo["pages_per_sec"]) / (cores_4n / cores_n), 3
        ),
    }


def _skew_inputs(spark, hot_versions: int = 150_000, cold_ids: int = 30_000):
    """Pathological hot-key history-join input: ONE id carrying
    ``hot_versions`` versions (the 3000-version hot-url pytest at
    bench scale) plus a uniform cold tail — the shape where the
    history join's collect_list sends every hot row to one reducer."""
    from pyspark.sql import functions as F

    from osm_wayback_spark.schemas import FEATURES

    hot = spark.range(1, hot_versions + 1).select(
        F.lit("node").alias("element_type"),
        F.lit(77).cast("long").alias("id"),
        F.col("id").cast("int").alias("version"),
        (F.lit(1500000000) + F.col("id")).alias("ts"),
        (F.col("id") % 50).cast("long").alias("changeset"),
        F.lit(1).cast("int").alias("uid"),
        F.lit("u").alias("user"),
        F.lit(True).alias("visible"),
        F.lit(False).alias("deleted"),
        F.map_from_arrays(
            F.array(F.lit("v")), F.array(F.col("id").cast("string"))
        ).alias("tags"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("lonlat"),
        F.lit(None).cast("array<bigint>").alias("node_refs"),
    )
    cold = spark.range(1000, 1000 + cold_ids).select(
        F.lit("node").alias("element_type"),
        (F.col("id") + 1000).alias("id"),
        F.lit(1).cast("int").alias("version"),
        (F.lit(1500000000) + F.col("id")).alias("ts"),
        F.lit(1).cast("long").alias("changeset"),
        F.lit(1).cast("int").alias("uid"),
        F.lit("u").alias("user"),
        F.lit(True).alias("visible"),
        F.lit(False).alias("deleted"),
        F.map_from_arrays(F.array(F.lit("v")), F.array(F.lit("1"))).alias("tags"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("lonlat"),
        F.lit(None).cast("array<bigint>").alias("node_refs"),
    )
    versions = hot.unionByName(cold)
    features = spark.createDataFrame(
        [("node", 77, hot_versions, 1, 1500300000, 1, "u", "{}", {"v": "x"})]
        + [
            ("node", 2000 + i, 1, 1, 1500300000, 1, "u", "{}", {"v": "1"})
            for i in range(0, cold_ids, max(cold_ids // 500, 1))
        ],
        schema=FEATURES,
    )
    return features, versions


def skew_job(spark) -> float:
    """Timed hot-key history join: returns wall. Broadcast joins are
    off for the call (restored after), so it times the shuffled plan
    that inputs past the broadcast threshold run: the hot id's whole
    collect_list on one reducer."""
    from pyspark.sql import functions as F

    from osm_wayback_spark.operators.history import add_history

    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        features, versions = _skew_inputs(spark)
        t0 = time.time()
        add_history(features, versions).select(F.sum(F.size("history"))).collect()
        return time.time() - t0
    finally:
        spark.conf.set(key, before)


def main() -> None:
    import __spark_entry__ as entrymod
    from osm_wayback_spark.synth import sf_from_dir
    from perfbench.run import host_block

    spark = _spark(CPUS)
    host = host_block(spark, CPUS)
    _warm(spark)

    timings: dict[str, float] = {}
    raw: dict[str, list[float]] = {}

    def record(name: str, walls: list[float]) -> None:
        raw[name] = walls
        timings[name] = min(walls)

    def best_of(name: str, fn) -> None:
        walls = []
        for _ in range(PASSES):
            t1 = time.time()
            fn()
            walls.append(round(time.time() - t1, 3))
        record(name, walls)

    t0 = time.time()
    e2e = best_core_job(spark)
    record("pipeline_e2e", e2e["walls"])

    bench_queries = [
        "pages_history",
        "snapshot_latest",
        "tag_diff",
        "tile_assign",
        "cell_stats",
        "pip",
        "knn",
        "cosine_topk",
        "dedup_exact",
        "minhash_signatures",
        # the dedup family's sub-stages: banded LSH candidate pairs,
        # then verified pairs → connected components; then the one-call
        # composition (exact + near-dup labels)
        "lsh_pairs",
        "dedup_clusters",
        "dedupe_corpus",
        "text_stats",
        "zonal_stats",
        "asof_join",
        "repetition_stats",
        "relation_assembly",
        "token_packing",
        "bpe_encode",
        "quality_classifier",
        "lm_perplexity",
        "pii_scrub",
        "contamination",
        "mix_rebalance",
        "dedupe_increment",
        "winnow_pairs",
        "line_dedup",
        "example_windows",
    ]
    qs = entrymod.queries()
    for name in bench_queries:
        best_of(name, lambda: qs[name](spark, SF_DIR).count())
    # hot-key history join on the shuffled plan
    record("skew_history", [round(skew_job(spark), 3) for _ in range(PASSES)])
    total = round(time.time() - t0, 3)
    scale = scaling(spark)

    print(
        json.dumps(
            {
                "metric": "history-join + QA-tile throughput (pages/sec, tiles/sec)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_passes": raw,
                "sf": sf_from_dir(SF_DIR),
                "pages_per_sec": e2e["pages_per_sec"],
                "tiles_per_sec": e2e["tiles_per_sec"],
                "host": host,
                "scaling": scale,
            }
        )
    )


if __name__ == "__main__":
    main()
