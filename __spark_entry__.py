"""Driver contract for the spark-graft builder (PySpark target).

``entry``   — flagship: full pages → history-join → reconstruction.
``queries`` — one entry per implemented operator (SURVEY.md §2 +
              training-data ops); each (spark, sf_dir) → DataFrame.
``oracle_sql`` — DuckDB-equivalent SQL per query (same column names,
              rounded floats, bigint ranks) for the driver's
              row-count + schema + value-hash comparison.

Queries on the OSM-domain synthetic ``pages`` corpus (generated
in-engine, not a driver parquet) have no SQL oracle → rows-only
checks; every relational/text/dedup/spatial operator is oracle-backed
on the driver tables.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# helpers

# the checkout this module runs from; every memoized input lives under
# its .cache, so two checkouts never share a cache
_REPO = os.path.dirname(os.path.abspath(__file__))
_CACHE = os.path.join(_REPO, ".cache")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # NOTE: no blanket fanout here — measured (r7): a parallelism
    # floor only pays on per-row-HEAVY paths (fingerprinting, n-gram
    # explosion), where the operators themselves apply
    # plans/parallel.fanout_small; for light/prunable queries the
    # extra Exchange costs more than the single-task scan.
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic pages at the dir's scale factor,
    cached as parquet under the repo so the N pages-domain queries
    synthesize once (generation is pure, so the cache is just a
    memoization — same bytes every time)."""
    from osm_wayback_spark.synth import sf_from_dir, synth_pages

    sf = sf_from_dir(sf_dir)
    # _s: caches are written globally sorted by (url, warc_ts) — the
    # natural crawl layout. Benefits at scale: runs of one url share
    # column prefixes (better parquet encodings) and any url/ts
    # predicate prunes row groups via min/max stats.
    # 64 range-partitioned files (globally url/ts-sorted — same rows
    # and per-run bytes as the previous single orderBy write, which
    # produced only 18 splittable units at sf0.1 and capped every
    # downstream extraction stage at 18 of 32 cores): enough scan
    # units that local[32] gets full parallelism with two waves, with
    # the same run-length/encoding benefits.
    cache = f"{_CACHE}/pages_sf{sf}_s64"
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        (
            synth_pages(spark, sf)
            .repartitionByRange(64, "url", "warc_ts")
            .sortWithinPartitions("url", "warc_ts")
            .write.mode("overwrite")
            .parquet(cache)
        )
    return spark.read.parquet(cache)


# derived point cloud: deterministic lon/lat per event (integer-mod
# arithmetic — identical doubles in Spark and DuckDB)
def _event_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("point_id"),
        ((F.col("event_id") * 7919 % 360000) / 1000.0 - 180.0).alias("lon"),
        ((F.col("event_id") * 104729 % 170000) / 1000.0 - 85.0).alias("lat"),
    )


_EVENT_POINTS_SQL = """
SELECT event_id AS point_id,
       (event_id * 7919 % 360000) / 1000.0 - 180.0 AS lon,
       (event_id * 104729 % 170000) / 1000.0 - 85.0 AS lat
FROM events
"""

# canonical per-event "tags" as k=v strings (for the SQL-parity tag
# diff; the map-typed diff is exercised by the pages pipeline + pytest)
def _event_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tags = F.array_sort(
        F.filter(
            F.array(
                F.concat(F.lit("type="), F.col("event_type")),
                F.concat(F.lit("kv="), F.regexp_extract("props", r"(\d+)", 1)),
                F.when(
                    F.col("value") >= 100.0,
                    F.concat(F.lit("bucket="), F.floor(F.col("value") / 50.0).cast("string")),
                ),
            ),
            lambda t: t.isNotNull(),
        )
    )
    return ev.select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("version"),
        tags.alias("tags"),
    )


_EVENT_TAGS_SQL = """
SELECT user_id,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version,
       list_sort(list_filter([
         'type=' || event_type,
         'kv=' || regexp_extract(props, '(\\d+)', 1),
         CASE WHEN value >= 100.0 THEN 'bucket=' || CAST(CAST(floor(value / 50.0) AS BIGINT) AS VARCHAR) END
       ], t -> t IS NOT NULL)) AS tags
FROM events
"""


_KNN_SQL = f"""
    WITH pts AS ({_EVENT_POINTS_SQL}),
    q AS (SELECT r_regionkey AS query_id,
                 r_regionkey * 31.0 - 60.0 AS q_lon,
                 r_regionkey * 17.0 - 40.0 AS q_lat
          FROM region),
    d AS (
      SELECT q.query_id, pts.point_id,
             (pts.lon - q.q_lon) * (pts.lon - q.q_lon)
           + (pts.lat - q.q_lat) * (pts.lat - q.q_lat) AS dist2_raw
      FROM pts CROSS JOIN q
    )
    SELECT query_id, point_id, round(dist2_raw, 6) AS dist2,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY dist2_raw, point_id) AS rank
      FROM d
    ) WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# oracle-backed queries over driver tables

def q_snapshot_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/W3 — latest version per key (osmium time-filter analog)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "event_type",
            F.round("value", 6).alias("value"),
        )
    )


def q_history_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — per-entity ordered history array (collect + sort)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_versions"),
        F.unix_micros(F.min("ts").cast("timestamp")).alias("first_ts_us"),
        F.unix_micros(F.max("ts").cast("timestamp")).alias("last_ts_us"),
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
                            F.col("event_id").alias("e"),
                            F.col("event_type").alias("y"),
                        )
                    )
                ),
                lambda s: s["y"],
            ),
        ).alias("types_csv"),
    )


def q_tag_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — tag diff vs previous version (k=v list form; the map form
    runs in the pages pipeline)."""
    tagged = _event_tags(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("version")
    t = tagged.withColumn("prev", F.lag("tags").over(w))
    key = lambda s: F.substring_index(s, "=", 1)  # noqa: E731
    cur, prev = F.col("tags"), F.col("prev")
    added = F.when(prev.isNull(), cur).otherwise(
        F.filter(cur, lambda c: ~F.exists(prev, lambda p: key(p) == key(c)))
    )
    deleted = F.when(prev.isNull(), F.array().cast("array<string>")).otherwise(
        F.filter(prev, lambda p: ~F.exists(cur, lambda c: key(c) == key(p)))
    )
    modified = F.when(prev.isNull(), F.array().cast("array<string>")).otherwise(
        F.filter(
            cur,
            lambda c: F.exists(prev, lambda p: (key(p) == key(c)) & (p != c)),
        )
    )
    return t.select(
        "user_id",
        "version",
        F.concat_ws(",", F.array_sort(added)).alias("added_csv"),
        F.concat_ws(",", F.array_sort(F.transform(modified, key))).alias("modified_keys_csv"),
        F.concat_ws(",", F.array_sort(deleted)).alias("deleted_csv"),
    )


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — z15 Web-Mercator tile assignment (tippecanoe analog)."""
    from osm_wayback_spark.functions.tiles import tile_x, tile_y

    pts = _event_points(spark, sf_dir)
    return pts.select(
        "point_id",
        F.lit(15).cast("int").alias("z"),
        tile_x(F.col("lon"), 15).alias("x"),
        tile_y(F.col("lat"), 15).alias("y"),
    )


def q_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3/S2-analog cell partitioning: res-7 quad cell id + counts."""
    from osm_wayback_spark.functions.cells import cell_id

    pts = _event_points(spark, sf_dir)
    return (
        pts.select(cell_id(F.col("lon"), F.col("lat"), 7).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
    )


def q_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — batched point-in-polygon via cell join + ray-cast kernel
    (oracle: plain bbox SQL — rectangles make ray-cast ≡ bbox). The
    rectangle GeoJSON is synthesized natively (format_string — all
    coords are exact quarter-multiples, so %.2f round-trips them)."""
    from osm_wayback_spark.operators.spatial import point_in_polygon

    nation = _t(spark, sf_dir, "nation")
    lon0 = ((F.col("n_nationkey") * 14) % 340 - 170 + 0.25).cast("double")
    lat0 = ((F.col("n_nationkey") * 6) % 150 - 75 + 0.25).cast("double")
    lon1, lat1 = lon0 + 12.5, lat0 + 5.5
    rings = F.format_string(
        "[[[%.2f, %.2f], [%.2f, %.2f], [%.2f, %.2f], [%.2f, %.2f], [%.2f, %.2f]]]",
        lon0, lat0, lon1, lat0, lon1, lat1, lon0, lat1, lon0, lat0,
    )
    polys = nation.select(
        F.col("n_nationkey").alias("polygon_id"), rings.alias("rings_json")
    )
    pts = _event_points(spark, sf_dir)
    return point_in_polygon(pts, polys, res=5).select(
        "point_id", "polygon_id"
    )


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — exact kNN (broadcast queries, k=5)."""
    from osm_wayback_spark.operators.spatial import knn_brute

    region = _t(spark, sf_dir, "region")
    queries = region.select(
        F.col("r_regionkey").alias("query_id"),
        (F.col("r_regionkey") * 31.0 - 60.0).alias("lon"),
        (F.col("r_regionkey") * 17.0 - 40.0).alias("lat"),
    )
    pts = _event_points(spark, sf_dir)
    out = knn_brute(pts, queries, k=5)
    return out.select(
        "query_id",
        "point_id",
        F.round("dist2", 6).alias("dist2"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN baseline — exact cosine top-k over embeddings."""
    from osm_wayback_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk(emb, queries, k=5)
    return out.select(
        "query_id",
        "vec_id",
        "cosine",
        F.col("rank").cast("bigint").alias("rank"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_wayback_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_wayback_spark.operators.dedup import minhash_signatures

    return minhash_signatures(_t(spark, sf_dir, "documents"), num_hashes=4)


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (8 hashes × 4 bands of 2)."""
    from osm_wayback_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_hashes=8)
    return lsh_candidate_pairs(sigs, num_hashes=8, bands=4)


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (threshold 0.2)."""
    from osm_wayback_spark.operators.dedup import jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    return jaccard_pairs(docs, n=3, threshold=0.2)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash per document."""
    from osm_wayback_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"))


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate nearest neighbors. The candidate set
    (the approximate part, pytest-recall-gated) is materialized to
    parquet; the exact-cosine re-rank, k-guarantee and tie-breaks are
    then fully oracle-checked — DuckDB re-ranks the SAME candidates."""
    from osm_wayback_spark.operators.similarity import (
        ann_lsh_candidates,
        rerank_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    os.makedirs(_ORACLE_DIR, exist_ok=True)
    path = f"{_ORACLE_DIR}/ann_lsh_cands.parquet"
    ann_lsh_candidates(emb, queries, k=5).write.mode("overwrite").parquet(path)
    out = rerank_topk(emb, queries, spark.read.parquet(path), k=5)
    return out.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("bigint").alias("rank")
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means + nprobe) approximate nearest neighbors — same
    materialized-candidates oracle pattern as ann_lsh (candidate
    generation recall-gated in pytest, re-rank oracle-checked)."""
    from osm_wayback_spark.operators.similarity import (
        ann_ivf_candidates,
        build_ivf_index,
        rerank_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    os.makedirs(_ORACLE_DIR, exist_ok=True)
    path = f"{_ORACLE_DIR}/ann_ivf_cands.parquet"
    index = build_ivf_index(emb, n_centroids=16)
    ann_ivf_candidates(queries, index, k=5, nprobe=6).write.mode(
        "overwrite"
    ).parquet(path)
    out = rerank_topk(emb, queries, spark.read.parquet(path), k=5)
    return out.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("bigint").alias("rank")
    )


def q_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over a PREBUILT persisted IVF index (train-once,
    cell-partitioned assignment table, static partition pruning) —
    same materialized-candidates oracle pattern as ann_lsh/ann_ivf:
    the pruned candidate set is written to parquet and DuckDB
    re-ranks the SAME candidates."""
    from osm_wayback_spark.operators.similarity import (
        ann_ivf_candidates,
        build_ivf_index,
        read_ivf_index,
        rerank_topk,
        write_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    os.makedirs(_ORACLE_DIR, exist_ok=True)
    idx = f"{_ORACLE_DIR}/ivf_index"
    write_ivf_index(build_ivf_index(emb, n_centroids=16, iters=3), idx)
    path = f"{_ORACLE_DIR}/ann_ivf_indexed_cands.parquet"
    ann_ivf_candidates(
        queries, read_ivf_index(spark, idx), k=5, nprobe=6
    ).write.mode("overwrite").parquet(path)
    out = rerank_topk(emb, queries, spark.read.parquet(path), k=5)
    return out.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("bigint").alias("rank")
    )


def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/similarity.ann_ivf_pq_candidates): coarse
    nprobe cells → asymmetric-distance ranking from m-byte PQ codes →
    exact re-rank of the ADC-best. Same materialized-candidates oracle
    pattern: the ADC-refined set is written to parquet and DuckDB
    exact-re-ranks the SAME candidates; PQ ranking quality itself is
    the pytest recall gate (test_ann_ivf_pq_recall)."""
    from osm_wayback_spark.operators.similarity import (
        ann_ivf_pq_candidates,
        build_ivf_index,
        rerank_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    os.makedirs(_ORACLE_DIR, exist_ok=True)
    path = f"{_ORACLE_DIR}/ann_ivf_pq_cands.parquet"
    index = build_ivf_index(emb, n_centroids=16, m=8, ksub=16)
    ann_ivf_pq_candidates(queries, index, k=5, nprobe=6, refine=4).write.mode(
        "overwrite"
    ).parquet(path)
    out = rerank_topk(emb, queries, spark.read.parquet(path), k=5)
    return out.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("bigint").alias("rank")
    )


def q_ann_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over the PREBUILT persisted IVF-PQ index (codes live in
    the cell-partitioned assignment table; the probed scan reads
    m-byte codes, never float vectors) — materialized-candidates
    oracle pattern: DuckDB exact-re-ranks the SAME ADC-refined
    set."""
    from osm_wayback_spark.operators.similarity import (
        ann_ivf_pq_candidates,
        build_ivf_index,
        read_ivf_index,
        rerank_topk,
        write_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    os.makedirs(_ORACLE_DIR, exist_ok=True)
    idx = f"{_ORACLE_DIR}/ivfpq_index"
    write_ivf_index(build_ivf_index(emb, n_centroids=16, m=8, ksub=16), idx)
    path = f"{_ORACLE_DIR}/ann_ivfpq_indexed_cands.parquet"
    ann_ivf_pq_candidates(
        queries, read_ivf_index(spark, idx), k=5, nprobe=6, refine=4
    ).write.mode("overwrite").parquet(path)
    out = rerank_topk(emb, queries, spark.read.parquet(path), k=5)
    return out.select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("bigint").alias("rank")
    )


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — zonal statistics: the event-count raster (res-7 cells)
    aggregated per nation rectangle (the same polygons as `pip`).
    Oracle: DuckDB recomputes the raster with the shared cell-id SQL,
    derives each cell's CENTER by inverting the quadtree packing
    (integer x/y extraction + exact mercator inverse), and joins
    center-in-rectangle — plain SQL because the polygons are
    axis-aligned."""
    from osm_wayback_spark.functions.cells import cell_id
    from osm_wayback_spark.operators.raster import zonal_stats

    nation = _t(spark, sf_dir, "nation")
    lon0 = ((F.col("n_nationkey") * 14) % 340 - 170 + 0.25).cast("double")
    lat0 = ((F.col("n_nationkey") * 6) % 150 - 75 + 0.25).cast("double")
    lon1, lat1 = lon0 + 12.5, lat0 + 5.5
    rings = F.format_string(
        "[[[%.2f, %.2f], [%.2f, %.2f], [%.2f, %.2f], [%.2f, %.2f], [%.2f, %.2f]]]",
        lon0, lat0, lon1, lat0, lon1, lat1, lon0, lat1, lon0, lat0,
    )
    polys = nation.select(
        F.col("n_nationkey").alias("polygon_id"), rings.alias("rings_json")
    )
    pts = _event_points(spark, sf_dir)
    values = (
        pts.select(cell_id(F.col("lon"), F.col("lat"), 7).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("value"))
    )
    out = zonal_stats(values, polys, res=7)
    return out.select(
        "polygon_id",
        "n_cells",
        F.col("v_min").cast("bigint").alias("v_min"),
        F.col("v_max").cast("bigint").alias("v_max"),
        F.col("v_sum").cast("bigint").alias("v_sum"),
        F.round("v_avg", 6).alias("v_avg"),
    )


_STREAM_SEQ = __import__("itertools").count()


def _stream_dir(sf_dir: str, table: str = "events") -> str:
    """The parquet file-stream source lists a DIRECTORY; the driver
    tables are single files. Memoize a copy of the table into a
    cache directory once (same memoization contract as _pages: the
    input is immutable, the copy is just staging)."""
    import shutil

    sf = sf_dir.rstrip("/").split("/")[-1]
    d = f"{_CACHE}/stream_{table}_{sf}"
    dst = os.path.join(d, f"{table}.parquet")
    if not os.path.exists(dst):
        os.makedirs(d, exist_ok=True)
        shutil.copy(f"{sf_dir}/{table}.parquet", dst)
    return d


def q_streaming_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 — the watermarked tumbling-window aggregation executed as a
    REAL streaming query: parquet stream source → Trigger.AvailableNow
    drain into a memory sink, returned as the drained batch table.
    AvailableNow + complete mode is deterministic batch-equivalent, so
    the DuckDB oracle is plain date_trunc GROUP BY SQL — the streaming
    operator gets the hard hash gate, not just the pytest golden.
    (Counts only: double sums are FP-order-dependent across engines.)"""
    from osm_wayback_spark.streaming.events import (
        read_event_stream,
        run_available_now,
        windowed_event_counts,
    )

    name = f"q_stream_win_{next(_STREAM_SEQ)}"
    stream = read_event_stream(spark, _stream_dir(sf_dir))
    run_available_now(
        windowed_event_counts(stream), name, output_mode="complete"
    )
    return spark.table(name).select(
        F.unix_micros(F.col("window_start").cast("timestamp")).alias(
            "window_start_us"
        ),
        "event_type",
        "n",
    )


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 — session_window gap clustering as a REAL streaming query
    (AvailableNow drain), oracle-checked against the classic
    gaps-and-islands SQL (lag diff > gap → cumulative-sum session id;
    session end = last event + gap, Spark's session_window semantic).
    Timestamps are microsecond-grained, so the gap boundary is
    tie-free."""
    from osm_wayback_spark.streaming.events import (
        read_event_stream,
        run_available_now,
        sessionize,
    )

    name = f"q_stream_sess_{next(_STREAM_SEQ)}"
    stream = read_event_stream(spark, _stream_dir(sf_dir))
    run_available_now(
        sessionize(stream, gap="5 minutes"), name, output_mode="complete"
    )
    return spark.table(name).select(
        F.unix_micros(F.col("session_start").cast("timestamp")).alias(
            "session_start_us"
        ),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias(
            "session_end_us"
        ),
        "user_id",
        "n_events",
    )


def q_streaming_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static near-dup screening as a REAL streaming query:
    odd doc_ids arrive as the stream (parquet file stream, AvailableNow
    drain), even doc_ids form the static reference-corpus signature
    table, and the banded MinHash stream-static equi-join flags each
    candidate collision (doc_id, corpus_doc_id, band).

    Stream-static joins are stateless and append-safe, and both sides'
    banding is pure column math (round-4 shuffle-free signatures +
    the shared ``band_buckets`` helper), so the drained set is
    deterministic — the DuckDB oracle recomputes BOTH sides' MinHash
    banding in SQL (same md5 shingle/band math as ``lsh_pairs``) and
    the streaming operator gets the full hash gate."""
    from osm_wayback_spark.operators.dedup import minhash_signatures
    from osm_wayback_spark.streaming.events import (
        read_event_stream,
        run_available_now,
        streaming_near_dup_flags,
    )

    corpus = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    corpus_sigs = minhash_signatures(corpus, num_hashes=8, n=3)
    name = f"q_stream_nd_{next(_STREAM_SEQ)}"
    stream = read_event_stream(spark, _stream_dir(sf_dir, "documents")).filter(
        F.col("doc_id") % 2 == 1
    )
    flags = streaming_near_dup_flags(stream, corpus_sigs, num_hashes=8, bands=4)
    run_available_now(flags, name, output_mode="append")
    return spark.table(name).select(
        "doc_id", "corpus_doc_id", F.col("band").cast("long").alias("band")
    )


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (``dropDuplicatesWithinWatermark`` on the
    content fingerprint) drained with AvailableNow. WHICH crawl of a
    duplicated text survives is arrival-order-dependent (micro-batch
    file/task order — not deterministic across runs), so the
    hash-gated projection is the operator's deterministic invariant:
    the set of surviving fingerprints, one row per distinct
    normalized-text md5. The staged single parquet file drains as ONE
    micro-batch, so the whole table dedups against empty state; the
    cross-batch watermark aging path is pinned by pytest
    (tests/test_streaming.py)."""
    from osm_wayback_spark.functions.text import fingerprint
    from osm_wayback_spark.streaming.events import (
        read_event_stream,
        run_available_now,
        streaming_exact_dedup,
    )

    name = f"q_stream_dd_{next(_STREAM_SEQ)}"
    stream = read_event_stream(spark, _stream_dir(sf_dir, "documents")).withColumn(
        "ts", F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 60)
    )
    out = streaming_exact_dedup(stream)
    run_available_now(out, name, output_mode="append")
    return spark.table(name).select(fingerprint(F.col("text")).alias("fp"))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal AS-OF join (operators/relations.member_ways_asof, the
    member-resolution half of the true relation-geometry extension):
    synthetic way validity intervals (valid_since = event ts,
    valid_until = lead) joined as-of each synthetic relation-member
    timestamp. Fully relational (left join with the interval predicate
    + one window), so the DuckDB oracle mirrors it exactly."""
    from pyspark.sql import Window as W

    from osm_wayback_spark.operators.relations import member_ways_asof

    ev = _t(spark, sf_dir, "events")
    wg_src = ev.filter(F.col("event_id") % 7 == 0)
    w = W.partitionBy(F.col("event_id") % 97).orderBy("ts", "event_id")
    way_geoms = wg_src.select(
        (F.col("event_id") % 97).alias("way_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("valid_since"),
        F.lead(F.unix_micros(F.col("ts").cast("timestamp"))).over(w).alias(
            "valid_until"
        ),
        F.col("event_id").cast("string").alias("coords_json"),
    )
    mw = W.partitionBy("user_id").orderBy("ts", "event_id")
    members = ev.filter(F.col("event_id") % 7 == 1).select(
        F.col("user_id").alias("id"),
        F.row_number().over(mw).cast("bigint").alias("version"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts"),
        F.lit(0).cast("int").alias("member_idx"),
        (F.col("event_id") % 97).alias("member_ref"),
        F.when(F.col("event_id") % 2 == 0, F.lit("outer"))
        .otherwise(F.lit("inner"))
        .alias("member_role"),
    )
    return member_ways_asof(members, way_geoms)


def q_relation_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True relation-geometry RING ASSEMBLY under the hash gate (the
    member-resolution half is `asof_join`; this exercises the
    stitcher, operators/relations.assemble_relation_geometries).

    Synthesis: per (relation, version) two hexagonal rings, each
    split into 3 open arcs sharing single endpoints (every endpoint
    degree 2, so the ring decomposition is mathematically unique —
    algorithm-independent). The REAL kernel stitches arcs into
    MultiPolygons; the query then projects each geometry to its
    canonical form — per-ring sorted vertex list, rings sorted — so
    the hash compares ring MEMBERSHIP + CLOSURE + vertex content.
    The DuckDB oracle re-derives ring membership independently:
    recursive-CTE connected components over the arcs-share-an-
    endpoint graph (the same CC pattern as dedup_clusters), then the
    identical canonicalization. Integer vertex coordinates keep the
    string forms byte-identical across engines."""
    from osm_wayback_spark.operators.relations import reconstruct_relations

    ev = _t(spark, sf_dir, "events")
    rels = ev.select((F.col("user_id") % 37).alias("rid")).distinct()
    rv = rels.select(
        "rid", F.explode(F.array(*[F.lit(i) for i in (1, 2, 3)])).alias("v")
    )
    arcs = rv.select(
        "rid", "v", F.explode(F.array(*[F.lit(i) for i in range(6)])).alias("m")
    )
    k = F.floor(F.col("m") / 3).cast("int")  # ring 0|1
    j = (F.col("m") % 3).cast("int")  # arc within ring
    xoff = F.array(*[F.lit(o) for o in (0, 1, 2, 2, 1, 0)])
    yoff = F.array(*[F.lit(o) for o in (0, 0, 1, 2, 3, 2)])

    def px(i):
        return (k * 100 + F.element_at(xoff, i + 1)).cast("long")

    def py(i):
        return (
            F.col("rid") * 1000 + F.col("v") * 10 + F.element_at(yoff, i + 1)
        ).cast("long")

    s, mid, e = j * 2, j * 2 + 1, (j * 2 + 2) % 6
    arcs = arcs.select(
        "rid",
        "v",
        "m",
        (F.col("rid") * 1000 + F.col("v") * 100 + F.col("m")).alias("way_id"),
        F.format_string(
            "[[%d,%d],[%d,%d],[%d,%d]]",
            px(s), py(s), px(mid), py(mid), px(e), py(e),
        ).alias("coords_json"),
    )
    members = arcs.select(
        F.col("rid").alias("id"),
        F.col("v").alias("version"),
        F.col("v").cast("long").alias("ts"),
        F.col("m").alias("member_idx"),
        F.col("way_id").alias("member_ref"),
        F.lit("outer").alias("member_role"),
    )
    way_geoms = arcs.select(
        "way_id",
        F.lit(0).cast("long").alias("valid_since"),
        F.lit(None).cast("long").alias("valid_until"),
        "coords_json",
    )
    out = reconstruct_relations(members, way_geoms)

    gm = F.from_json(
        "geometry",
        "struct<type:string,coordinates:array<array<array<array<bigint>>>>>",
    )

    def ring_sig(poly):
        ring = F.element_at(poly, 1)
        verts = F.slice(ring, 1, F.size(ring) - 1)  # drop closing repeat
        pts = F.transform(
            verts,
            lambda p: F.concat_ws(
                ",",
                F.element_at(p, 1).cast("string"),
                F.element_at(p, 2).cast("string"),
            ),
        )
        return F.array_join(F.array_sort(pts), ";")

    coords = gm["coordinates"]
    return out.select(
        "id",
        "version",
        "ts",
        F.size(coords).cast("long").alias("n_rings"),
        F.array_join(
            F.array_sort(F.transform(coords, ring_sig)), "|"
        ).alias("rings_sig"),
        "n_members",
        "n_resolved",
        "n_unclosed",
    )


def q_rasterize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — vector → raster: every res-7 cell whose CENTER lies inside
    a nation rectangle (center-sampling rasterization). Oracle: DuckDB
    enumerates each polygon's bbox tile range with generate_series,
    derives cell centers by the exact mercator inverse, and keeps
    strict center-in-rectangle — the same candidate-then-refine shape
    as the kernel, in plain SQL."""
    from osm_wayback_spark.operators.raster import rasterize_polygons

    nation = _t(spark, sf_dir, "nation")
    lon0 = ((F.col("n_nationkey") * 14) % 340 - 170 + 0.25).cast("double")
    lat0 = ((F.col("n_nationkey") * 6) % 150 - 75 + 0.25).cast("double")
    lon1, lat1 = lon0 + 12.5, lat0 + 5.5
    rings = F.format_string(
        "[[[%.2f, %.2f], [%.2f, %.2f], [%.2f, %.2f], [%.2f, %.2f], [%.2f, %.2f]]]",
        lon0, lat0, lon1, lat0, lon1, lat1, lon0, lat1, lon0, lat0,
    )
    polys = nation.select(
        F.col("n_nationkey").alias("polygon_id"), rings.alias("rings_json")
    )
    return rasterize_polygons(polys, res=7)


def q_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-pruned EXACT kNN (boundary certificate + brute fallback) —
    oracle-checked against the same brute-force SQL as `knn`."""
    from osm_wayback_spark.operators.spatial import knn_exact

    region = _t(spark, sf_dir, "region")
    queries = region.select(
        F.col("r_regionkey").alias("query_id"),
        (F.col("r_regionkey") * 31.0 - 60.0).alias("lon"),
        (F.col("r_regionkey") * 17.0 - 40.0).alias("lat"),
    )
    pts = _event_points(spark, sf_dir)
    out = knn_exact(pts, queries, k=5, res=4, ring=1)
    return out.select(
        "query_id",
        "point_id",
        F.round("dist2", 6).alias("dist2"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def q_knn_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-pruned kNN with ring auto-expansion until every query is
    certificate-exact — shares the brute-force SQL oracle."""
    from osm_wayback_spark.operators.spatial import knn_cells

    region = _t(spark, sf_dir, "region")
    queries = region.select(
        F.col("r_regionkey").alias("query_id"),
        (F.col("r_regionkey") * 31.0 - 60.0).alias("lon"),
        (F.col("r_regionkey") * 17.0 - 40.0).alias("lat"),
    )
    pts = _event_points(spark, sf_dir)
    out = knn_cells(pts, queries, k=5, res=4, ring=1, expand=True)
    return out.select(
        "query_id",
        "point_id",
        F.round("dist2", 6).alias("dist2"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash-LSH candidate pairs → connected
    components (iterative min-label propagation) → every document
    labeled with its cluster + canonical flag. Oracle: DuckDB
    recursive CTE over the same pairs."""
    from osm_wayback_spark.operators.dedup import (
        dedup_clusters,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(
        minhash_signatures(docs, num_hashes=8), num_hashes=8, bands=4
    )
    return dedup_clusters(docs, pairs)


def q_dedupe_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call corpus dedup (exact + jaccard-VERIFIED near-dup
    clusters + canonical selection). Oracle: the exact window + the
    LSH-candidate/jaccard-verify/recursive-CC SQL composed the same
    way the operator composes the primitives."""
    from osm_wayback_spark.operators.dedup import dedupe_corpus

    return dedupe_corpus(
        _t(spark, sf_dir, "documents"),
        num_hashes=8,
        bands=4,
        threshold=0.3,
    )


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus quality gate: keep documents that clear token
    count, language and quality-score thresholds (the composition a
    data pipeline runs before tokenization)."""
    from osm_wayback_spark.functions.text import (
        lang_id,
        quality_score,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        lang_id(F.col("text")).alias("lang_pred"),
        quality_score(F.col("text")).alias("quality"),
    )
    return scored.filter(
        (F.col("n_tokens") >= 5)
        & (F.col("lang_pred") == "en")
        & (F.col("quality") >= 0.3)
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_wayback_spark.functions.text import (
        fingerprint,
        lang_id,
        quality_score,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        fingerprint(F.col("text")).alias("fp"),
        lang_id(F.col("text")).alias("lang_pred"),
        quality_score(F.col("text")).alias("quality"),
    )


def q_token_stats_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenization counts per document."""
    from osm_wayback_spark.functions.text import token_count_bpe

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", token_count_bpe(F.col("text")).cast("bigint").alias("n_bpe_tokens")
    )


# Frozen merge list of the classic BPE trainer (tests/test_bpe.py
# `_ref_train`: pair frequency desc, then pair lexicographic asc) over
# the whitespace-word histogram of the sf0.001 documents, 40 merges,
# min_freq=2 — embedded as a literal so the DuckDB oracle can apply
# the IDENTICAL merge list. Training is iterative (not
# SQL-expressible); tests/test_bpe.py::
# test_ref_train_rederives_frozen_merges re-derives this list, and
# encoding — the per-row hot path — is hash-gated here.
BPE_MERGES = [
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"),
    ("l", "u"), ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"),
    ("a", "n"), ("c", "an"), ("s", "can"), ("c", "o"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("d", "ow"), ("in", "dow"),
    ("w", "indow"), ("d", "er"), ("or", "der"), ("or", "t"),
    ("s", "ort"), ("par", "t"), ("u", "p"), ("a", "g"), ("ag", "g"),
    ("a", "lu"), ("alu", "e"), ("v", "alue"), ("in", "e"),
    ("l", "ine"), ("e", "y"), ("k", "ey"), ("j", "o"), ("jo", "in"),
    ("g", "e"), ("mer", "ge"), ("er", "y"),
]


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing substring-match pairs (operators/dedup
    .winnow_pairs, MOSS algorithm): every document pair sharing a
    verbatim run of ≥ w+k-1 = 35 normalized chars is guaranteed to
    surface. k=24/w=12 keeps the pair set meaningful on the
    word-soup synthetic corpus (k=16/w=8 — a 23-char guarantee —
    drowns in common 3-word phrases there; real prose can run the
    default). The whole fingerprint pipeline (k-gram md5s, window
    minima, distinct, equi-join) is hash-gated."""
    from osm_wayback_spark.operators.dedup import winnow_pairs

    docs = _t(spark, sf_dir, "documents")
    return winnow_pairs(docs, k=24, w=12)


def q_dedupe_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus update (operators/dedup.dedupe_increment):
    the doc_id%5==0 slice plays the NEW crawl batch, the rest the
    existing corpus; each new doc is screened exact (md5 semi-join)
    and near (banded MinHash new×corpus equi-join + exact-Jaccard
    verify) — the whole verdict table is hash-gated against an
    independent all-SQL recomputation."""
    from osm_wayback_spark.operators.dedup import dedupe_increment

    docs = _t(spark, sf_dir, "documents")
    return dedupe_increment(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
        num_hashes=8,
        bands=4,
        threshold=0.3,
    )


def q_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix rebalancing (operators/corpus.mix_rebalance): keep
    the largest deterministic subset matching a 40/30/30 en/es/de
    target mix. The limiting-stratum minimum, per-stratum keep rates
    and the md5-bucket filter are all in the plan (no driver
    collect) and mirrored op-for-op in the oracle — identical IEEE
    arithmetic order, so even the floor() boundaries agree."""
    from osm_wayback_spark.operators.corpus import mix_rebalance

    docs = _t(spark, sf_dir, "documents")
    return mix_rebalance(docs, {"en": 0.4, "es": 0.3, "de": 0.3})


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram LM perplexity (operators/lm) — the CCNet-style
    quality signal — with the WHOLE operator under the hash gate,
    training included: the model is counted from the doc_id%10==0
    held-in slice and every document is scored against it. Unseen
    n-grams hit the uniform add-1 backoff purely through the
    coalesce algebra (no special-case branch to diverge on)."""
    from osm_wayback_spark.operators.lm import lm_perplexity, train_char_lm

    docs = _t(spark, sf_dir, "documents")
    model = train_char_lm(docs.filter(F.col("doc_id") % 10 == 0), n=3)
    out = lm_perplexity(docs, model, n=3)
    return out.select(
        "doc_id", "n_grams", F.round("ppl", 6).alias("ppl")
    )


def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity terciles (operators/lm
    .ppl_buckets) over the lm_perplexity scores: the exact
    interpolated percentile (one scalar aggregate broadcast back —
    no global sort) matches DuckDB's quantile_cont bit-for-bit on
    the round-6 ppl values, so the tercile split is hash-gated on top
    of the already-gated LM scoring."""
    from osm_wayback_spark.operators.lm import ppl_buckets

    scored = q_lm_perplexity(spark, sf_dir).select("doc_id", "ppl")
    return ppl_buckets(scored)


# Frozen weights of full-batch logistic-regression GD on the sf0.001
# documents' `doc_features`, rows ordered by doc_id, label = the
# corpus_filter quality gate (quality_score >= 0.3) — the
# distillation target a production pipeline uses (learn the
# expensive gate, apply the cheap linear scorer). The trainer is
# tests/test_classifier.py `_numpy_gd` (z-score standardize, GD,
# fold back) with iters=400, lr=4.0; tests/test_classifier.py::
# test_numpy_gd_rederives_frozen_weights re-derives these weights.
# 0.99 train accuracy vs a 0.948 majority baseline. Scoring with
# them is pure column math, hash-gated below.
# Order: [bias, f_len, f_stop, f_punct, f_wlen, f_digit].
QUALITY_LR_WEIGHTS = [
    -15.768520742952, 22.158186020951, 28.861193160611, 0.0,
    2.418786669526, 0.0,
]


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distilled quality classifier (operators/classifier): exact
    surface features (integer counts and IEEE divisions only — no
    libm, so DuckDB reproduces them bit-identically) + sigmoid of
    the frozen weight vector, rounded to 6 so libm `exp` ulp drift
    cannot flip the hash. `keep` is the classifier's gate verdict."""
    from osm_wayback_spark.operators.classifier import (
        doc_features,
        score_logreg,
    )

    docs = _t(spark, sf_dir, "documents")
    p = score_logreg(QUALITY_LR_WEIGHTS)
    return doc_features(docs).select(
        "doc_id",
        F.round(p, 6).alias("q_score"),
        (p > 0.5).alias("keep"),
    )


# rendered once for the oracle as a flat SQL list literal of
# 'pattern<TAB>replacement' strings (DuckDB lambdas cannot contain
# subqueries, so the list is inlined, not CTE-referenced)
_BPE_MERGES_SQL = "[" + ", ".join(
    f"chr(31)||'{l}'||chr(31)||chr(31)||'{r}'||chr(31)"
    f"||chr(9)||chr(31)||'{l + r}'||chr(31)"
    for l, r in BPE_MERGES
) + "]"


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BPE tokenization (functions/bpe.encode_bpe) under the
    hash gate: every document is encoded with the frozen 40-merge
    vocabulary and fingerprinted token-by-token, so the whole encode
    path — char wrapping, the separator replace-fold, rank order —
    must agree with DuckDB's independent list_reduce mirror
    byte-for-byte. Zero shuffle, zero Python: the fold is one JVM
    `aggregate` expression riding the scan."""
    from osm_wayback_spark.functions.bpe import bpe_token_count, encode_bpe

    docs = _t(spark, sf_dir, "documents")
    toks = encode_bpe(F.col("text"), BPE_MERGES)
    return docs.select(
        "doc_id",
        bpe_token_count(F.col("text"), BPE_MERGES).alias("n_tokens_bpe"),
        F.md5(F.concat_ws(" ", toks)).alias("toks_fp"),
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021
    §A1.1) per document: top-word fraction, duplicate 2-gram and
    3-gram fractions, plus the filter verdict at the paper's flavor
    of thresholds. Pure per-row HOF column math (zero shuffle, zero
    UDF) — the canonical webtext repetition filter a training
    pipeline runs between dedup and tokenization."""
    from osm_wayback_spark.functions.text import (
        dup_ngram_ratio,
        top_ngram_ratio,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        top_ngram_ratio(F.col("text"), 1).alias("top_word_ratio"),
        dup_ngram_ratio(F.col("text"), 2).alias("dup_2gram_ratio"),
        dup_ngram_ratio(F.col("text"), 3).alias("dup_3gram_ratio"),
    )
    return scored.withColumn(
        "passes_repetition",
        (F.col("top_word_ratio") <= 0.2)
        & (F.col("dup_2gram_ratio") <= 0.6)
        & (F.col("dup_3gram_ratio") <= 0.5),
    )


def q_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-domain accounting: build each document's URL
    deterministically from its source, extract the host with Spark's
    JVM-native ``parse_url`` (no UDF), and aggregate per-domain doc /
    char / language counts — the per-domain budget report a crawl
    pipeline runs before sampling. The DuckDB oracle mirrors the host
    extraction with a regexp over the same constructed URL, so the
    extraction semantics (not just the group keys) are checked."""
    docs = _t(spark, sf_dir, "documents")
    u = docs.select(
        "lang",
        "n_chars",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/docs/"),
            F.col("doc_id"),
            F.lit("?ref=crawl"),
        ).alias("url"),
    )
    return (
        u.select(
            F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
            "lang",
            "n_chars",
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (operators/corpus): rebalance
    the language mix by keeping a per-stratum percentage decided by a
    hash of the doc id — zero shuffle, no count-first pass,
    reproducible across engines (the oracle computes the identical
    md5-prefix bucket)."""
    from osm_wayback_spark.operators.corpus import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(docs, rates={"en": 40, "zh": 70}, default_rate=90)
    return out.select("doc_id", "lang")


def q_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential token packing (operators/corpus): within
    each language, in deterministic doc order, documents land in the
    chunk where their cumulative token count starts; output is the
    per-chunk fill report. One window + one groupBy — both shuffle
    on the same stratum key."""
    from osm_wayback_spark.functions.text import token_count
    from osm_wayback_spark.operators.corpus import pack_summary, pack_tokens

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    return pack_summary(pack_tokens(scored, budget=512))


def q_example_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing (operators/corpus
    .example_windows): each language's token stream is cut into
    fixed 512-token training examples with documents SPLIT across
    boundaries; every (doc, example) overlap segment — offsets and
    lengths — is hash-gated against an identical DuckDB cumsum
    derivation."""
    from osm_wayback_spark.functions.text import token_count
    from osm_wayback_spark.operators.corpus import example_windows

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    return example_windows(scored, example_len=512)


def q_canonical_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for crawl dedup (functions/text
    .canonical_url): messy URLs (mixed-case scheme/host, default
    ports, tracking params, fragments) are constructed
    deterministically per doc, canonicalized with pure column math,
    and hash-gated — the DuckDB oracle applies the SAME RE2/Java
    common-subset patterns plus the same CASE-based port logic
    (no regex backreferences, whose replacement syntax differs
    between engines)."""
    from osm_wayback_spark.functions.text import canonical_url

    docs = _t(spark, sf_dir, "documents")
    messy = docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://")).otherwise(
                F.lit("http://")
            ),
            F.initcap(F.col("source")),
            F.lit(".Example.COM"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(":443")).otherwise(
                F.lit("")
            ),
            F.lit("/Docs/"),
            F.col("doc_id"),
            F.lit("?utm_source=feed&id="),
            F.col("doc_id"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("&ref=social")).otherwise(
                F.lit("")
            ),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit("&href=h"), F.col("doc_id")),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 4 == 0, F.lit("#frag")).otherwise(
                F.lit("")
            ),
        ).alias("url"),
    )
    return messy.select(
        "doc_id", canonical_url(F.col("url")).alias("canon")
    )


_LD_BP = (
    "BOILERPLATE: subscribe to our newsletter for updates today and "
    "share this page"
)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide LINE-level exact dedup (operators/dedup.line_dedup
    — the C4/MassiveText recipe: a line occurring more than once in
    the corpus survives only at its first (doc_id, idx) occurrence;
    lines under min_chars are never deduped). Fixture: every doc gets
    the SAME long boilerplate line, its own text, and a short per-doc
    tail — so the boilerplate must survive exactly once, duplicate
    texts collapse to their first doc, and the short tails all stay.
    The reassembled text is md5-hash-gated against an identical
    DuckDB derivation."""
    from osm_wayback_spark.operators.dedup import line_dedup

    docs = _t(spark, sf_dir, "documents")
    fx = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit(_LD_BP),
            F.col("text"),
            F.concat(F.lit("id "), F.col("doc_id")),
        ).alias("text"),
    )
    out = line_dedup(fx, min_chars=30)
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        "n_lines",
        "n_dropped",
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (functions/text.redact_pii): the corpus text is
    synthetic and clean, so deterministic PII (an email, a phone, an
    IPv4 per doc) is planted first; the query counts each kind and
    fingerprints the scrubbed text. Patterns live in the Java-regex /
    RE2 common subset, so the DuckDB oracle applies the SAME patterns
    and must produce the identical redacted-text md5 — the regex
    semantics themselves are hash-gated."""
    from osm_wayback_spark.functions.text import pii_count, redact_pii

    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@mail.example.com or 555-01"),
            (F.col("doc_id") % 10),
            F.lit(".1234 at 10.0."),
            (F.col("doc_id") % 256),
            F.lit(".7"),
        ).alias("text"),
    )
    return planted.select(
        "doc_id",
        pii_count(F.col("text"), "email").alias("n_emails"),
        pii_count(F.col("text"), "phone").alias("n_phones"),
        pii_count(F.col("text"), "ip").alias("n_ips"),
        F.md5(redact_pii(F.col("text"))).alias("clean_fp"),
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/corpus
    .contamination_screen): every 97th document plays the held-out
    eval set; training documents sharing any distinct word 5-gram
    with it are flagged with overlap counts. The only join is an
    equi-join on the n-gram. (n=4 on this corpus: a handful of real
    collisions; n=5 is near-empty, n=3 flags a third of the corpus —
    the production default stays 5, see contamination_screen.)"""
    from osm_wayback_spark.operators.corpus import contamination_screen

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_screen(train, ev, n=4)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.4) over
    deterministic LSH candidates — the scale shape: the only self-join
    is a bucket equi-join, never the all-pairs theta join. The
    candidate set is materialized so the DuckDB oracle verifies the
    exact-cosine threshold step over the SAME pairs; candidate recall
    vs the exact all-pairs is pytest-gated (test_similarity)."""
    from osm_wayback_spark.operators.similarity import (
        near_dup_candidates,
        near_dup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    os.makedirs(_ORACLE_DIR, exist_ok=True)
    path = f"{_ORACLE_DIR}/near_dup_cands.parquet"
    near_dup_candidates(emb).write.mode("overwrite").parquet(path)
    return near_dup_pairs(emb, spark.read.parquet(path), threshold=0.4)


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped aggregate (breadth check: hash agg + rounding
    parity across engines)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + window top-N (broadcastable dim join parity)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rev = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    joined = rev.join(cust, rev.o_custkey == cust.c_custkey).select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        "revenue",
        "n_orders",
    )
    w = Window.orderBy(F.desc("revenue"), F.col("custkey"))
    return (
        joined.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 10)
    )


# ---------------------------------------------------------------------------
# pages-domain queries — oracle-backed via materialized intermediates:
# the Spark query itself writes the table the DuckDB SQL reads (fixed
# path, overwritten per call, so both engines literally share bytes;
# the driver runs the Spark side first). The relational semantics
# (feature selection, history join, tag diff, locations resolution,
# tile cover) are then re-expressed in plain SQL over that table.

_ORACLE_DIR = f"{_CACHE}/oracle"

_FP_CACHE: str | None = None


def _code_fp() -> str:
    """Fingerprint of every source feeding the materialized oracle
    tables. Memoized parquet is keyed on (sf, fp) so a stale cache
    cannot survive an engine or oracle code change, while repeated
    driver/bench calls at the same rev pay extraction exactly once."""
    global _FP_CACHE
    if _FP_CACHE is None:
        import glob
        import hashlib

        h = hashlib.md5()
        files = sorted(
            glob.glob(f"{_REPO}/osm_wayback_spark/**/*.py", recursive=True)
        ) + [
            f"{_REPO}/tests/oracle.py",
            f"{_REPO}/tests/oracle_reconstruct.py",
            # the materialization projections themselves live here —
            # an entry edit must invalidate the cache too
            f"{_REPO}/__spark_entry__.py",
        ]
        for f in files:
            with open(f, "rb") as fh:
                h.update(fh.read())
        _FP_CACHE = h.hexdigest()[:12]
    return _FP_CACHE


def _point(link: str, target: str) -> None:
    """Point the fixed oracle path (what the DuckDB SQL reads) at the
    memoized table for the sf/rev that just ran. A symlink flip instead
    of a rewrite: the bytes are written once per (sf, code-fp)."""
    import shutil

    if os.path.islink(link):
        if os.readlink(link) == target:
            return
        os.unlink(link)
    elif os.path.isdir(link):
        shutil.rmtree(link)
    elif os.path.exists(link):
        os.remove(link)
    os.symlink(target, link)


def _oracle_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract + dedup versions from the pages corpus, materialize for
    the DuckDB oracle (tags additionally as a sorted k<TAB>v string
    array — DuckDB list ops beat its map quirks), return the
    read-back DF so the Spark query computes from the same bytes.

    Memoized per (sf, code fingerprint) like ``_pages``: extraction is
    pure, so the cache is pure memoization — the benched pages_* walls
    time the engine query, not oracle re-materialization."""
    from osm_wayback_spark.sources.extract import (
        dedup_versions,
        extract_versions_native,
    )
    from osm_wayback_spark.synth import sf_from_dir

    sf = sf_from_dir(sf_dir)
    path = f"{_ORACLE_DIR}/versions_sf{sf}_{_code_fp()}.parquet"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        versions_ext = dedup_versions(
            extract_versions_native(_pages(spark, sf_dir))
        )
        kv = F.array_sort(
            F.transform(
                F.map_entries("tags"),
                lambda e: F.concat(e["key"], F.lit("\t"), e["value"]),
            )
        )
        (
            versions_ext.withColumn("tags_kv", kv)
            .withColumn("has_geom", F.col("geometry_json").isNotNull())
            .write.mode("overwrite")
            .parquet(path)
        )
    _point(f"{_ORACLE_DIR}/versions.parquet", path)
    return spark.read.parquet(path)


def q_pages_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/W1/A1 over the real pipeline: per-feature history length +
    checksums of the record fields and tag-diff sizes (add_history.cpp
    semantics, fully relational → SQL-mirrorable)."""
    from osm_wayback_spark.operators.history import add_history
    from osm_wayback_spark.sources.extract import features_from_versions

    ve = _oracle_versions(spark, sf_dir)
    feats = features_from_versions(ve)
    hist = add_history(feats, ve.drop("geometry_json", "tags_kv", "has_geom"))
    zero = F.lit(0).cast("long")
    agg = lambda fn: F.aggregate("history", zero, fn)  # noqa: E731
    return hist.select(
        "element_type",
        "id",
        F.col("version").cast("long").alias("version"),
        F.size("history").cast("long").alias("n_history"),
        agg(lambda a, r: a + r["i"]).alias("sum_v"),
        agg(lambda a, r: a + r["t"]).alias("sum_ts"),
        agg(lambda a, r: a + F.coalesce(F.size(r["aA"]), F.lit(0))).alias("n_aa"),
        agg(lambda a, r: a + F.coalesce(F.size(r["aM"]), F.lit(0))).alias("n_am"),
        agg(lambda a, r: a + F.coalesce(F.size(r["aD"]), F.lit(0))).alias("n_ad"),
    )


def q_pages_locations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — node-location resolution counts per feature
    (add_geometry.cpp:50-152): distinct resolved refs + total
    (node, changeset) entries attached."""
    from osm_wayback_spark.operators.history import add_history
    from osm_wayback_spark.operators.locations import add_node_locations
    from osm_wayback_spark.sources.extract import (
        features_from_versions,
        node_locations_from_versions,
    )

    ve = _oracle_versions(spark, sf_dir)
    versions = ve.drop("geometry_json", "tags_kv", "has_geom")
    hist = add_history(features_from_versions(ve), versions)
    wl = add_node_locations(
        hist, node_locations_from_versions(versions), refs_source=versions
    )
    inner_sizes = F.transform(
        F.map_values("node_locations"), lambda by_cs: F.size(by_cs)
    )
    return wl.select(
        "element_type",
        "id",
        F.coalesce(F.size(F.map_keys("node_locations")), F.lit(0))
        .cast("long")
        .alias("n_nodes"),
        F.coalesce(
            F.aggregate(inner_sizes, F.lit(0), lambda a, s: a + s), F.lit(0)
        )
        .cast("long")
        .alias("n_entries"),
    )


def _write_reconstruct_expected(sf_dir: str) -> None:
    """Materialize the DRIVER-SIDE oracle's reconstruction output as
    the expected table for DuckDB. FULLY independent of the engine:
    stages 1-3 are tests/oracle.py (row-at-a-time re-execution), and
    stage 4 is tests/oracle_reconstruct.py — a second implementation
    transliterated from the reference JS builders, importing nothing
    from osm_wayback_spark.operators.{_reconstruct_core,reconstruction}
    — so a kernel semantics bug FAILS the pages_reconstruct hash."""
    from osm_wayback_spark.synth import sf_from_dir

    sf = sf_from_dir(sf_dir)
    link = f"{_ORACLE_DIR}/pages_reconstruct_expected.parquet"
    out = f"{_ORACLE_DIR}/pages_reconstruct_expected_sf{sf}_{_code_fp()}.parquet"
    if os.path.exists(out):
        _point(link, out)
        return

    from tests.oracle import (
        add_history_oracle,
        build_index,
        extract_all,
        node_locations_oracle,
    )
    from tests.oracle_reconstruct import reconstruct_rows

    versions, locs, features = build_index(extract_all(sf))
    histories = add_history_oracle(versions, features)
    nested = node_locations_oracle(histories, features, locs)
    exp = []
    for key, feat in features.items():
        for row in reconstruct_rows(
            key[0], key[1], feat.get("geometry"), histories.get(key) or [],
            nested.get(key),
        ):
            exp.append(row)
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(_ORACLE_DIR, exist_ok=True)
    cols = [
        "element_type", "id", "version", "minor_version", "valid_since",
        "valid_until", "geometry",
    ]
    pdf = pd.DataFrame([{c: r[c] for c in cols} for r in exp], columns=cols)
    schema = pa.schema(
        [
            ("element_type", pa.string()),
            ("id", pa.int64()),
            ("version", pa.int64()),
            ("minor_version", pa.int64()),
            ("valid_since", pa.int64()),
            ("valid_until", pa.int64()),
            ("geometry", pa.string()),
        ]
    )
    # write-then-rename (r6 advice): pq.write_table is not atomic, and
    # the memo gate above is a bare os.path.exists — a crash mid-write
    # must not leave a partial file that later runs symlink and reuse
    tmp = out + ".tmp"
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), tmp
    )
    os.replace(tmp, out)
    _point(link, out)


def q_pages_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1/J4 — full reconstruction, hash-compared against the
    driver-side oracle's expected table, so the whole distributed
    plumbing (extraction, joins, re-nesting, Arrow kernel) is
    verified end-to-end."""
    from osm_wayback_spark import pipeline

    _write_reconstruct_expected(sf_dir)
    out = pipeline.reconstruction_pipeline(_pages(spark, sf_dir))
    return out.select(
        "element_type",
        "id",
        F.col("version").cast("long").alias("version"),
        F.col("minor_version").cast("long").alias("minor_version"),
        "valid_since",
        "valid_until",
        "geometry",
    )


def q_pages_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/W4 at pipeline scale — the reconstruction output is
    materialized, then the z15 vertex+bbox tile cover is computed by
    the engine AND re-derived in SQL from the same parquet."""
    from osm_wayback_spark import pipeline
    from osm_wayback_spark.operators.tiles import assign_tiles
    from osm_wayback_spark.synth import sf_from_dir

    sf = sf_from_dir(sf_dir)
    path = f"{_ORACLE_DIR}/recon_tiles_in_sf{sf}_{_code_fp()}.parquet"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        recon = pipeline.reconstruction_pipeline(_pages(spark, sf_dir))
        (
            recon.filter(F.col("geometry").isNotNull())
            .select(
                "element_type",
                "id",
                F.col("version").cast("long").alias("version"),
                F.col("minor_version").cast("long").alias("minor_version"),
                "geometry",
            )
            .write.mode("overwrite")
            .parquet(path)
        )
    _point(f"{_ORACLE_DIR}/recon_tiles_in.parquet", path)
    feats = spark.read.parquet(path)
    tiles = assign_tiles(
        feats,
        z=15,
        payload_cols=("element_type", "id", "version", "minor_version"),
    )
    return tiles.select(
        F.col("z").cast("long").alias("z"),
        "x",
        "y",
        "element_type",
        "id",
        "version",
        "minor_version",
    )


def q_pages_topojson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/D3 — WRITE_TOPOJSON_HISTORY over the full pipeline: one row
    per feature carrying the TopoJSON-encoded history. Oracle: the
    per-feature version count must equal the driver-side oracle's
    per-feature row count (the topology objects are exactly the
    WRITE_EVERY_GEOMETRY features, keyed "0"..n-1)."""
    from osm_wayback_spark import pipeline
    from osm_wayback_spark.operators.reconstruction import reconstruct_objects

    _write_reconstruct_expected(sf_dir)
    geom = pipeline.geometry_pipeline(_pages(spark, sf_dir))
    out = reconstruct_objects(geom, mode="topojson")
    return out.select(
        "element_type", "id", F.col("n_versions").cast("long").alias("n_versions")
    )


# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full history-join + reconstruction over synthetic
    pages at sf0.001."""
    from osm_wayback_spark import pipeline

    pages = _pages(spark, "/root/testdata/sf0.001")
    return pipeline.reconstruction_pipeline(pages)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER IS THE DRIVER'S GATE WINDOW (r6 verdict item 1): the
    # correctness artifact records the FIRST 50 entries, so the 5
    # pages_* reference-parity rows (last driver-green in r4) and
    # pricing_summary/top_customers (rotated out in r6) come FIRST,
    # and the longest-stable rows (green since rounds 1-3:
    # snapshot_latest, history_assembly, tag_diff, tile_assign,
    # cell_stats, pip, dedup_exact) rotate to the tail. Every query
    # and its oracle SQL is unchanged — only the dict order moved.
    return {
        "pages_history": q_pages_history,
        "pages_locations": q_pages_locations,
        "pages_reconstruct": q_pages_reconstruct,
        "pages_tiles": q_pages_tiles,
        "pages_topojson": q_pages_topojson,
        "pricing_summary": q_pricing_summary,
        "top_customers": q_top_customers,
        "knn": q_knn,
        "cosine_topk": q_cosine_topk,
        "minhash_signatures": q_minhash_signatures,
        "lsh_pairs": q_lsh_pairs,
        "jaccard_pairs": q_jaccard_pairs,
        "simhash": q_simhash,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "ann_ivf_pq": q_ann_ivf_pq,
        "ann_ivfpq_indexed": q_ann_ivfpq_indexed,
        "ann_ivf_indexed": q_ann_ivf_indexed,
        "zonal_stats": q_zonal_stats,
        "rasterize": q_rasterize,
        "asof_join": q_asof_join,
        "relation_assembly": q_relation_assembly,
        "streaming_window": q_streaming_window,
        "streaming_sessionize": q_streaming_sessionize,
        "streaming_near_dup": q_streaming_near_dup,
        "streaming_dedup": q_streaming_dedup,
        "knn_exact": q_knn_exact,
        "knn_cells": q_knn_cells,
        "text_stats": q_text_stats,
        "dedup_clusters": q_dedup_clusters,
        "dedupe_corpus": q_dedupe_corpus,
        "corpus_filter": q_corpus_filter,
        "token_stats_bpe": q_token_stats_bpe,
        "bpe_encode": q_bpe_encode,
        "quality_classifier": q_quality_classifier,
        "lm_perplexity": q_lm_perplexity,
        "ppl_buckets": q_ppl_buckets,
        "mix_rebalance": q_mix_rebalance,
        "dedupe_increment": q_dedupe_increment,
        "winnow_pairs": q_winnow_pairs,
        "repetition_stats": q_repetition_stats,
        "url_stats": q_url_stats,
        "corpus_sample": q_corpus_sample,
        "token_packing": q_token_packing,
        "pii_scrub": q_pii_scrub,
        "canonical_url": q_canonical_url,
        "line_dedup": q_line_dedup,
        "example_windows": q_example_windows,
        "contamination": q_contamination,
        "embedding_near_dup": q_embedding_near_dup,
        # tail: longest-stable rows (see the ordering note above)
        "snapshot_latest": q_snapshot_latest,
        "history_assembly": q_history_assembly,
        "tag_diff": q_tag_diff,
        "tile_assign": q_tile_assign,
        "cell_stats": q_cell_stats,
        "pip": q_pip,
        "dedup_exact": q_dedup_exact,
    }


def _pages_oracle_sql() -> dict[str, str]:
    """SQL for the pages-pipeline queries, over the parquet the Spark
    side materializes under .cache/oracle (see the q_pages_*
    docstrings)."""
    v_parquet = f"read_parquet('{_ORACLE_DIR}/versions.parquet/*.parquet')"
    key = "split_part({}, chr(9), 1)"
    keys_of = "list_transform({}, _s -> split_part(_s, chr(9), 1))"
    features_cte = """
      f AS (
        SELECT element_type, id, version FROM (
          SELECT element_type, id, version, has_geom,
                 row_number() OVER (
                   PARTITION BY element_type, id ORDER BY version DESC) AS rn
          FROM v)
        WHERE rn = 1 AND has_geom
      )
    """
    # z15 tile math (ln-form, identical to functions/tiles.py)
    tx = (
        "CAST(greatest(0, least(32767, "
        "floor(({lon} + 180.0) / 360.0 * 32768.0))) AS BIGINT)"
    )
    ty = (
        "CAST(greatest(0, least(32767, floor((1.0 - "
        "ln(tan(radians(greatest(-85.05112878, least(85.05112878, {lat})))) "
        "+ 1.0 / cos(radians(greatest(-85.05112878, least(85.05112878, {lat}))))"
        ") / pi()) / 2.0 * 32768.0))) AS BIGINT)"
    )
    coord_re = (
        r"(-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?),"
        r"(-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)"
    )
    return {
        "pages_history": f"""
            WITH v AS (SELECT * FROM {v_parquet}),
            {features_cte},
            h AS (
              SELECT v.element_type, v.id, f.version AS f_version,
                     v.version, v.ts, v.tags_kv,
                     lag(v.tags_kv) OVER (
                       PARTITION BY v.element_type, v.id
                       ORDER BY v.version) AS prev
              FROM v JOIN f ON v.element_type = f.element_type
                           AND v.id = f.id AND v.version <= f.version
            ),
            recs AS (
              SELECT element_type, id, f_version, version, ts,
                CASE WHEN prev IS NULL THEN len(tags_kv)
                     ELSE len(list_filter(tags_kv, c -> NOT list_contains(
                          {keys_of.format('prev')}, {key.format('c')}))) END AS aa,
                CASE WHEN prev IS NULL THEN 0
                     ELSE len(list_filter(tags_kv, c -> len(list_filter(prev,
                          p -> {key.format('p')} = {key.format('c')}
                               AND p != c)) > 0)) END AS am,
                CASE WHEN prev IS NULL THEN 0
                     ELSE len(list_filter(prev, p -> NOT list_contains(
                          {keys_of.format('tags_kv')}, {key.format('p')}))) END AS ad
              FROM h
            )
            SELECT element_type, id, CAST(f_version AS BIGINT) AS version,
                   count(*) AS n_history,
                   CAST(sum(version) AS BIGINT) AS sum_v,
                   CAST(sum(ts) AS BIGINT) AS sum_ts,
                   CAST(sum(aa) AS BIGINT) AS n_aa,
                   CAST(sum(am) AS BIGINT) AS n_am,
                   CAST(sum(ad) AS BIGINT) AS n_ad
            FROM recs GROUP BY element_type, id, f_version
        """,
        "pages_locations": f"""
            WITH v AS (SELECT * FROM {v_parquet}),
            {features_cte},
            h AS (
              SELECT v.element_type, v.id, v.node_refs
              FROM v JOIN f ON v.element_type = f.element_type
                           AND v.id = f.id AND v.version <= f.version
            ),
            refs AS (
              SELECT DISTINCT element_type, id, unnest(node_refs) AS node_id
              FROM h WHERE node_refs IS NOT NULL
            ),
            nl AS (
              SELECT node_id, changeset FROM (
                SELECT id AS node_id, changeset,
                       row_number() OVER (
                         PARTITION BY id, changeset ORDER BY version DESC) AS rn
                FROM v WHERE element_type = 'node')
              WHERE rn = 1
            ),
            resolved AS (
              SELECT r.element_type, r.id, r.node_id, count(*) AS n_cs
              FROM refs r JOIN nl ON r.node_id = nl.node_id
              GROUP BY 1, 2, 3
            )
            SELECT f.element_type, f.id,
                   CAST(count(res.node_id) AS BIGINT) AS n_nodes,
                   CAST(coalesce(sum(res.n_cs), 0) AS BIGINT) AS n_entries
            FROM f LEFT JOIN resolved res
              ON f.element_type = res.element_type AND f.id = res.id
            GROUP BY f.element_type, f.id
        """,
        "pages_topojson": f"""
            SELECT element_type, id, count(*) AS n_versions
            FROM read_parquet('{_ORACLE_DIR}/pages_reconstruct_expected.parquet')
            GROUP BY element_type, id
        """,
        "pages_reconstruct": f"""
            SELECT element_type, id, version, minor_version,
                   valid_since, valid_until, geometry
            FROM read_parquet('{_ORACLE_DIR}/pages_reconstruct_expected.parquet')
        """,
        "pages_tiles": f"""
            WITH r AS (
              SELECT element_type, id, version, minor_version,
                     regexp_extract_all(geometry, '{coord_re}', 0) AS pts
              FROM read_parquet('{_ORACLE_DIR}/recon_tiles_in.parquet/*.parquet')
            ),
            pv AS (
              SELECT element_type, id, version, minor_version,
                     list_transform(pts, s -> CAST(split_part(s, ',', 1) AS DOUBLE)) AS lons,
                     list_transform(pts, s -> CAST(split_part(s, ',', 2) AS DOUBLE)) AS lats
              FROM r WHERE len(pts) > 0
            ),
            g AS (
              SELECT element_type, id, version, minor_version,
                list_distinct(list_transform(generate_series(1, len(lons)),
                  i -> {tx.format(lon='lons[i]')} * 65536
                     + {ty.format(lat='lats[i]')})) AS vt,
                {tx.format(lon='list_min(lons)')} AS x0,
                {tx.format(lon='list_max(lons)')} AS x1,
                {ty.format(lat='list_max(lats)')} AS y0,
                {ty.format(lat='list_min(lats)')} AS y1
              FROM pv
            ),
            g2 AS (
              SELECT element_type, id, version, minor_version,
                CASE WHEN (x1 - x0 + 1) * (y1 - y0 + 1) <= 256
                     THEN list_distinct(list_concat(vt,
                       flatten(list_transform(generate_series(x0, x1),
                         xx -> list_transform(generate_series(y0, y1),
                           yy -> xx * 65536 + yy)))))
                     ELSE vt END AS tiles
              FROM g
            )
            SELECT CAST(15 AS BIGINT) AS z, t // 65536 AS x, t % 65536 AS y,
                   element_type, id, version, minor_version
            FROM (SELECT element_type, id, version, minor_version,
                         unnest(tiles) AS t FROM g2)
        """,
    }


def oracle_sql() -> dict[str, str]:
    tile_xy = """
      CAST(greatest(0, least(32767, floor((lon + 180.0) / 360.0 * 32768.0))) AS BIGINT) AS x,
      CAST(greatest(0, least(32767, floor(
        (1.0 - ln(tan(radians(greatest(-85.05112878, least(85.05112878, lat))))
               + 1.0 / cos(radians(greatest(-85.05112878, least(85.05112878, lat))))) / pi()
        ) / 2.0 * 32768.0))) AS BIGINT) AS y
    """
    cell7 = """
      7 * 288230376151711744
      + CAST(greatest(0, least(127, floor((lon + 180.0) / 360.0 * 128.0))) AS BIGINT) * 536870912
      + CAST(greatest(0, least(127, floor(
          (1.0 - ln(tan(radians(greatest(-85.05112878, least(85.05112878, lat))))
                 + 1.0 / cos(radians(greatest(-85.05112878, least(85.05112878, lat))))) / pi()
          ) / 2.0 * 128.0))) AS BIGINT)
    """
    shingles3 = """
      list_distinct(CASE WHEN len(words) >= 3
        THEN list_transform(generate_series(1, len(words) - 2),
                            i -> array_to_string(words[i:i+2], ' '))
        ELSE [array_to_string(words, ' ')] END)
    """
    sql = {
        "snapshot_latest": """
            SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
                   round(value, 6) AS value
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "history_assembly": """
            SELECT user_id,
                   count(*) AS n_versions,
                   epoch_us(min(ts)) AS first_ts_us,
                   epoch_us(max(ts)) AS last_ts_us,
                   string_agg(event_type, ',' ORDER BY ts, event_id) AS types_csv
            FROM events GROUP BY user_id
        """,
        "tag_diff": f"""
            WITH tagged AS ({_EVENT_TAGS_SQL}),
            lagged AS (
              SELECT user_id, version, tags,
                     lag(tags) OVER (PARTITION BY user_id ORDER BY version) AS prev
              FROM tagged
            )
            SELECT user_id, version,
              coalesce(array_to_string(list_sort(CASE WHEN prev IS NULL THEN tags ELSE
                list_filter(tags, c -> NOT len(list_filter(prev,
                  p -> split_part(p, '=', 1) = split_part(c, '=', 1))) > 0)
              END), ','), '') AS added_csv,
              coalesce(array_to_string(list_sort(CASE WHEN prev IS NULL THEN [] ELSE
                list_transform(
                  list_filter(tags, c -> len(list_filter(prev,
                    p -> split_part(p, '=', 1) = split_part(c, '=', 1) AND p != c)) > 0),
                  c -> split_part(c, '=', 1))
              END), ','), '') AS modified_keys_csv,
              coalesce(array_to_string(list_sort(CASE WHEN prev IS NULL THEN [] ELSE
                list_filter(prev, p -> NOT len(list_filter(tags,
                  c -> split_part(c, '=', 1) = split_part(p, '=', 1))) > 0)
              END), ','), '') AS deleted_csv
            FROM lagged
        """,
        "tile_assign": f"""
            SELECT point_id, CAST(15 AS INTEGER) AS z, {tile_xy}
            FROM ({_EVENT_POINTS_SQL})
        """,
        "cell_stats": f"""
            SELECT ({cell7}) AS cell, count(*) AS n
            FROM ({_EVENT_POINTS_SQL})
            GROUP BY 1
        """,
        "pip": """
            SELECT p.point_id, n.n_nationkey AS polygon_id
            FROM (SELECT event_id AS point_id,
                         (event_id * 7919 % 360000) / 1000.0 - 180.0 AS lon,
                         (event_id * 104729 % 170000) / 1000.0 - 85.0 AS lat
                  FROM events) p
            JOIN nation n
              ON p.lon > (n.n_nationkey * 14) % 340 - 170 + 0.25
             AND p.lon < (n.n_nationkey * 14) % 340 - 170 + 0.25 + 12.5
             AND p.lat > (n.n_nationkey * 6) % 150 - 75 + 0.25
             AND p.lat < (n.n_nationkey * 6) % 150 - 75 + 0.25 + 5.5
        """,
        "knn": f"""
            WITH pts AS ({_EVENT_POINTS_SQL}),
            q AS (SELECT r_regionkey AS query_id,
                         r_regionkey * 31.0 - 60.0 AS q_lon,
                         r_regionkey * 17.0 - 40.0 AS q_lat
                  FROM region),
            d AS (
              SELECT q.query_id, pts.point_id,
                     (pts.lon - q.q_lon) * (pts.lon - q.q_lon)
                   + (pts.lat - q.q_lat) * (pts.lat - q.q_lat) AS dist2_raw
              FROM pts CROSS JOIN q
            )
            SELECT query_id, point_id, round(dist2_raw, 6) AS dist2,
                   CAST(rank AS BIGINT) AS rank
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY dist2_raw, point_id) AS rank
              FROM d
            ) WHERE rank <= 5
        """,
"knn_exact": _KNN_SQL,
        "knn_cells": _KNN_SQL,
                "cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS a FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, e.vec_id,
                     round(
                       list_dot_product(q.a::DOUBLE[], e.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(q.a::DOUBLE[], q.a::DOUBLE[]))
                          * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))),
                     6) AS cosine
              FROM embeddings e CROSS JOIN q
              WHERE e.vec_id != q.query_id
            )
            SELECT query_id, vec_id, cosine, CAST(rank AS BIGINT) AS rank
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "ann_lsh": f"""
            WITH cand AS (
              SELECT query_id, vec_id
              FROM read_parquet('{_ORACLE_DIR}/ann_lsh_cands.parquet/*.parquet')
            ),
            scored AS (
              SELECT c.query_id, c.vec_id,
                     round(
                       list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))),
                     6) AS cosine
              FROM cand c
              JOIN embeddings q ON q.vec_id = c.query_id
              JOIN embeddings e ON e.vec_id = c.vec_id
            )
            SELECT query_id, vec_id, cosine, CAST(rank AS BIGINT) AS rank
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "ann_ivf": f"""
            WITH cand AS (
              SELECT query_id, vec_id
              FROM read_parquet('{_ORACLE_DIR}/ann_ivf_cands.parquet/*.parquet')
            ),
            scored AS (
              SELECT c.query_id, c.vec_id,
                     round(
                       list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))),
                     6) AS cosine
              FROM cand c
              JOIN embeddings q ON q.vec_id = c.query_id
              JOIN embeddings e ON e.vec_id = c.vec_id
            )
            SELECT query_id, vec_id, cosine, CAST(rank AS BIGINT) AS rank
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "ann_ivfpq_indexed": f"""
            WITH cand AS (
              SELECT query_id, vec_id
              FROM read_parquet('{_ORACLE_DIR}/ann_ivfpq_indexed_cands.parquet/*.parquet')
            ),
            scored AS (
              SELECT c.query_id, c.vec_id,
                     round(
                       list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))),
                     6) AS cosine
              FROM cand c
              JOIN embeddings q ON q.vec_id = c.query_id
              JOIN embeddings e ON e.vec_id = c.vec_id
            )
            SELECT query_id, vec_id, cosine, CAST(rank AS BIGINT) AS rank
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "ann_ivf_pq": f"""
            WITH cand AS (
              SELECT query_id, vec_id
              FROM read_parquet('{_ORACLE_DIR}/ann_ivf_pq_cands.parquet/*.parquet')
            ),
            scored AS (
              SELECT c.query_id, c.vec_id,
                     round(
                       list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))),
                     6) AS cosine
              FROM cand c
              JOIN embeddings q ON q.vec_id = c.query_id
              JOIN embeddings e ON e.vec_id = c.vec_id
            )
            SELECT query_id, vec_id, cosine, CAST(rank AS BIGINT) AS rank
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "ann_ivf_indexed": f"""
            WITH cand AS (
              SELECT query_id, vec_id
              FROM read_parquet('{_ORACLE_DIR}/ann_ivf_indexed_cands.parquet/*.parquet')
            ),
            scored AS (
              SELECT c.query_id, c.vec_id,
                     round(
                       list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))),
                     6) AS cosine
              FROM cand c
              JOIN embeddings q ON q.vec_id = c.query_id
              JOIN embeddings e ON e.vec_id = c.vec_id
            )
            SELECT query_id, vec_id, cosine, CAST(rank AS BIGINT) AS rank
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "zonal_stats": f"""
            WITH pts AS ({_EVENT_POINTS_SQL}),
            raster AS (
              SELECT ({cell7}) AS cell, count(*) AS v FROM pts GROUP BY 1
            ),
            centers AS (
              -- cell center by inverting the quadtree packing; DuckDB
              -- has no sinh, so sinh(t) = (exp(t) - exp(-t)) / 2
              SELECT cell, v,
                     (((cell % 288230376151711744) // 536870912) + 0.5)
                       / 128.0 * 360.0 - 180.0 AS clon,
                     degrees(atan((exp(pi()
                       * (1.0 - 2.0 * ((cell % 536870912) + 0.5) / 128.0))
                       - exp(-pi()
                       * (1.0 - 2.0 * ((cell % 536870912) + 0.5) / 128.0))) / 2.0)) AS clat
              FROM raster
            )
            SELECT n.n_nationkey AS polygon_id,
                   count(*) AS n_cells,
                   CAST(min(c.v) AS BIGINT) AS v_min,
                   CAST(max(c.v) AS BIGINT) AS v_max,
                   CAST(sum(c.v) AS BIGINT) AS v_sum,
                   round(avg(c.v), 6) AS v_avg
            FROM centers c
            JOIN nation n
              ON c.clon > (n.n_nationkey * 14) % 340 - 170 + 0.25
             AND c.clon < (n.n_nationkey * 14) % 340 - 170 + 0.25 + 12.5
             AND c.clat > (n.n_nationkey * 6) % 150 - 75 + 0.25
             AND c.clat < (n.n_nationkey * 6) % 150 - 75 + 0.25 + 5.5
            GROUP BY 1
        """,
        "streaming_window": """
            SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
                   event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "streaming_sessionize": """
            WITH o AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                             > 300000000
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            g AS (
              SELECT user_id, ts,
                     sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM o
            )
            SELECT epoch_us(min(ts)) AS session_start_us,
                   epoch_us(max(ts)) + 300000000 AS session_end_us,
                   user_id, count(*) AS n_events
            FROM g GROUP BY user_id, sid
        """,
        "relation_assembly": """
            WITH RECURSIVE rels AS (
              SELECT DISTINCT user_id % 37 AS rid FROM events
            ),
            vs AS (SELECT unnest([1, 2, 3]) AS v),
            ms AS (SELECT unnest([0, 1, 2, 3, 4, 5]) AS m),
            arcs AS (
              SELECT rid, v, m,
                     rid * 1000 + v * 100 + m AS way_id,
                     m // 3 AS k, m % 3 AS j
              FROM rels, vs, ms
            ),
            pts AS (
              SELECT rid, v, way_id, k, j,
                     unnest([j * 2, j * 2 + 1, (j * 2 + 2) % 6]) AS i
              FROM arcs
            ),
            coords AS (
              SELECT rid, v, way_id, i,
                     k * 100 + list_extract([0, 1, 2, 2, 1, 0], i + 1) AS x,
                     rid * 1000 + v * 10
                       + list_extract([0, 0, 1, 2, 3, 2], i + 1) AS y,
                     (i = j * 2 OR i = (j * 2 + 2) % 6) AS is_end
              FROM pts
            ),
            edges AS (
              SELECT a.rid, a.v, a.way_id AS wa, b.way_id AS wb
              FROM coords a JOIN coords b
                ON a.rid = b.rid AND a.v = b.v AND a.x = b.x AND a.y = b.y
               AND a.way_id <> b.way_id AND a.is_end AND b.is_end
            ),
            rr(rid, v, node, lab) AS (
              SELECT rid, v, way_id, way_id FROM arcs
              UNION
              SELECT e.rid, e.v, e.wa, rr.lab
              FROM edges e
              JOIN rr ON e.rid = rr.rid AND e.v = rr.v AND e.wb = rr.node
            ),
            comp AS (
              SELECT rid, v, node, min(lab) AS comp FROM rr GROUP BY 1, 2, 3
            ),
            ringsigs AS (
              SELECT c.rid, c.v, p.comp,
                     array_to_string(
                       list_sort(list_distinct(list(c.x || ',' || c.y))), ';'
                     ) AS sig
              FROM coords c
              JOIN comp p
                ON p.rid = c.rid AND p.v = c.v AND p.node = c.way_id
              GROUP BY 1, 2, 3
            )
            SELECT rid AS id, CAST(v AS INTEGER) AS version,
                   CAST(v AS BIGINT) AS ts,
                   CAST(count(*) AS BIGINT) AS n_rings,
                   array_to_string(list_sort(list(sig)), '|') AS rings_sig,
                   CAST(6 AS INTEGER) AS n_members,
                   CAST(6 AS INTEGER) AS n_resolved,
                   CAST(0 AS INTEGER) AS n_unclosed
            FROM ringsigs GROUP BY rid, v
        """,
        "streaming_near_dup": f"""
            WITH sh AS (
              SELECT doc_id, unnest({shingles3}) AS shingle
              FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
                    FROM documents)
            ),
            sigs AS (
              SELECT doc_id,
                {', '.join(f"min(md5('{i}:' || shingle)) AS sig_{i}" for i in range(8))}
              FROM sh GROUP BY doc_id
            ),
            bands AS (
              {' UNION ALL '.join(
                  f"SELECT doc_id, CAST({b} AS BIGINT) AS band,"
                  f" md5(sig_{2*b} || '|' || sig_{2*b+1}) AS bh FROM sigs"
                  for b in range(4))}
            )
            SELECT s.doc_id AS doc_id, c.doc_id AS corpus_doc_id, s.band AS band
            FROM bands s JOIN bands c ON s.band = c.band AND s.bh = c.bh
            WHERE s.doc_id % 2 = 1 AND c.doc_id % 2 = 0
        """,
        "streaming_dedup": """
            SELECT DISTINCT
              md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
            FROM documents
        """,
        "asof_join": """
            WITH wg AS (
              SELECT e.event_id % 97 AS way_id,
                     epoch_us(e.ts) AS valid_since,
                     lead(epoch_us(e.ts)) OVER (
                       PARTITION BY e.event_id % 97
                       ORDER BY e.ts, e.event_id) AS valid_until,
                     CAST(e.event_id AS VARCHAR) AS coords_json
              FROM events e WHERE e.event_id % 7 = 0
            ),
            mem AS (
              SELECT e.user_id AS id,
                     CAST(row_number() OVER (
                       PARTITION BY e.user_id
                       ORDER BY e.ts, e.event_id) AS BIGINT) AS version,
                     epoch_us(e.ts) AS ts,
                     CAST(0 AS INTEGER) AS member_idx,
                     e.event_id % 97 AS member_ref,
                     CASE WHEN e.event_id % 2 = 0 THEN 'outer'
                          ELSE 'inner' END AS member_role
              FROM events e WHERE e.event_id % 7 = 1
            )
            SELECT id, version, ts, member_idx, member_ref, member_role,
                   coords_json
            FROM (
              SELECT m.*, w.valid_since, w.coords_json,
                     row_number() OVER (
                       PARTITION BY m.id, m.version, m.member_idx
                       ORDER BY w.valid_since DESC NULLS LAST,
                                w.coords_json DESC NULLS LAST) AS rn
              FROM mem m
              LEFT JOIN wg w
                ON m.member_ref = w.way_id
               AND w.valid_since <= m.ts
               AND (w.valid_until IS NULL OR m.ts < w.valid_until)
            ) WHERE rn = 1
        """,
        "rasterize": """
            WITH b AS (
              SELECT n_nationkey AS polygon_id,
                     (n_nationkey * 14) % 340 - 170 + 0.25 AS lon0,
                     (n_nationkey * 6) % 150 - 75 + 0.25 AS lat0,
                     (n_nationkey * 14) % 340 - 170 + 0.25 + 12.5 AS lon1,
                     (n_nationkey * 6) % 150 - 75 + 0.25 + 5.5 AS lat1
              FROM nation
            ),
            rng AS (
              SELECT polygon_id, lon0, lat0, lon1, lat1,
                     CAST(greatest(0, least(127,
                       floor((lon0 + 180.0) / 360.0 * 128.0))) AS BIGINT) AS x0,
                     CAST(greatest(0, least(127,
                       floor((lon1 + 180.0) / 360.0 * 128.0))) AS BIGINT) AS x1,
                     -- y grows southward: max lat (lat1) -> min y
                     CAST(greatest(0, least(127, floor((1.0
                       - ln(tan(radians(lat1)) + 1.0 / cos(radians(lat1))) / pi()
                       ) / 2.0 * 128.0))) AS BIGINT) AS y0,
                     CAST(greatest(0, least(127, floor((1.0
                       - ln(tan(radians(lat0)) + 1.0 / cos(radians(lat0))) / pi()
                       ) / 2.0 * 128.0))) AS BIGINT) AS y1
              FROM b
            ),
            -- one unnest per SELECT level: cross product of x and y
            cx AS (
              SELECT polygon_id, lon0, lat0, lon1, lat1, y0, y1,
                     unnest(generate_series(x0, x1)) AS x
              FROM rng
            ),
            cand AS (
              SELECT polygon_id, lon0, lat0, lon1, lat1, x,
                     unnest(generate_series(y0, y1)) AS y
              FROM cx
            )
            SELECT polygon_id,
                   CAST(7 * 288230376151711744 + x * 536870912 + y
                        AS BIGINT) AS cell
            FROM cand
            WHERE ((x + 0.5) / 128.0 * 360.0 - 180.0) > lon0
              AND ((x + 0.5) / 128.0 * 360.0 - 180.0) < lon1
              AND degrees(atan((exp(pi() * (1.0 - 2.0 * (y + 0.5) / 128.0))
                    - exp(-pi() * (1.0 - 2.0 * (y + 0.5) / 128.0))) / 2.0)) > lat0
              AND degrees(atan((exp(pi() * (1.0 - 2.0 * (y + 0.5) / 128.0))
                    - exp(-pi() * (1.0 - 2.0 * (y + 0.5) / 128.0))) / 2.0)) < lat1
        """,
        "dedup_exact": """
            SELECT doc_id,
                   min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id,
                   doc_id != min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
            FROM documents
        """,
        "minhash_signatures": f"""
            WITH sh AS (
              SELECT doc_id, unnest({shingles3}) AS shingle
              FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
                    FROM documents)
            )
            SELECT doc_id,
                   min(md5('0:' || shingle)) AS sig_0,
                   min(md5('1:' || shingle)) AS sig_1,
                   min(md5('2:' || shingle)) AS sig_2,
                   min(md5('3:' || shingle)) AS sig_3
            FROM sh GROUP BY doc_id
        """,
        "repetition_stats": r"""
            SELECT doc_id, top_word_ratio, dup_2gram_ratio, dup_3gram_ratio,
                   (top_word_ratio <= 0.2 AND dup_2gram_ratio <= 0.6
                    AND dup_3gram_ratio <= 0.5) AS passes_repetition
            FROM (
              SELECT doc_id,
                CASE WHEN len(w1) = 0 THEN 0.0
                     ELSE round(list_max(list_transform(list_distinct(w1),
                            x -> len(list_filter(w1, y -> y = x)))) / len(w1), 6)
                END AS top_word_ratio,
                CASE WHEN len(g2) = 0 THEN 0.0
                     ELSE round(1.0 - len(list_distinct(g2)) / len(g2), 6)
                END AS dup_2gram_ratio,
                CASE WHEN len(g3) = 0 THEN 0.0
                     ELSE round(1.0 - len(list_distinct(g3)) / len(g3), 6)
                END AS dup_3gram_ratio
              FROM (
                SELECT doc_id,
                  CASE WHEN len(t) = 0 THEN CAST([] AS VARCHAR[])
                       ELSE words END AS w1,
                  CASE WHEN len(words) >= 2
                       THEN list_transform(generate_series(1, len(words) - 1),
                              i -> array_to_string(words[i:i+1], ' '))
                       ELSE CAST([] AS VARCHAR[]) END AS g2,
                  CASE WHEN len(words) >= 3
                       THEN list_transform(generate_series(1, len(words) - 2),
                              i -> array_to_string(words[i:i+2], ' '))
                       ELSE CAST([] AS VARCHAR[]) END AS g3
                FROM (SELECT doc_id, trim(text) AS t,
                        regexp_split_to_array(trim(text), '\s+') AS words
                      FROM documents)
              )
            )
        """,
        "example_windows": r"""
            WITH t AS (
              SELECT doc_id, lang,
                     CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\s+'))
                     END AS BIGINT) AS n_tokens
              FROM documents
            ),
            o AS (
              SELECT lang AS stratum, doc_id, n_tokens,
                     CAST(sum(n_tokens) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS s,
                     CAST(sum(n_tokens) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
              FROM t WHERE n_tokens > 0
            ),
            seg AS (
              SELECT stratum, doc_id, s, e,
                     unnest(generate_series(s // 512, (e - 1) // 512))
                       AS example_id
              FROM o
            )
            SELECT stratum,
                   CAST(example_id AS BIGINT) AS example_id,
                   doc_id,
                   CAST(greatest(s, example_id * 512) - example_id * 512
                        AS BIGINT) AS ex_offset,
                   CAST(greatest(s, example_id * 512) - s
                        AS BIGINT) AS doc_offset,
                   CAST(least(e, (example_id + 1) * 512)
                        - greatest(s, example_id * 512)
                        AS BIGINT) AS seg_tokens
            FROM seg
        """,
        "line_dedup": r"""
            WITH fx AS (
              SELECT doc_id,
                     'BOILERPLATE: subscribe to our newsletter for updates today and share this page'
                     || chr(10) || text || chr(10) || 'id ' || doc_id AS t
              FROM documents
            ),
            lines AS (
              SELECT doc_id, s.idx AS idx, s.ln AS ln
              FROM (SELECT doc_id,
                           unnest(list_transform(
                             string_split(t, chr(10)),
                             (x, i) -> {'idx': i - 1, 'ln': x})) AS s
                    FROM fx)
            ),
            keyed AS (
              SELECT doc_id, idx, ln,
                     CASE WHEN length(ln) >= 30 THEN md5(ln)
                          ELSE 'keep:' || doc_id || ':' || idx END AS h
              FROM lines
            ),
            rn AS (
              SELECT doc_id, idx, ln,
                     row_number() OVER (
                       PARTITION BY h ORDER BY doc_id, idx
                     ) AS rn
              FROM keyed
            )
            SELECT doc_id,
                   md5(coalesce(
                     string_agg(ln, chr(10) ORDER BY idx)
                       FILTER (WHERE rn = 1),
                     '')) AS text_md5,
                   count(*) AS n_lines,
                   CAST(coalesce(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END), 0)
                        AS BIGINT) AS n_dropped
            FROM rn
            GROUP BY doc_id
        """,
        "canonical_url": r"""
            WITH messy AS (
              SELECT doc_id,
                (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://'
                      ELSE 'http://' END)
                || upper(substr(source, 1, 1)) || substr(source, 2)
                || '.Example.COM'
                || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
                || '/Docs/' || doc_id
                || '?utm_source=feed&id=' || doc_id
                || (CASE WHEN doc_id % 2 = 0 THEN '&ref=social'
                         ELSE '' END)
                || (CASE WHEN doc_id % 5 = 0 THEN '&href=h' || doc_id
                         ELSE '' END)
                || (CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END)
                  AS url
              FROM documents
            ),
            s1 AS (
              SELECT doc_id, regexp_replace(url, '#.*$', '') AS u
              FROM messy
            ),
            s2 AS (
              SELECT doc_id, u,
                     regexp_extract(u, '^[^/]+://[^/?#]*', 0) AS pre
              FROM s1
            ),
            s3 AS (
              SELECT doc_id, lower(pre) AS p,
                     substr(u, len(pre) + 1) AS rest
              FROM s2
            ),
            s4 AS (
              SELECT doc_id,
                CASE WHEN starts_with(p, 'http://') AND ends_with(p, ':80')
                     THEN substr(p, 1, len(p) - 3)
                     WHEN starts_with(p, 'https://') AND ends_with(p, ':443')
                     THEN substr(p, 1, len(p) - 4)
                     ELSE p END AS p,
                regexp_replace(
                  CASE WHEN instr(rest, '?') = 0 THEN rest
                       ELSE substr(rest, 1, instr(rest, '?') - 1)
                            || '?'
                            || array_to_string(
                                 list_filter(
                                   string_split(
                                     substr(rest, instr(rest, '?') + 1),
                                     '&'),
                                   x -> NOT regexp_matches(
                                     x,
                                     '^(?:utm_[^=&#]*|ref|fbclid|gclid)=')),
                                 '&')
                  END,
                  '[?&]+$', '') AS r
              FROM s3
            )
            SELECT doc_id, p || r AS canon FROM s4
        """,
        "pii_scrub": r"""
            WITH planted AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id
                          || '@mail.example.com or 555-01' || (doc_id % 10)
                          || '.1234 at 10.0.' || (doc_id % 256) || '.7'
                       AS text
              FROM documents
            )
            SELECT doc_id,
              CAST(len(regexp_extract_all(text,
                '[\w.+-]+@[\w-]+\.[\w.-]+', 0)) AS BIGINT) AS n_emails,
              CAST(len(regexp_extract_all(text,
                '\b\d{3}[-.]\d{3}[-.]\d{4}\b', 0)) AS BIGINT) AS n_phones,
              CAST(len(regexp_extract_all(text,
                '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', 0)) AS BIGINT)
                AS n_ips,
              md5(regexp_replace(regexp_replace(regexp_replace(text,
                    '[\w.+-]+@[\w-]+\.[\w.-]+', '<EMAIL>', 'g'),
                    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
                    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'))
                AS clean_fp
            FROM planted
        """,
        "contamination": f"""
            WITH sh AS (
              SELECT doc_id, unnest({{shingles5}}) AS g
              FROM (SELECT doc_id,
                      regexp_split_to_array(trim(text), '\\s+') AS words
                    FROM documents)
            )
            SELECT t.doc_id,
                   CAST(count(DISTINCT t.g) AS BIGINT) AS n_hits,
                   CAST(count(DISTINCT e.doc_id) AS BIGINT) AS n_eval_docs
            FROM sh t JOIN sh e ON t.g = e.g
            WHERE t.doc_id % 97 <> 0 AND e.doc_id % 97 = 0
            GROUP BY t.doc_id
        """.replace("{shingles5}", """
            list_distinct(CASE WHEN len(words) >= 4
              THEN list_transform(generate_series(1, len(words) - 3),
                                  i -> array_to_string(words[i:i+3], ' '))
              ELSE [array_to_string(words, ' ')] END)
        """),
        "corpus_sample": r"""
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                    % 100
                  < CASE lang WHEN 'en' THEN 40 WHEN 'zh' THEN 70 ELSE 90 END
        """,
        "token_packing": r"""
            WITH t AS (
              SELECT doc_id, lang,
                     CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\s+'))
                     END AS BIGINT) AS n_tokens
              FROM documents
            ),
            p AS (
              SELECT lang, n_tokens,
                     (sum(n_tokens) OVER (
                        PARTITION BY lang ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens) // 512
                       AS chunk_id
              FROM t
            )
            SELECT lang, CAST(chunk_id AS BIGINT) AS chunk_id,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS chunk_tokens
            FROM p GROUP BY 1, 2
        """,
        "url_stats": r"""
            WITH u AS (
              SELECT lang, n_chars,
                     'https://' || source || '.example.com/docs/' || doc_id
                       || '?ref=crawl' AS url
              FROM documents
            )
            SELECT regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
            FROM u GROUP BY 1
        """,
        "token_stats_bpe": r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '(\w+|[^\w\s])', 0)) AS BIGINT)
                     AS n_bpe_tokens
            FROM documents
        """,
        "winnow_pairs": r"""
            WITH norm AS (
              SELECT doc_id,
                     lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
              FROM documents
            ),
            h AS (
              SELECT doc_id,
                list_transform(generate_series(1, len(t) - 24 + 1),
                               i -> md5(substr(t, i, 24))) AS hs
              FROM norm WHERE len(t) >= 24 + 12 - 1
            ),
            fp AS (
              SELECT DISTINCT doc_id,
                unnest(list_transform(generate_series(1, len(hs) - 12 + 1),
                                      j -> list_min(hs[j:j+11]))) AS fp
              FROM h
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM fp a JOIN fp b
              ON a.fp = b.fp AND a.doc_id < b.doc_id
        """,
        "mix_rebalance": r"""
            WITH cnt AS (
              SELECT lang, count(*) AS n FROM documents GROUP BY lang
            ),
            tgt(lang, p) AS (
              VALUES ('en', CAST(0.4 AS DOUBLE)),
                     ('es', CAST(0.3 AS DOUBLE)),
                     ('de', CAST(0.3 AS DOUBLE))
            ),
            j AS (
              SELECT c.lang, c.n, t.p FROM cnt c JOIN tgt t USING (lang)
            ),
            lim AS (SELECT min(n / p) AS t FROM j),
            rates AS (
              SELECT lang,
                     CAST(floor(100.0 * (SELECT t FROM lim) * p / n)
                          AS INTEGER) AS keep_pct
              FROM j
            )
            SELECT d.doc_id, d.lang
            FROM documents d JOIN rates r USING (lang)
            WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % 100 < r.keep_pct
        """,
        "lm_perplexity": r"""
            WITH norm AS (
              SELECT doc_id,
                     lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
              FROM documents
            ),
            pos AS (
              SELECT doc_id, t,
                     unnest(generate_series(1, len(t) - 2)) AS i
              FROM norm
            ),
            grams AS (
              SELECT doc_id, substr(t, i, 2) AS prefix,
                     substr(t, i + 2, 1) AS nxt
              FROM pos
            ),
            model AS (
              SELECT prefix, nxt, count(*) AS c_pair
              FROM grams WHERE doc_id % 10 = 0
              GROUP BY 1, 2
            ),
            totals AS (
              SELECT prefix, sum(c_pair) AS c_prefix FROM model GROUP BY 1
            ),
            scored AS (
              SELECT g.doc_id,
                     ln((coalesce(m.c_pair, 0) + 1.0)
                        / (coalesce(tt.c_prefix, 0)
                           + 1.0 * (SELECT count(DISTINCT nxt) FROM model)))
                       AS logp
              FROM grams g
              LEFT JOIN model m ON g.prefix = m.prefix AND g.nxt = m.nxt
              LEFT JOIN totals tt ON g.prefix = tt.prefix
            )
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                   round(exp(-avg(logp)), 6) AS ppl
            FROM scored GROUP BY doc_id
        """,
        "quality_classifier": f"""
            WITH f AS (
              SELECT doc_id,
                least(len(text) / 500.0, 1.0) AS f_len,
                len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                    w -> list_contains(['the','a','of','and','to','is'],
                                       lower(w))))
                  / CAST(greatest(CASE WHEN len(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                      END, 1) AS DOUBLE) AS f_stop,
                len(regexp_replace(text, '[^\\.\\,\\;\\:\\!\\?]', '', 'g'))
                  / CAST(greatest(len(text), 1) AS DOUBLE) AS f_punct,
                len(regexp_replace(text, '\\s', '', 'g'))
                  / CAST(greatest(CASE WHEN len(trim(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                      END, 1) AS DOUBLE) AS f_wlen,
                len(regexp_replace(text, '[^0-9]', '', 'g'))
                  / CAST(greatest(len(text), 1) AS DOUBLE) AS f_digit
              FROM documents
            ),
            z AS (
              SELECT doc_id,
                {QUALITY_LR_WEIGHTS[0]!r}
                + {QUALITY_LR_WEIGHTS[1]!r} * f_len
                + {QUALITY_LR_WEIGHTS[2]!r} * f_stop
                + {QUALITY_LR_WEIGHTS[3]!r} * f_punct
                + {QUALITY_LR_WEIGHTS[4]!r} * f_wlen
                + {QUALITY_LR_WEIGHTS[5]!r} * f_digit AS z
              FROM f
            )
            SELECT doc_id,
                   round(1.0 / (1.0 + exp(-z)), 6) AS q_score,
                   (1.0 / (1.0 + exp(-z))) > 0.5 AS keep
            FROM z
        """,
        "bpe_encode": f"""
            WITH w AS (
              SELECT doc_id,
                list_filter(
                  string_split_regex(trim(replace(text, chr(31), '')),
                                     '\\s+'),
                  x -> x <> '') AS ws
              FROM documents
            ),
            enc AS (
              SELECT doc_id,
                flatten(list_transform(ws, w ->
                  string_split(
                    trim(
                      list_reduce(
                        list_prepend(
                          chr(31) || array_to_string(
                            string_split(w, ''), chr(31) || chr(31))
                          || chr(31),
                          {_BPE_MERGES_SQL}),
                        (acc, mm) -> replace(acc,
                          split_part(mm, chr(9), 1),
                          split_part(mm, chr(9), 2))),
                      chr(31)),
                    chr(31) || chr(31)))) AS toks
              FROM w
            )
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens_bpe,
                   md5(array_to_string(toks, ' ')) AS toks_fp
            FROM enc
        """,
        "embedding_near_dup": f"""
            WITH cand AS (
              SELECT vec_a, vec_b
              FROM read_parquet('{_ORACLE_DIR}/near_dup_cands.parquet/*.parquet')
            ),
            scored AS (
              SELECT c.vec_a, c.vec_b,
                     round(
                       list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                          * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
                     6) AS cosine
              FROM cand c
              JOIN embeddings a ON a.vec_id = c.vec_a
              JOIN embeddings b ON b.vec_id = c.vec_b
            )
            SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= 0.4
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_customers": """
            WITH rev AS (
              SELECT o_custkey, round(sum(o_totalprice), 4) AS revenue,
                     count(*) AS n_orders
              FROM orders GROUP BY o_custkey
            )
            SELECT custkey, name, revenue, n_orders, rank FROM (
              SELECT c.c_custkey AS custkey, c.c_name AS name,
                     rev.revenue, rev.n_orders,
                     CAST(row_number() OVER (
                       ORDER BY rev.revenue DESC, c.c_custkey) AS BIGINT) AS rank
              FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey
            ) WHERE rank <= 10
        """,
        "lsh_pairs": f"""
            WITH sh AS (
              SELECT doc_id, unnest({shingles3}) AS shingle
              FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
                    FROM documents)
            ),
            sigs AS (
              SELECT doc_id,
                {', '.join(f"min(md5('{i}:' || shingle)) AS sig_{i}" for i in range(8))}
              FROM sh GROUP BY doc_id
            ),
            bands AS (
              {' UNION ALL '.join(
                  f"SELECT doc_id, {b} AS band, md5(sig_{2*b} || '|' || sig_{2*b+1}) AS bh FROM sigs"
                  for b in range(4))}
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        """,
        "jaccard_pairs": f"""
            WITH sh AS (
              SELECT DISTINCT doc_id, unnest({shingles3}) AS shingle
              FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
                    FROM documents)
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   round(i / (sa.sz + sb.sz - i), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(i / (sa.sz + sb.sz - i), 6) >= 0.2
        """,
        "simhash": f"""
            WITH toks AS (
              SELECT doc_id, tok, count(*) AS cnt,
                     ('0x' || substr(md5(tok), 1, 12))::BIGINT AS h
              FROM (SELECT doc_id,
                           unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
                    FROM documents)
              GROUP BY doc_id, tok
            ),
            votes AS (
              SELECT doc_id,
                {', '.join(
                    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN cnt ELSE -cnt END) AS v{b}"
                    for b in range(48))}
              FROM toks GROUP BY doc_id
            )
            SELECT doc_id,
                   CAST({' + '.join(
                       f"(CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END)"
                       for b in range(48))} AS BIGINT) AS simhash
            FROM votes
        """,
        "text_stats": """
            SELECT doc_id,
                   CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,
                   md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
                   CASE
                     WHEN en_hits > 0 AND en_hits >= greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'en'
                     WHEN es_hits > 0 AND es_hits >= greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'es'
                     WHEN de_hits > 0 AND de_hits >= greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'de'
                     WHEN fr_hits > 0 AND fr_hits >= greatest(en_hits, es_hits, de_hits, fr_hits) THEN 'fr'
                     ELSE 'und'
                   END AS lang_pred,
                   round(
                     least(len(text) / 500.0, 1.0) * 0.5
                     + round(en_hits / greatest(CASE WHEN len(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END, 1), 6) * 0.3
                     + (1.0 - round(len(regexp_replace(text, '[^\\.\\,\\;\\:\\!\\?]', '', 'g'))
                          / greatest(len(text), 1), 6)) * 0.2,
                   6) AS quality
            FROM (
              SELECT *,
                len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                    w -> list_contains(['the','a','of','and','to','is'], lower(w)))) AS en_hits,
                len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                    w -> list_contains(['el','la','de','los','que','y'], lower(w)))) AS es_hits,
                len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                    w -> list_contains(['der','die','das','und','ist'], lower(w)))) AS de_hits,
                len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                    w -> list_contains(['le','la','les','et','est'], lower(w)))) AS fr_hits
              FROM documents
            )
        """,
        **_pages_oracle_sql(),
    }
    # derived oracles (reuse the bodies above verbatim)
    sql["corpus_filter"] = f"""
        SELECT doc_id, n_tokens, lang_pred, quality
        FROM ({sql['text_stats']})
        WHERE n_tokens >= 5 AND lang_pred = 'en' AND quality >= 0.3
    """
    sql["dedup_clusters"] = f"""
        WITH RECURSIVE sh AS (
          SELECT doc_id, unnest({shingles3}) AS shingle
          FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
                FROM documents)
        ),
        sigs AS (
          SELECT doc_id,
            {', '.join(f"min(md5('{i}:' || shingle)) AS sig_{i}" for i in range(8))}
          FROM sh GROUP BY doc_id
        ),
        bands AS (
          {' UNION ALL '.join(
              f"SELECT doc_id, {b} AS band, md5(sig_{2 * b} || '|' || sig_{2 * b + 1}) AS bh FROM sigs"
              for b in range(4))}
        ),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        ),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs
        ),
        r(node, lab) AS (
          SELECT a, a FROM edges
          UNION
          SELECT e.a, r.lab FROM edges e JOIN r ON e.b = r.node
        ),
        comp AS (SELECT node, min(lab) AS component FROM r GROUP BY node)
        SELECT d.doc_id,
               coalesce(c.component, d.doc_id) AS component,
               d.doc_id = coalesce(c.component, d.doc_id) AS is_canonical
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """
    # dedupe_corpus = exact window + (LSH candidates → exact-jaccard
    # verify at 0.3 → recursive CC → canonical), composed exactly as
    # operators/dedup.dedupe_corpus composes the primitives.
    sql["dedupe_corpus"] = f"""
        WITH RECURSIVE shd AS (
          SELECT DISTINCT doc_id, unnest({shingles3}) AS shingle
          FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
                FROM documents)
        ),
        sigs AS (
          SELECT doc_id,
            {', '.join(f"min(md5('{i}:' || shingle)) AS sig_{i}" for i in range(8))}
          FROM shd GROUP BY doc_id
        ),
        bands AS (
          {' UNION ALL '.join(
              f"SELECT doc_id, {b} AS band, md5(sig_{2 * b} || '|' || sig_{2 * b + 1}) AS bh FROM sigs"
              for b in range(4))}
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY doc_id),
        verified AS (
          SELECT c.doc_a, c.doc_b
          FROM cand c
          JOIN (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM shd a JOIN shd b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
          ) x ON x.doc_a = c.doc_a AND x.doc_b = c.doc_b
          JOIN sizes sa ON sa.doc_id = c.doc_a
          JOIN sizes sb ON sb.doc_id = c.doc_b
          WHERE round(x.i / (sa.sz + sb.sz - x.i), 6) >= 0.3
        ),
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM verified
          UNION SELECT doc_b, doc_a FROM verified
        ),
        r(node, lab) AS (
          SELECT a, a FROM edges
          UNION
          SELECT e.a, r.lab FROM edges e JOIN r ON e.b = r.node
        ),
        comp AS (SELECT node, min(lab) AS component FROM r GROUP BY node),
        ex AS (
          SELECT doc_id,
                 min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
          FROM documents
        )
        SELECT ex.doc_id,
               ex.keep_id,
               ex.doc_id != ex.keep_id AS is_exact_dup,
               coalesce(c.component, ex.doc_id) AS component,
               ex.doc_id = coalesce(c.component, ex.doc_id) AS is_canonical
        FROM ex LEFT JOIN comp c ON ex.doc_id = c.node
    """
    sql["ppl_buckets"] = f"""
        WITH base AS (
          SELECT doc_id, ppl FROM ({sql['lm_perplexity']})
        ),
        cut AS (
          SELECT quantile_cont(ppl, 1.0/3) AS t1,
                 quantile_cont(ppl, 2.0/3) AS t2
          FROM base
        )
        SELECT doc_id, ppl,
               CASE WHEN ppl <= t1 THEN 'head'
                    WHEN ppl <= t2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM base, cut
    """
    sql["dedupe_increment"] = f"""
        WITH shd AS (
          SELECT DISTINCT doc_id, unnest({shingles3}) AS shingle
          FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
                FROM documents)
        ),
        sigs AS (
          SELECT doc_id,
            {', '.join(f"min(md5('{i}:' || shingle)) AS sig_{i}" for i in range(8))}
          FROM shd GROUP BY doc_id
        ),
        bands AS (
          {' UNION ALL '.join(
              f"SELECT doc_id, {b} AS band, md5(sig_{2 * b} || '|' || sig_{2 * b + 1}) AS bh FROM sigs"
              for b in range(4))}
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
          WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
        ),
        sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY doc_id),
        near AS (
          SELECT DISTINCT c.doc_a AS doc_id
          FROM cand c
          JOIN (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM shd a JOIN shd b ON a.shingle = b.shingle
            WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
            GROUP BY 1, 2
          ) x ON x.doc_a = c.doc_a AND x.doc_b = c.doc_b
          JOIN sizes sa ON sa.doc_id = c.doc_a
          JOIN sizes sb ON sb.doc_id = c.doc_b
          WHERE round(x.i / (sa.sz + sb.sz - x.i), 6) >= 0.3
        ),
        exact AS (
          SELECT DISTINCT n.doc_id
          FROM documents n JOIN documents c2
            ON md5(n.text) = md5(c2.text)
          WHERE n.doc_id % 5 = 0 AND c2.doc_id % 5 <> 0
        )
        SELECT n.doc_id,
               (e.doc_id IS NOT NULL) AS exact_dup,
               (nr.doc_id IS NOT NULL) AS near_dup,
               (e.doc_id IS NULL AND nr.doc_id IS NULL) AS keep
        FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) n
        LEFT JOIN exact e ON e.doc_id = n.doc_id
        LEFT JOIN near nr ON nr.doc_id = n.doc_id
    """
    return sql
