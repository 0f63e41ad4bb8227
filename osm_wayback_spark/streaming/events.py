"""Structured Streaming layer.

The reference is batch-only (its "streams" are Unix pipes —
SURVEY.md §2 X1); the one stream-shaped thing it computes is the
session-like temporal clustering of changesets (the 60 s thresholds
in way-history-builder.js:3-7). This module provides the streaming
counterparts a continuously-crawled pages/events feed would need:

- ``windowed_event_counts``: watermarked tumbling-window aggregation
  (late data bounded by the watermark);
- ``sessionize``: ``session_window`` gap clustering — the streaming
  analog of the reference's changeset clustering;
- ``run_available_now``: drains everything currently in the source
  (Trigger.AvailableNow) into an in-memory table — batch-equivalent
  semantics, used by tests to golden-compare against the batch plan;
  a drain still running after ``DRAIN_TIMEOUT_S`` raises rather than
  leave a partial table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DRAIN_TIMEOUT_S = 120  # seconds run_available_now waits for a drain


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """Parquet file-stream source with the schema of the files already
    there. ``path`` must be a DIRECTORY (the file stream source lists a
    directory for arriving files; a bare single-file path is rejected
    by Spark's basePath check — stage single files into a directory
    first)."""
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """One-hour tumbling-window counts + sums per event_type with a
    10-minute watermark bounding late-data state."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sessionize(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Per-user session windows with a gap timeout and a 10-minute
    watermark — the streaming form of the reference's changeset
    temporal clustering (≤60 s gap merges minor changesets,
    way-history-builder.js:266-272)."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def run_available_now(
    stream_df: DataFrame, table_name: str, output_mode: str = "complete"
) -> None:
    """Drain the source with Trigger.AvailableNow into an in-memory
    table and block until done. ``complete`` for aggregations,
    ``append`` for row-level operators (dedup, maps). A drain still
    running after ``DRAIN_TIMEOUT_S`` is stopped and raises
    ``TimeoutError``: the table would hold a partial answer."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    done = q.awaitTermination(DRAIN_TIMEOUT_S)
    q.stop()
    if not done:
        raise TimeoutError(
            f"streaming drain into {table_name!r} did not finish in "
            f"{DRAIN_TIMEOUT_S} s; its memory table is partial"
        )


def streaming_near_dup_flags(
    documents: DataFrame,
    corpus_signatures: DataFrame,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Streaming near-dup screening of a document stream against a
    STATIC reference corpus — the shape a continuously-fed training
    pipeline needs ("is this crawl batch a near-copy of anything we
    already hold?").

    Works because round-4's minhash_signatures is per-row column
    math (no shuffle, no state): it applies to a streaming DataFrame
    unchanged. The banded buckets of the stream side then
    STREAM-STATIC equi-join against the corpus bucket table (no
    watermark needed — stream-static joins are stateless), yielding
    one row per (stream doc, corpus doc) candidate collision:
    (doc_id, corpus_doc_id, band). Downstream either flags doc_ids
    with any collision (groupBy) or exact-verifies the pairs.

    ``corpus_signatures`` is a minhash_signatures output for the
    reference corpus (precomputed once, broadcast-joinable when it
    fits); at planet scale it is a bucketed static table and the
    equi-join stays shuffle-free on the static side.

    Banding is the SAME code as the batch path — the shared
    ``operators.dedup.band_buckets`` helper — so a corpus bucket
    table precomputed by either path always matches the other
    (stream≡batch cross-check pinned by pytest).
    """
    from ..operators.dedup import band_buckets, minhash_signatures

    stream_sigs = minhash_signatures(documents, num_hashes)
    stream_buckets = band_buckets(stream_sigs, num_hashes, bands)
    corpus_buckets = band_buckets(
        corpus_signatures, num_hashes, bands, id_out="corpus_doc_id"
    )
    return stream_buckets.join(corpus_buckets, on=["band", "bh"]).select(
        "doc_id", "corpus_doc_id", "band"
    )


def streaming_exact_dedup(documents: DataFrame) -> DataFrame:
    """Streaming exact dedup for a continuously-crawled corpus:
    ``dropDuplicatesWithinWatermark`` on the content fingerprint
    (md5 of normalized text) — the first-seen copy of each document
    passes, re-crawls inside the one-hour watermark horizon on ``ts``
    are dropped, and the dedup state is bounded by the watermark (old
    fingerprints age out instead of growing forever, the property
    that matters on an unbounded crawl)."""
    fp = F.md5(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")))
    return (
        documents.withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("_fp", fp)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["_fp"])
        .drop("_fp")
    )
