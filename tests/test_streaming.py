"""Structured Streaming ops golden-compared against batch plans."""

import pytest
from pyspark.sql import functions as F

from osm_wayback_spark.streaming.events import (
    read_event_stream,
    run_available_now,
    sessionize,
    windowed_event_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_path(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stream") / "events")
    spark.read.parquet(f"{SF_DIR}/events.parquet").write.parquet(out)
    return out


def test_windowed_counts_match_batch(spark, events_path):
    stream = windowed_event_counts(read_event_stream(spark, events_path))
    run_available_now(stream, "win_counts")
    got = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in spark.table("win_counts").collect()
    }
    batch = (
        spark.read.parquet(events_path)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("s"))
        .collect()
    )
    exp = {(r.w.start, r.event_type): (r.n, r.s) for r in batch}
    assert got == exp
    assert len(exp) > 5


def test_sessionize_matches_batch(spark, events_path):
    stream = sessionize(read_event_stream(spark, events_path), gap="5 minutes")
    run_available_now(stream, "sessions")
    got = {
        (r.user_id, r.session_start): r.n_events
        for r in spark.table("sessions").collect()
    }
    batch = (
        spark.read.parquet(events_path)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.session_window("ts", "5 minutes").alias("s"), "user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    exp = {(r.user_id, r.s.start): r.n for r in batch}
    assert got == exp
    # total events preserved across sessions
    assert sum(got.values()) == spark.read.parquet(events_path).count()


def test_run_available_now_timeout_raises(spark, events_path, monkeypatch):
    """A drain still running at the deadline raises TimeoutError naming
    the table, instead of returning over a partial memory table, and
    leaves no stream running."""
    from osm_wayback_spark.streaming import events

    monkeypatch.setattr(events, "DRAIN_TIMEOUT_S", 0.001)
    stream = windowed_event_counts(read_event_stream(spark, events_path))
    with pytest.raises(TimeoutError, match="win_counts_timeout"):
        run_available_now(stream, "win_counts_timeout")
    assert spark.streams.active == []


def test_streaming_exact_dedup(spark, tmp_path):
    """Duplicate texts in the stream collapse to one surviving row
    per fingerprint; distinct texts all pass."""
    import datetime

    from osm_wayback_spark.streaming.events import (
        read_event_stream,
        run_available_now,
        streaming_exact_dedup,
    )

    rows = []
    t0 = datetime.datetime(2024, 1, 1)
    for i in range(30):
        text = f"doc body {i % 10}"  # 10 distinct texts, 3 crawls each
        rows.append((i, t0 + datetime.timedelta(minutes=i), text))
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, ts timestamp, text string"
    ).write.parquet(path)

    stream = streaming_exact_dedup(read_event_stream(spark, path))
    run_available_now(stream, "deduped_docs", output_mode="append")
    out = spark.table("deduped_docs").collect()
    texts = [r.text for r in out]
    assert len(texts) == 10
    assert len(set(texts)) == 10


def test_streaming_near_dup_flags_match_batch(spark, tmp_path):
    """Stream-static near-dup screening: collisions flagged on the
    stream must equal the same banded join computed in batch, and an
    exact-duplicate-of-corpus doc must always collide while an
    unrelated doc must not."""
    from osm_wayback_spark.operators.dedup import minhash_signatures
    from osm_wayback_spark.streaming.events import (
        read_event_stream,
        run_available_now,
        streaming_near_dup_flags,
    )

    corpus = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "an entirely different reference document body"),
        ],
        "doc_id long, text string",
    )
    corpus_sigs = minhash_signatures(corpus, num_hashes=8)

    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    stream_rows = [
        (1, t0, "the quick brown fox jumps over the lazy dog"),  # exact dup
        (2, t0, "totally unrelated words regarding tile pyramids"),
        (3, t0, "an entirely different reference document body"),  # exact dup
    ]
    path = str(tmp_path / "sdocs")
    spark.createDataFrame(
        stream_rows, "doc_id long, ts timestamp, text string"
    ).write.parquet(path)

    flags = streaming_near_dup_flags(
        read_event_stream(spark, path), corpus_sigs, num_hashes=8
    )
    assert flags.isStreaming
    run_available_now(flags, "near_dup_flags", output_mode="append")
    got = {
        (r.doc_id, r.corpus_doc_id, r.band)
        for r in spark.table("near_dup_flags").collect()
    }

    batch = streaming_near_dup_flags(
        spark.createDataFrame(
            stream_rows, "doc_id long, ts timestamp, text string"
        ),
        corpus_sigs,
        num_hashes=8,
    )
    exp = {(r.doc_id, r.corpus_doc_id, r.band) for r in batch.collect()}
    assert got == exp
    flagged = {d for d, _c, _b in got}
    assert 1 in flagged and 3 in flagged  # exact dups collide in every band
    assert 2 not in flagged
    assert (1, 100, 0) in got and (3, 101, 0) in got
