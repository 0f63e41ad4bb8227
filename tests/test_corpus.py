"""Corpus curation operators: stratified sampling + token packing."""

import pytest
from pyspark.sql import functions as F

from osm_wayback_spark.operators.corpus import (
    pack_summary,
    pack_tokens,
    sample_bucket,
    stratified_sample,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, ["en", "de", "zh"][i % 3], (i * 7) % 40 + 1) for i in range(300)
    ]
    return spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")


def test_sample_bucket_deterministic_and_partition_independent(spark, docs):
    a = {
        r.doc_id: r.b
        for r in docs.select(
            "doc_id", sample_bucket(F.col("doc_id")).alias("b")
        ).collect()
    }
    b = {
        r.doc_id: r.b
        for r in docs.repartition(13)
        .select("doc_id", sample_bucket(F.col("doc_id")).alias("b"))
        .collect()
    }
    assert a == b
    assert all(0 <= v < 100 for v in a.values())
    # buckets actually spread (not constant)
    assert len(set(a.values())) > 50


def test_stratified_sample_rates(docs):
    kept = stratified_sample(docs, rates={"en": 0}, default_rate=100)
    langs = {r.lang for r in kept.select("lang").distinct().collect()}
    assert "en" not in langs and {"de", "zh"} <= langs
    # rate 100 keeps everything in the other strata
    assert kept.count() == docs.filter(F.col("lang") != "en").count()
    # a middling rate keeps a strict, deterministic subset
    half = stratified_sample(docs, rates={"en": 50}, default_rate=100)
    n_en = half.filter(F.col("lang") == "en").count()
    assert 0 < n_en < docs.filter(F.col("lang") == "en").count()
    assert half.count() == stratified_sample(
        docs.repartition(7), rates={"en": 50}, default_rate=100
    ).count()


def test_pack_tokens_greedy_semantics(spark):
    rows = [(i, "en", t) for i, t in enumerate([60, 60, 60, 60, 60])]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    got = {
        r.doc_id: r.chunk_id for r in pack_tokens(df, budget=100).collect()
    }
    # cum-before: 0,60,120,180,240 → chunks 0,0,1,1,2
    assert got == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2}


def test_pack_chunks_bounded_overflow(docs):
    budget = 100
    packed = pack_tokens(docs, budget=budget)
    summary = pack_summary(packed).collect()
    max_tok = max(r.n_tokens for r in docs.collect())
    for r in summary:
        # a chunk holds < budget before its last doc starts, so it
        # can exceed budget by at most one document's tokens
        assert r.chunk_tokens < budget + max_tok
    # chunk ids are contiguous from 0 per stratum
    by_lang = {}
    for r in summary:
        by_lang.setdefault(r.lang, set()).add(r.chunk_id)
    for ids in by_lang.values():
        assert ids == set(range(len(ids)))
    # token conservation
    assert sum(r.chunk_tokens for r in summary) == sum(
        r.n_tokens for r in docs.collect()
    )


def test_contamination_screen(spark):
    from osm_wayback_spark.operators.corpus import contamination_screen

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            # shares the 5-gram "quick brown fox jumps over" with eval 100
            (3, "a quick brown fox jumps over fences daily"),
            (4, "short text"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over a fence"),
            (101, "completely unrelated evaluation prompt here today"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_hits, r.n_eval_docs)
           for r in contamination_screen(train, ev, n=5).collect()}
    # doc 1 shares two 5-grams ("the quick brown fox jumps",
    # "quick brown fox jumps over"); doc 3 shares one; 2 and 4 clean
    assert got == {1: (2, 1), 3: (1, 1)}
    # n larger than every doc: degenerate whole-doc shingle, no overlap
    assert contamination_screen(train, ev, n=50).count() == 0


def test_contamination_screen_broadcast_plan(spark, plan_nodes):
    """The eval side is broadcast: the join is a BroadcastHashJoin — the
    no-shuffle probe shape a billion-doc train side needs."""
    from osm_wayback_spark.operators.corpus import contamination_screen

    train = spark.createDataFrame(
        [(i, f"w{i % 7} a b c d e f g w{i % 5} tail{i}") for i in range(60)],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(1000, "a b c d e f"), (1001, "c d e f g h")],
        "doc_id long, text string",
    )
    screen = contamination_screen(train, ev, n=5)
    assert "BroadcastHashJoin" in plan_nodes(screen)
    assert screen.count() > 0, "expected overlaps in the engineered corpus"


def test_mix_rebalance(spark):
    from osm_wayback_spark.operators.corpus import mix_rebalance, sample_bucket

    rows = [(i, ["en", "de", "zh"][i % 3]) for i in range(3000)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    # equal supply (1000 each), target 60/20/20: limiting stratum is
    # en (1000/0.6), so en keeps 100%, de/zh keep floor(100*1000/0.6*0.2/1000)=33%
    kept = mix_rebalance(docs, {"en": 0.6, "de": 0.2, "zh": 0.2})
    by = {r.lang: r.n for r in kept.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    assert by["en"] == 1000
    # 33% of md5 buckets — exact expected count from the bucket fn
    exp = docs.filter(
        (F.col("lang") == "de") & (sample_bucket(F.col("doc_id")) < 33)
    ).count()
    assert by["de"] == exp and by["zh"] > 0
    # achieved mix ≈ target (1% bucket granularity)
    tot = sum(by.values())
    assert abs(by["en"] / tot - 0.6) < 0.05
    # strata not in targets are dropped
    assert "zh" not in {
        r.lang for r in mix_rebalance(docs, {"en": 0.5, "de": 0.5})
        .select("lang").distinct().collect()
    }
    # deterministic under repartitioning
    a = sorted(r.doc_id for r in kept.collect())
    b = sorted(
        r.doc_id
        for r in mix_rebalance(
            docs.repartition(17), {"en": 0.6, "de": 0.2, "zh": 0.2}
        ).collect()
    )
    assert a == b


def test_example_windows_conservation(spark):
    """Concat-and-chunk invariants: every example in a stratum is
    exactly example_len tokens except the final partial one;
    per-document segment sums reproduce each doc's token count;
    offsets stay inside their example/document; zero-token docs
    vanish; deterministic under repartitioning."""
    from osm_wayback_spark.operators.corpus import example_windows

    rows = [
        (i, "en" if i % 3 else "de", (i * 37) % 230)
        for i in range(1, 120)
    ] + [(500, "en", 0)]  # zero-token doc
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, n_tokens long"
    )
    L = 100
    out = example_windows(docs, L).collect()
    assert all(r.doc_id != 500 for r in out)
    per_doc: dict = {}
    per_ex: dict = {}
    for r in out:
        assert 0 <= r.ex_offset < L and 1 <= r.seg_tokens <= L
        assert r.ex_offset + r.seg_tokens <= L
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.seg_tokens
        per_ex[(r.stratum, r.example_id)] = (
            per_ex.get((r.stratum, r.example_id), 0) + r.seg_tokens
        )
    want = {i: (i * 37) % 230 for i in range(1, 120) if (i * 37) % 230 > 0}
    assert per_doc == want
    for stratum in ("en", "de"):
        exs = {e: n for (s, e), n in per_ex.items() if s == stratum}
        last = max(exs)
        assert all(n == L for e, n in exs.items() if e != last)
        assert 1 <= exs[last] <= L
        assert sorted(exs) == list(range(last + 1))  # no gaps
    a = sorted(map(tuple, out))
    b = sorted(
        map(tuple, example_windows(docs.repartition(13), L).collect())
    )
    assert a == b


def test_packers_distributed_prefix_sum_equals_single_window(spark):
    """r6 verdict item 2: the distributed two-pass prefix sum
    (range shards + per-slice windows + broadcast offsets) must be
    bit-identical to the one-window-per-stratum form on a skewed
    fixture (90% of documents in one stratum), for any shard count —
    including shard boundaries that split a stratum mid-stream."""
    import random

    from osm_wayback_spark.operators.corpus import (
        example_windows,
        pack_tokens,
    )

    rng = random.Random(11)
    rows = [
        (i, "en" if i % 10 else "de", rng.randint(0, 40))
        for i in range(400)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, n_tokens long"
    ).repartition(7)

    base_pack = sorted(
        map(tuple, pack_tokens(docs, budget=97, shards=0).collect())
    )
    base_ex = sorted(
        map(tuple, example_windows(docs, 64, shards=0).collect())
    )
    for shards in (2, 5, 16):
        assert sorted(
            map(tuple, pack_tokens(docs, budget=97, shards=shards).collect())
        ) == base_pack, shards
        assert sorted(
            map(tuple, example_windows(docs, 64, shards=shards).collect())
        ) == base_ex, shards
    # the auto choice on a join-derived frame (planned wider than the
    # session parallelism, so the distributed form) gives the same rows
    joined = docs.join(docs.select("doc_id"), "doc_id")
    assert sorted(
        map(tuple, pack_tokens(joined, budget=97).collect())
    ) == base_pack
