"""Dedup family: exact, MinHash-LSH, SimHash, n-gram Jaccard."""

import pytest
from pyspark.sql import functions as F

from osm_wayback_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_dedup,
    minhash_signatures,
    simhash,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox jumps over the sleepy dog"),  # near dup
    (4, "completely different content about spark engines"),
    (5, "totally unrelated words regarding tile pyramids"),
    (6, "the quick brown fox jumps over the lazy cat today"),  # near dup
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(docs):
    rows = {r.doc_id: r for r in exact_dedup(docs).collect()}
    assert rows[2].is_dup and rows[2].keep_id == 1
    assert not rows[1].is_dup
    assert not rows[3].is_dup


def _py_shingles(text, n=3):
    w = text.split()
    if len(w) >= n:
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}
    return {" ".join(w)}


def test_minhash_signature_matches_python(docs):
    import hashlib

    rows = {r.doc_id: r for r in minhash_signatures(docs, num_hashes=4).collect()}
    for doc_id, text in DOCS:
        sh = _py_shingles(text)
        for i in range(4):
            exp = min(hashlib.md5(f"{i}:{s}".encode()).hexdigest() for s in sh)
            assert getattr(rows[doc_id], f"sig_{i}") == exp


def test_lsh_finds_exact_and_near_dups(docs):
    sigs = minhash_signatures(docs, num_hashes=12)
    pairs = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(sigs, 12, 4).collect()}
    assert (1, 2) in pairs  # identical docs always collide
    assert (4, 5) not in pairs  # unrelated docs shouldn't


def test_minhash_dedup_verified_jaccard(docs):
    got = {(r.doc_a, r.doc_b): r.jaccard for r in minhash_dedup(docs, threshold=0.3).collect()}
    assert got[(1, 2)] == 1.0
    for pair in got:
        assert got[pair] >= 0.3


def test_jaccard_pairs_match_python(docs):
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_pairs(docs, threshold=0.2).collect()
    }
    exp = {}
    for i, (ida, ta) in enumerate(DOCS):
        for idb, tb in DOCS[i + 1 :]:
            sa, sb = _py_shingles(ta), _py_shingles(tb)
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.2:
                exp[(ida, idb)] = round(j, 6)
    assert set(got) == set(exp)
    for k in exp:
        assert abs(got[k] - exp[k]) < 1e-6


def test_simhash_near_dups_closer(docs):
    sims = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(sims[1], sims[2]) == 0  # identical text → identical simhash
    assert ham(sims[1], sims[3]) < ham(sims[1], sims[4])


def test_connected_components_chain_and_singleton(spark):
    from osm_wayback_spark.operators.dedup import (
        connected_components,
        dedup_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    comp = {
        r.node: r.component for r in connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 99]], "doc_id long")
    rows = {r.doc_id: (r.component, r.is_canonical)
            for r in dedup_clusters(docs, pairs).collect()}
    assert rows[99] == (99, True)  # singleton: own component, canonical
    assert rows[4] == (1, False)
    assert rows[1] == (1, True)


def test_connected_components_converges_under_max_iters(spark):
    """A 12-node chain needs more label-propagation rounds than its
    diameter/2 — verify the loop actually iterates to fixpoint."""
    from osm_wayback_spark.operators.dedup import connected_components

    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    comp = connected_components(pairs).collect()
    assert {r.component for r in comp} == {0}
    assert len(comp) == n + 1


def test_lsh_hot_bucket_cap(spark, caplog):
    """A degenerate band bucket (here: 600 one-token-variant docs that
    still share every band) must not self-join O(n^2): the cap drops
    the hot buckets, logs it, and keeps pairs from healthy buckets."""
    import logging

    hot = [(i, "boilerplate header common to every page") for i in range(600)]
    cold = [
        (1000, "alpha beta gamma delta epsilon zeta"),
        (1001, "alpha beta gamma delta epsilon eta"),
    ]
    docs = spark.createDataFrame(hot + cold, "doc_id long, text string")
    sigs = minhash_signatures(docs, 8, 3)

    uncapped = lsh_candidate_pairs(sigs, 8, 4)
    assert uncapped.count() >= 600 * 599 // 2  # the quadratic blowup

    with caplog.at_level(logging.WARNING, logger="osm_wayback_spark.operators.dedup"):
        capped = lsh_candidate_pairs(sigs, 8, 4, max_bucket=100)
        got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert (1000, 1001) in got          # healthy buckets still pair
    assert len(got) <= len(cold) ** 2   # bounded: no hot-bucket pairs
    assert any("hot bucket" in r.message for r in caplog.records)


def test_connected_components_nonconvergence_raises(spark):
    """A chain longer than max_iters must raise, not silently split
    (min-label propagation advances one hop per round)."""
    from osm_wayback_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(30)]
    pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=3)
    comp = connected_components(pairs, max_iters=40).collect()
    assert {r.component for r in comp} == {0}


def test_dedupe_corpus_composite(docs):
    """One-call dedup: exact dups flagged, near-dup clusters labeled,
    exactly one canonical row per cluster, singletons canonical."""
    from osm_wayback_spark.operators.dedup import dedupe_corpus

    rows = {r.doc_id: r for r in dedupe_corpus(docs, threshold=0.3).collect()}
    assert set(rows) == {1, 2, 3, 4, 5, 6}
    assert rows[2].is_exact_dup and rows[2].keep_id == 1
    assert not rows[1].is_exact_dup
    # docs 1/2/3(/6) are textual near-dups → same component, min id
    assert rows[2].component == rows[1].component == 1
    assert rows[3].component == 1
    assert rows[1].is_canonical and not rows[2].is_canonical
    # unrelated docs are their own singleton clusters, canonical
    assert rows[4].component == 4 and rows[4].is_canonical
    assert rows[5].component == 5 and rows[5].is_canonical
    # exactly one canonical per component
    from collections import Counter

    per_comp = Counter(
        r.component for r in rows.values() if r.is_canonical
    )
    comps = {r.component for r in rows.values()}
    assert set(per_comp) == comps and all(v == 1 for v in per_comp.values())


def test_dedupe_corpus_max_bucket_engages(spark, caplog):
    """The one-call API's ``max_bucket`` must actually reach the LSH
    stage (round-4 advice: it was a silent no-op): on a corpus with
    one engineered hot bucket, setting the cap fires the hot-bucket
    warning and shrinks the near-dup clusters vs the uncapped run."""
    import logging

    from osm_wayback_spark.operators.dedup import dedupe_corpus

    hot = [(i, "boilerplate header common to every page") for i in range(300)]
    cold = [
        (1000, "alpha beta gamma delta epsilon zeta"),
        (1001, "alpha beta gamma delta epsilon eta"),
    ]
    docs = spark.createDataFrame(hot + cold, "doc_id long, text string")

    uncapped = dedupe_corpus(docs, num_hashes=8, threshold=0.3).collect()
    # the hot docs cluster into one giant component without the cap
    assert sum(1 for r in uncapped if r.component == 0) == 300

    with caplog.at_level(
        logging.WARNING, logger="osm_wayback_spark.operators.dedup"
    ):
        capped = dedupe_corpus(
            docs, num_hashes=8, threshold=0.3, max_bucket=100
        ).collect()
    assert any("hot bucket" in r.message for r in caplog.records)
    # the hot bucket never self-joins → each hot doc is its own
    # singleton component (exact-dup labeling still flags them)
    by_id = {r.doc_id: r for r in capped}
    assert all(by_id[i].component == i for i in range(300))
    assert by_id[1].is_exact_dup and by_id[1].keep_id == 0
    # healthy buckets still pair
    assert by_id[1001].component == 1000


def test_band_buckets_shared_by_batch_and_streaming(docs):
    """ONE banding definition (round-4 advice): lsh_candidate_pairs
    and streaming_near_dup_flags both consume
    ``operators.dedup.band_buckets``. Cross-check: joining the helper's
    bucket table against itself reproduces lsh_candidate_pairs
    exactly, and the renamed-id variant used by the streaming path
    yields identical (band, bh) rows."""
    from osm_wayback_spark.operators.dedup import band_buckets

    sigs = minhash_signatures(docs, num_hashes=8)
    bk = band_buckets(sigs, num_hashes=8, bands=4)
    a, b = bk.alias("a"), bk.alias("b")
    via_helper = {
        (r.doc_a, r.doc_b)
        for r in a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bh") == F.col("b.bh"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .collect()
    }
    via_op = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(sigs, 8, 4).collect()
    }
    assert via_helper == via_op
    renamed = band_buckets(sigs, 8, 4, id_out="corpus_doc_id")
    assert {
        (r.corpus_doc_id, r.band, r.bh) for r in renamed.collect()
    } == {(r.doc_id, r.band, r.bh) for r in bk.collect()}


def test_dedupe_increment(spark):
    from osm_wayback_spark.operators.dedup import dedupe_increment

    base = "the quick brown fox jumps over the lazy dog again and again "
    corpus = spark.createDataFrame(
        [
            (100, base * 3),
            (101, "completely different corpus text about spark plans"),
            (102, "another unrelated document body with its own words"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, base * 3),                         # exact copy of 100
            (2, base * 3 + "tail changed a bit"),  # near-dup of 100
            (3, "fresh novel content nothing shares these tokens"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.exact_dup, r.near_dup, r.keep)
        for r in dedupe_increment(new, corpus, threshold=0.3).collect()
    }
    assert got[1] == (True, True, False)
    assert got[2] == (False, True, False)
    assert got[3] == (False, False, True)


def _warned(caplog, what):
    return any(
        r.message.startswith(f"{what}: dropped") and "hot bucket" in r.message
        for r in caplog.records
    )


def test_dedupe_increment_max_bucket(spark, caplog):
    """The corpus-side hot-bucket cap: five identical corpus docs make
    every band bucket of their text 5 deep; at max_bucket=3 those
    buckets are dropped (logged), so the new doc that is a near-copy
    of them loses its near-dup flag while the one near-copying a cold
    corpus doc keeps it."""
    import logging

    from osm_wayback_spark.operators.dedup import dedupe_increment

    base = "the quick brown fox jumps over the lazy dog again and again "
    cold = "completely different corpus text about spark plans and stages"
    corpus = spark.createDataFrame(
        [(100 + i, base * 3) for i in range(5)] + [(105, cold)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, base * 3 + "tail changed a bit"), (2, cold + " today")],
        "doc_id long, text string",
    )

    def near(**kw):
        return {
            r.doc_id
            for r in dedupe_increment(new, corpus, threshold=0.3, **kw).collect()
            if r.near_dup
        }

    uncapped = near()
    with caplog.at_level(logging.WARNING, logger="osm_wayback_spark.operators.dedup"):
        capped = near(max_bucket=3)
    assert _warned(caplog, "dedupe_increment")
    assert capped < uncapped
    assert capped == {2}


def test_jaccard_pairs_max_df(spark, caplog):
    """The shingle document-frequency cap: the five copies of one text
    share shingles of df 5, dropped at max_df=3 (logged); the pair
    whose shingles all have df ≤ 2 keeps its row and its Jaccard."""
    import logging

    hot = [(i, "alpha beta gamma delta epsilon") for i in range(5)]
    cold = [
        (10, "one two three four five six"),
        (11, "one two three four five seven"),
    ]
    docs = spark.createDataFrame(hot + cold, "doc_id long, text string")
    uncapped = set(jaccard_pairs(docs, threshold=0.2).collect())
    with caplog.at_level(logging.WARNING, logger="osm_wayback_spark.operators.dedup"):
        capped = set(jaccard_pairs(docs, threshold=0.2, max_df=3).collect())
    assert _warned(caplog, "jaccard_pairs")
    assert capped < uncapped
    assert {(r.doc_a, r.doc_b) for r in capped} == {(10, 11)}


def test_line_dedup_semantics(spark):
    """C4/MassiveText line dedup: a long line occurring anywhere in
    the corpus survives only at its first (doc_id, idx) occurrence;
    short lines are exempt; reassembly preserves in-doc order."""
    from osm_wayback_spark.operators.dedup import line_dedup

    bp = "this exact boilerplate line is well over thirty characters"
    docs = spark.createDataFrame(
        [
            (1, f"alpha\n{bp}\nunique first body line of document one"),
            (2, f"{bp}\nanother unique body line for document two\nalpha"),
            # in-doc repeat of a long line: second copy dropped too
            (3, "a long line repeated inside one single document!\n"
                "a long line repeated inside one single document!"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_dedup(docs, min_chars=30).collect()}
    assert out[1].text == (
        f"alpha\n{bp}\nunique first body line of document one"
    )
    assert out[1].n_dropped == 0
    # doc 2 loses the boilerplate (doc 1 owns it) but keeps the
    # short 'alpha' line even though doc 1 also has it
    assert out[2].text == (
        "another unique body line for document two\nalpha"
    )
    assert out[2].n_lines == 3 and out[2].n_dropped == 1
    assert out[3].text == (
        "a long line repeated inside one single document!"
    )
    assert out[3].n_dropped == 1
    # partition-invariant (first-occurrence key is (doc_id, idx))
    out7 = {
        r.doc_id: r.text
        for r in line_dedup(docs.repartition(7), min_chars=30).collect()
    }
    assert out7 == {k: v.text for k, v in out.items()}


def test_winnow_fingerprints_matches_reference(spark):
    import hashlib

    from osm_wayback_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    def ref_fps(text, k, w):
        t = " ".join(text.split()).lower()
        if len(t) < k + w - 1:
            return set()
        hs = [hashlib.md5(t[i:i + k].encode()).hexdigest()
              for i in range(len(t) - k + 1)]
        return {min(hs[j:j + w]) for j in range(len(hs) - w + 1)}

    texts = [
        "The quick brown fox jumps over the lazy dog near the river bank",
        "a wholly different document that QUOTES: the quick brown fox "
        "jumps over the lazy dog near the river, then moves on",
        "short",
        "no overlap here at all just some other words entirely unique",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    k, w = 8, 4
    got = {}
    for r in winnow_fingerprints(docs, k, w).collect():
        got.setdefault(r.doc_id, set()).add(r.fp)
    for i, t in enumerate(texts):
        assert got.get(i, set()) == ref_fps(t, k, w), i
    # the winnowing guarantee: docs 0 and 1 share a >= w+k-1 = 11 char
    # run ("the quick brown fox jumps over the lazy dog near the river")
    pairs = {(r.doc_a, r.doc_b) for r in winnow_pairs(docs, k, w).collect()}
    assert (0, 1) in pairs
    assert not any(3 in p for p in pairs)
    # max_bucket=0-ish cap drops everything (lever engages)
    assert winnow_pairs(docs, k, w, max_bucket=1).count() < len(pairs) + 1


def test_winnow_chunked_equals_unchunked(spark):
    """chunk_chars bounds per-row hash-array memory by slicing long
    texts with a w+k-2 overlap; every hash window of the unchunked
    text exists in some chunk, so the fingerprint set — and therefore
    the pair set — must be IDENTICAL. Forced to many chunks per doc
    (chunk_chars barely above the 2*(k+w-1) minimum) on the real
    sf0.001 documents plus adversarial synthetics whose shared run
    straddles chunk boundaries."""
    from osm_wayback_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    k, w = 8, 4
    real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    run = "the exact shared verbatim paragraph both documents carry "
    synth = spark.createDataFrame(
        [
            (100_000, ("x" * 37 + " ") * 40 + run * 3 + "tail a"),
            (100_001, ("y" * 23 + " ") * 55 + run * 3 + "tail b"),
            (100_002, "entirely unrelated filler " * 60),
        ],
        "doc_id long, text string",
    )
    docs = real.select("doc_id", "text").unionByName(synth)
    unchunked = {
        (r.doc_id, r.fp)
        for r in winnow_fingerprints(docs, k, w, chunk_chars=None).collect()
    }
    chunked = {
        (r.doc_id, r.fp)
        for r in winnow_fingerprints(
            docs, k, w, chunk_chars=2 * (k + w - 1)
        ).collect()
    }
    assert chunked == unchunked
    p_un = {
        (r.doc_a, r.doc_b)
        for r in winnow_pairs(docs, k, w, chunk_chars=None).collect()
    }
    p_ch = {
        (r.doc_a, r.doc_b)
        for r in winnow_pairs(docs, k, w, chunk_chars=30).collect()
    }
    assert p_ch == p_un
    assert (100_000, 100_001) in p_ch
    # the guard: a chunk too small to hold two windows is an error
    import pytest

    with pytest.raises(ValueError):
        winnow_fingerprints(docs, k, w, chunk_chars=k + w).collect()


def test_winnow_pairs_keeps_guarantee(spark):
    """Two documents quoting one verbatim run of >= w+k-1 chars pair;
    an unrelated document pairs with neither."""
    from osm_wayback_spark.operators.dedup import winnow_pairs

    shared = "a long verbatim boilerplate run that both documents quote "
    docs = spark.createDataFrame(
        [
            (1, "intro words here. " + shared * 2 + " unique tail one"),
            (2, "different opening text; " + shared * 2 + " other ending"),
            (3, "nothing in common with the others at all frankly"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.doc_a, r.doc_b) for r in winnow_pairs(docs, k=8, w=4).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_winnow_sparse_table_window_minima_match_reference(spark):
    """r7 optimization: the O(L*log w) doubling sparse-table window
    minima must produce exactly the fingerprint set of the naive
    array_min(slice) form — exercised at w = 1, power-of-two and
    non-power-of-two widths over adversarial repeated-gram texts,
    unchunked and chunked."""
    import hashlib
    import random

    from osm_wayback_spark.operators.dedup import winnow_fingerprints

    def ref_fps(text, k, w):
        t = " ".join(text.split()).lower()
        if len(t) < k + w - 1:
            return set()
        hs = [
            hashlib.md5(t[i:i + k].encode()).hexdigest()
            for i in range(len(t) - k + 1)
        ]
        return {min(hs[j:j + w]) for j in range(len(hs) - w + 1)}

    rng = random.Random(7)
    texts = [
        "abababababababababababababab",
        "".join(rng.choice("abcd ") for _ in range(300)),
        "x" * 40,
        "equal windows must pick equal minima for the guarantee to hold",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for k, w in ((5, 1), (5, 2), (5, 3), (4, 8), (6, 12), (3, 7)):
        for chunk in (None, 2 * (k + w - 1) + 3):
            got = {}
            rows = winnow_fingerprints(
                docs, k, w, chunk_chars=chunk
            ).collect()
            for r in rows:
                got.setdefault(r.doc_id, set()).add(r.fp)
            for i, t in enumerate(texts):
                assert got.get(i, set()) == ref_fps(t, k, w), (k, w, chunk, i)
