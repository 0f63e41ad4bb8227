"""Trainable BPE: train vs an independent pure-Python trainer,
encode vs an independent pure-Python encoder, and the string-replace
merge trick vs the classic list merge."""

import random

from pyspark.sql import functions as F

from osm_wayback_spark.functions.bpe import (
    SEP,
    bpe_token_count,
    encode_bpe,
    merge_word,
    train_bpe,
)

# ---- independent reference (no imports from the engine's merge) ----


def _ref_merge(syms, l, r):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _ref_train(word_freqs, num_merges, min_freq=2):
    vocab = {tuple(w): n for w, n in word_freqs.items()}
    merges = []
    for _ in range(num_merges):
        stats = {}
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                stats[(a, b)] = stats.get((a, b), 0) + n
        if not stats:
            break
        pair = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        if pair[1] < min_freq:
            break
        merges.append(pair[0])
        vocab = {_ref_merge(s, *pair[0]): n for s, n in vocab.items()}
    return merges


def _ref_encode(text, merges):
    toks = []
    for w in text.split():
        syms = tuple(w)
        for l, r in merges:
            syms = _ref_merge(syms, l, r)
        toks.extend(syms)
    return toks


def test_string_replace_trick_is_ltr_merge():
    """The separator-wrapped single replace used by encode_bpe must
    equal classic left-to-right non-overlapping pair merging —
    including overlapping runs (a a a a) and adjacent matches
    (a b a b), the cases naive space-joined replace gets wrong."""
    rng = random.Random(7)
    alpha = ["a", "b", "ab", "bb", "c"]
    for _ in range(5000):
        syms = tuple(rng.choice(alpha) for _ in range(rng.randint(0, 8)))
        l, r = rng.choice(alpha), rng.choice(alpha)
        wrapped = SEP + (SEP + SEP).join(syms) + SEP
        replaced = wrapped.replace(
            f"{SEP}{l}{SEP}{SEP}{r}{SEP}", f"{SEP}{l + r}{SEP}"
        )
        body = replaced.strip(SEP)
        got = tuple(body.split(SEP + SEP)) if body else ()
        assert got == _ref_merge(syms, l, r), (syms, l, r)
        assert got == merge_word(syms, l, r)


def test_train_matches_independent_reference(spark):
    corpus = [
        "low lower lowest low low newer newest wider new new",
        "the newer the better the wider the lower",
        "low low low newest widest the the the",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    freqs = {}
    for t in corpus:
        for w in t.split():
            freqs[w] = freqs.get(w, 0) + 1
    for n in (1, 5, 25):
        assert train_bpe(docs, num_merges=n) == _ref_train(freqs, n)
    # min_freq stops early identically
    assert train_bpe(docs, num_merges=500) == _ref_train(freqs, 500)


def test_encode_matches_independent_reference(spark):
    texts = [
        "low lower lowest",
        "aaaaa aaaa aaa aa a",          # same-symbol merge runs
        "ababab abab ab",               # adjacent-match chains
        "the newest widest",
        "",
        "   ",
        "unseen zzz qqq",               # chars outside training set
    ]
    train = spark.createDataFrame(
        [(0, "low low lower newest aa aa aaaa ab abab the the")],
        "doc_id long, text string",
    )
    merges = train_bpe(train, num_merges=12, min_freq=1)
    assert ("a", "a") in merges  # the overlap-prone case is exercised
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        r.doc_id: (list(r.toks), r.n)
        for r in docs.select(
            "doc_id",
            encode_bpe(F.col("text"), merges).alias("toks"),
            bpe_token_count(F.col("text"), merges).alias("n"),
        ).collect()
    }
    for i, t in enumerate(texts):
        ref = _ref_encode(t, merges)
        assert out[i] == (ref, len(ref)), (t, out[i], ref)


def test_encode_partition_independent(spark):
    train = spark.createDataFrame(
        [(0, "pack my box with five dozen liquor jugs " * 3)],
        "doc_id long, text string",
    )
    merges = train_bpe(train, num_merges=8, min_freq=1)
    docs = spark.createDataFrame(
        [(i, f"box of dozen jugs item{i}") for i in range(40)],
        "doc_id long, text string",
    )
    a = sorted(
        (r.doc_id, tuple(r.t))
        for r in docs.select(
            "doc_id", encode_bpe(F.col("text"), merges).alias("t")
        ).collect()
    )
    b = sorted(
        (r.doc_id, tuple(r.t))
        for r in docs.repartition(13)
        .select("doc_id", encode_bpe(F.col("text"), merges).alias("t"))
        .collect()
    )
    assert a == b
