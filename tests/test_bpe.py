"""BPE: the pure-Python reference trainer re-derives the frozen
merge list, encode matches the reference encoder, and the
string-replace merge trick matches the classic list merge."""

import random

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import __spark_entry__
from osm_wayback_spark.functions.bpe import SEP, bpe_token_count, encode_bpe
from tests.test_streaming import SF_DIR

# ---- the reference trainer and encoder (no imports from the engine) ----


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


def _word_freqs(texts):
    freqs = {}
    for t in texts:
        for w in t.split():
            freqs[w] = freqs.get(w, 0) + 1
    return freqs


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


def test_ref_train_rederives_frozen_merges():
    """`BPE_MERGES` is the reference trainer's output over the
    whitespace-word histogram of the sf0.001 documents (40 merges,
    min_freq=2)."""
    texts = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["text"]
    ).column("text").to_pylist()
    merges = _ref_train(_word_freqs(texts), 40, min_freq=2)
    assert merges == __spark_entry__.BPE_MERGES


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
    train = ["low low lower newest aa aa aaaa ab abab the the"]
    merges = _ref_train(_word_freqs(train), 12, min_freq=1)
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
    train = ["pack my box with five dozen liquor jugs " * 3]
    merges = _ref_train(_word_freqs(train), 8, min_freq=1)
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
