"""Char n-gram LM perplexity vs an independent pure-Python model."""

import math

from osm_wayback_spark.operators.lm import lm_perplexity, train_char_lm


def _ref_ppl(train_texts, score_texts, n=3, k=1.0):
    def norm(t):
        return " ".join(t.split()).lower()

    counts, alphabet = {}, set()
    for t in train_texts:
        s = norm(t)
        for i in range(len(s) - n + 1):
            p, c = s[i : i + n - 1], s[i + n - 1]
            counts[(p, c)] = counts.get((p, c), 0) + 1
            alphabet.add(c)
    totals = {}
    for (p, _), c in counts.items():
        totals[p] = totals.get(p, 0) + c
    v = len(alphabet)
    out = {}
    for j, t in enumerate(score_texts):
        s = norm(t)
        lps = []
        for i in range(len(s) - n + 1):
            p, c = s[i : i + n - 1], s[i + n - 1]
            lps.append(
                math.log(
                    (counts.get((p, c), 0) + k) / (totals.get(p, 0) + k * v)
                )
            )
        if lps:
            out[j] = (len(lps), math.exp(-sum(lps) / len(lps)))
    return out


def test_perplexity_matches_reference(spark):
    train_texts = [
        "the cat sat on the mat",
        "the dog sat on the log",
        "a cat and a dog",
    ]
    score_texts = [
        "the cat sat",            # in-distribution: low ppl
        "zzz qqq xxy",            # out-of-distribution: high ppl
        "the dog",
        "ab",                     # shorter than n: drops out
        "",
    ]
    tr = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train_texts)], "doc_id long, text string"
    )
    sc = spark.createDataFrame(
        [(i, t) for i, t in enumerate(score_texts)], "doc_id long, text string"
    )
    model = train_char_lm(tr, n=3)
    got = {
        r.doc_id: (r.n_grams, r.ppl)
        for r in lm_perplexity(sc, model, n=3).collect()
    }
    ref = _ref_ppl(train_texts, score_texts, n=3)
    assert set(got) == set(ref) == {0, 1, 2}  # 3 and 4 drop out
    for j in ref:
        assert got[j][0] == ref[j][0]
        assert abs(got[j][1] - ref[j][1]) < 1e-9 * ref[j][1]
    # the quality signal points the right way (the fully-unseen doc
    # scores the uniform-backoff ceiling, the in-distribution doc less)
    assert got[1][1] > got[0][1]


def test_unseen_prefix_uniform_backoff(spark):
    tr = spark.createDataFrame([(0, "abcabcabc")], "doc_id long, text string")
    sc = spark.createDataFrame([(1, "xyzxyz")], "doc_id long, text string")
    model = train_char_lm(tr, n=3)
    v = model.select("nxt").distinct().count()
    r = lm_perplexity(sc, model, n=3).first()
    # every n-gram unseen → logp = ln(1/V) → ppl = V exactly
    assert abs(r.ppl - v) < 1e-9


def test_empty_model_is_a_clear_error(spark):
    """An empty model means v=0 → the smoothing denominator is 0 for
    unseen n-grams; that must be a ValueError at call time, not
    Infinity/NaN perplexities downstream."""
    import pytest

    empty = spark.createDataFrame([], "doc_id long, text string")
    sc = spark.createDataFrame([(1, "xyzxyz")], "doc_id long, text string")
    model = train_char_lm(empty, n=3)
    with pytest.raises(ValueError, match="non-empty corpus"):
        lm_perplexity(sc, model, n=3)


def test_train_partition_independent(spark):
    rows = [(i, f"doc {i} the cat sat on mat number {i % 7}") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, train_char_lm(docs, n=3).collect()))
    b = sorted(map(tuple, train_char_lm(docs.repartition(11), n=3).collect()))
    assert a == b


def test_ppl_buckets(spark):
    from osm_wayback_spark.operators.lm import ppl_buckets

    rows = [(i, float(i + 1)) for i in range(9)]
    df = spark.createDataFrame(rows, "doc_id long, ppl double")
    got = {r.doc_id: r.bucket for r in ppl_buckets(df).collect()}
    # exact terciles of 1..9: t1 = 1 + (8)*(1/3) = 3.667, t2 = 6.333
    assert [got[i] for i in range(9)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    )
    # custom labels + probs
    g3 = {
        r.doc_id: r.bucket
        for r in ppl_buckets(df, probs=(0.5, 0.9),
                             labels=("keep", "maybe", "drop")).collect()
    }
    assert g3[0] == "keep" and g3[8] == "drop"
