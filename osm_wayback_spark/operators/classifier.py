"""Distilled quality/language classifier — logistic-regression
scoring as pure column math.

Production training pipelines gate documents with a cheap linear
classifier distilled from an expensive signal (CCNet / RefinedWeb
style: a fastText-class model over surface features). The reference
engine has nothing like it; this is part of the training-data layer
the north rule adds.

Design (100 TB shape):

- **featurize** (`doc_features`): six surface features, ALL exact
  IEEE column arithmetic (integer counts and divisions — no libm),
  so the DuckDB oracle reproduces them bit-identically. Zero
  shuffle; rides the scan.
- **score** (`score_logreg`): sigmoid(w·x) as a column expression —
  zero Python, zero shuffle; the only libm call is one `exp`, and
  the driver-gate query rounds to 6 decimals so cross-engine libm
  ulp drift cannot flip the hash.

The weight vector is trained once, off the hot path, and frozen
(`__spark_entry__.QUALITY_LR_WEIGHTS`): the numpy gradient-descent
reference in tests/test_classifier.py re-derives it, and scoring
with it is hash-gated (`__spark_entry__.q_quality_classifier`),
mirroring the train-pytest / encode-oracle split used for BPE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FEATURES = ["f_len", "f_stop", "f_punct", "f_wlen", "f_digit"]

_PUNCT = r"[^\.\,\;\:\!\?]"


def doc_features(docs: DataFrame) -> DataFrame:
    """Surface features of each document's ``text`` → (doc_id,
    f_len, …, f_digit), exact arithmetic only:

    - f_len:   min(len/500, 1) — length saturation
    - f_stop:  English stopword hits / tokens
    - f_punct: sentence-punctuation chars / chars
    - f_wlen:  non-whitespace chars / tokens (mean word length)
    - f_digit: digit chars / chars
    """
    from ..functions.text import _EN, _hits, token_count

    t = F.col("text")
    n_tok = F.greatest(token_count(t), F.lit(1)).cast("double")
    n_chr = F.greatest(F.length(t), F.lit(1)).cast("double")
    return docs.select(
        "doc_id",
        F.least(F.length(t) / 500.0, F.lit(1.0)).alias("f_len"),
        (_hits(t, _EN).cast("double") / n_tok).alias("f_stop"),
        (
            F.length(F.regexp_replace(t, _PUNCT, "")).cast("double") / n_chr
        ).alias("f_punct"),
        (
            F.length(F.regexp_replace(t, r"\s", "")).cast("double") / n_tok
        ).alias("f_wlen"),
        (
            F.length(F.regexp_replace(t, "[^0-9]", "")).cast("double") / n_chr
        ).alias("f_digit"),
    )


def score_logreg(weights: list[float]) -> Column:
    """sigmoid(w0 + w·x) as a pure column expression. `weights` is
    [bias, w1..wd] over the raw (unstandardized) ``FEATURES``."""
    z = F.lit(float(weights[0]))
    for w, c in zip(weights[1:], FEATURES):
        z = z + F.lit(float(w)) * F.col(c)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
