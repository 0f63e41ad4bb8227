"""Deduplication operators over a documents(doc_id, text, ...) table.

Four families, each a ``queries()`` entry with a DuckDB oracle:
- exact:       hash-groupBy on normalized text
- MinHash+LSH: per-row shingle-array minhash signatures
               (shuffle-free) → banded buckets → candidate pairs →
               exact-Jaccard verify
- SimHash:     per-token 48-bit hash, weighted bit votes
- n-gram Jaccard: shingle explode + self-join

Hash function: md5 everywhere (MinHash signatures, band hashes,
winnowing grams; lexicographic min over hex strings ≡ min over the
128-bit integer) because Spark and DuckDB produce identical md5 hex —
the whole dedup stack is thus oracle-checkable bit-for-bit.

``dedupe_corpus`` and ``winnow_pairs`` materialize their compact
intermediate tables with an eager ``localCheckpoint`` on every call;
nothing is kept on disk between calls.

Scale notes: signatures are per-row column math (no shuffle at
all); pair generation is explode → shuffle-on-short-key →
equi-join; no Python anywhere. n-gram self-join caps shingle
document frequency (`max_df`) so planet-hot shingles ("the of and")
don't produce quadratic candidates — the cap is logged, not silent.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions.text import shingles
from ..plans.parallel import fanout_small

logger = logging.getLogger(__name__)

DEFAULT_NUM_HASHES = 12
DEFAULT_BANDS = 4  # 3 rows per band at 12 hashes


def _cap_buckets(
    bucketed: DataFrame, keys: list[str], max_bucket: int | None, what: str
) -> DataFrame:
    """Hot-bucket guard for pair generation: drop buckets with more
    than ``max_bucket`` members BEFORE the self-join, and log how many
    were dropped (never silent). A single degenerate bucket — a few
    million boilerplate-identical docs that survive exact dedup by one
    byte — otherwise self-joins O(n²); members of a dropped bucket can
    still pair through their other bands/chunks. The membership count
    is a window over the same keys the join shuffles on, so no extra
    exchange is introduced; the logged count is one small extra job,
    only when the cap is enabled."""
    if max_bucket is None:
        return bucketed
    w = Window.partitionBy(*keys)
    capped = bucketed.withColumn("_bn", F.count("*").over(w))
    dropped = (
        capped.filter(F.col("_bn") > max_bucket).select(*keys).distinct().count()
    )
    if dropped:
        logger.warning(
            "%s: dropped %d hot bucket(s) with > %d members before "
            "pair generation", what, dropped, max_bucket,
        )
    return capped.filter(F.col("_bn") <= max_bucket).drop("_bn")


def exact_dedup(documents: DataFrame) -> DataFrame:
    """→ (doc_id, keep_id, is_dup): keep_id = min doc_id per identical
    text. One shuffle on md5(text) (short key, not the full text)."""
    return _exact_from_keyed(
        documents.select("doc_id", F.md5("text").alias("h"))
    )


def _exact_from_keyed(keyed: DataFrame) -> DataFrame:
    """exact_dedup over a pre-hashed (doc_id, h) frame (dedupe_corpus)."""
    keep = keyed.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    return (
        keyed.join(keep, on="h")
        .select(
            "doc_id",
            "keep_id",
            (F.col("doc_id") != F.col("keep_id")).alias("is_dup"),
        )
    )


def doc_shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    return fanout_small(documents).select(
        "doc_id", F.explode(shingles(F.col("text"), n)).alias("shingle")
    )


def minhash_signatures(
    documents: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    n: int = 3,
) -> DataFrame:
    """→ (doc_id, sig_0..sig_{H-1}); sig_i = min over shingles of
    md5(i-salted shingle).

    SHUFFLE-FREE (round 4): a MinHash signature depends only on its
    own row's shingles, so it is pure column math — array_min over a
    transform of the per-row shingle array. The previous shape
    (explode → groupBy(doc_id)) shuffled ~|shingles per doc| × corpus
    rows to compute a per-row value; at 100 TB that shuffle dwarfs
    the hashing itself (measured at sf0.1: 3.8 s → 0.6 s). The DuckDB
    oracle keeps its unnest+GROUP BY formulation — same result, so
    the rewrite is hash-checked, and distinctness of the shingle set
    is irrelevant (min is idempotent to duplicates). The hex-string
    min is the oracle-parity form: Spark and DuckDB md5 agree
    bit-for-bit."""
    shingled = documents.select(
        "doc_id", shingles(F.col("text"), n).alias("_sh")
    )
    return minhash_signatures_from_shingles(shingled, num_hashes)


def minhash_signatures_from_shingles(
    shingled: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES
) -> DataFrame:
    """minhash_signatures over a PRE-SHINGLED (doc_id, _sh) frame —
    the dedupe_corpus path: the tokenize+shingle pass is paid once
    and reused."""

    def sig(i):
        return F.array_min(
            F.transform("_sh", lambda s: F.md5(F.concat(F.lit(f"{i}:"), s)))
        )

    return (
        shingled.filter(F.size("_sh") > 0)  # ≙ the docs the groupBy form kept
        .select(
            "doc_id", *[sig(i).alias(f"sig_{i}") for i in range(num_hashes)]
        )
    )


def band_buckets(
    signatures: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    id_out: str = "doc_id",
) -> DataFrame:
    """Banded LSH bucket rows → (``id_out``, band, bh); ``id_out``
    names the signatures' doc_id in the output.

    Band hash = md5(concat_ws('|') of the band's signature slots).
    THE one banding
    definition: ``lsh_candidate_pairs`` (batch self-join) and
    ``streaming_near_dup_flags`` (stream-static join) both call this,
    so corpus bucket tables precomputed by one path are always
    compatible with the other (cross-checked by pytest)."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("bh")
            )
        )
    return signatures.select(
        F.col("doc_id").alias(id_out), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_out, F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    max_bucket: int | None = None,
) -> DataFrame:
    """→ distinct (doc_a, doc_b) sharing ≥1 LSH band bucket (a < b).

    Banding via the shared ``band_buckets`` helper. The bucket-join
    is an equi-join on (band, band_hash) — broadcastable when one
    side is small, AQE-skew-split otherwise. ``max_bucket`` drops
    degenerate hot buckets before the self-join (logged; see
    _cap_buckets) — None (default) is the exact/oracle-parity
    configuration; set it at planet scale.
    """
    buckets = band_buckets(signatures, num_hashes, bands)
    buckets = _cap_buckets(buckets, ["band", "bh"], max_bucket, "lsh_candidate_pairs")
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.bh") == F.col("b.bh"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing ≥1 shingle.

    → (doc_a, doc_b, jaccard) with jaccard ≥ threshold. ``max_df``
    drops shingles appearing in more than that many docs before the
    self-join (quadratic-blowup guard at planet scale; logged, see
    _cap_buckets); None is the exact/oracle configuration. Each
    (doc_id, shingle) row is unique (``shingles`` is array_distinct),
    so a shingle's row count is its document frequency."""
    sh = _cap_buckets(
        doc_shingles(documents, n), ["shingle"], max_df, "jaccard_pairs"
    )
    sizes = sh.groupBy("doc_id").agg(F.countDistinct("shingle").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            on=[
                F.col("a.shingle") == F.col("b.shingle"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.countDistinct(F.col("a.shingle")).alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), on="doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def minhash_dedup(
    documents: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard.
    → (doc_a, doc_b, jaccard). ``max_bucket`` is the hot-bucket cap
    applied before the LSH self-join (logged, see _cap_buckets;
    None = exact). ``shingled`` (a (doc_id, _sh) frame) overrides
    re-deriving shingles from ``documents`` — dedupe_corpus passes
    its checkpointed table."""
    if shingled is None:
        shingled = fanout_small(documents).select(
            "doc_id", shingles(F.col("text")).alias("_sh")
        )
    else:
        # a checkpointed (doc_id, _sh) table is scan-adjacent — same
        # tiny-input single-task hazard
        shingled = fanout_small(shingled)
    sigs = minhash_signatures_from_shingles(shingled, num_hashes)
    cands = lsh_candidate_pairs(sigs, num_hashes, bands, max_bucket=max_bucket)
    return _verify_jaccard_arrays(cands, shingled, threshold)


def _verify_jaccard_arrays(
    cands: DataFrame, shingled: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification directly on the per-doc DISTINCT
    shingle ARRAYS (r7): two equi-joins attach each candidate side's
    array, then intersection/sizes are per-row set math
    (array_intersect is hash-based, O(|a|+|b|)).

    Replaces the r6 exploded-shingle form (explode -> two
    shingle-level joins -> aggregations -> size joins) where the
    arrays are already at hand: that shape paid explode → two
    shingle-level joins → two aggregations → two size joins — five
    extra shuffles of |shingles-per-doc| × rows. Identical result:
    shingles() arrays are array_distinct, so size(array_intersect)
    == countDistinct(shared shingle), and pairs with an empty
    intersection are dropped explicitly (the exploded form's inner
    join dropped them implicitly)."""
    a = shingled.select(
        F.col("doc_id").alias("doc_a"), F.col("_sh").alias("_sha")
    )
    b = shingled.select(
        F.col("doc_id").alias("doc_b"), F.col("_sh").alias("_shb")
    )
    inter = F.size(F.array_intersect("_sha", "_shb"))
    return (
        cands.join(a, on="doc_a")
        .join(b, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.alias("_i"),
            F.size("_sha").alias("_sa"),
            F.size("_shb").alias("_sb"),
        )
        .filter(F.col("_i") > 0)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("_i") / (F.col("_sa") + F.col("_sb") - F.col("_i")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


SIMHASH_BITS = 48  # fits a signed 64-bit long in both engines


def simhash(documents: DataFrame) -> DataFrame:
    """→ (doc_id, simhash): weighted bit votes over token hashes.

    Token hash = first 12 hex chars of md5(token) (48 bits), weights =
    token multiplicity. Pure column math (conv + bit ops) so the
    DuckDB oracle can mirror it exactly.
    """
    toks = fanout_small(documents).select(
        "doc_id",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"),
    )
    counted = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
    h = F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast("long")
    counted = counted.withColumn("h", h)
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, F.col("cnt"))
            .otherwise(-F.col("cnt"))
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    voted = counted.groupBy("doc_id").agg(*votes)
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return voted.select("doc_id", sig.cast("long").alias("simhash"))


def connected_components(
    pairs: DataFrame,
    max_iters: int = 20,
) -> DataFrame:
    """Near-duplicate CLUSTERING: undirected (doc_a, doc_b) pairs →
    (node, component) with component = min node id reachable.

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbors' labels; converges in
    (component diameter) rounds — near-dup clusters are shallow, and
    ``max_iters`` bounds the pathological chain. Each round is one
    join + one groupBy on the node id, and ONE driver action: the
    convergence probe is an observe() metric collected by the same
    job that checkpoints the round (r7). This simple form keeps the
    DuckDB recursive-CTE oracle exact.
    """
    # eager-checkpoint the edge list ONCE before iterating: ``pairs``
    # is typically a lazy LSH+verify DAG, and without this every
    # round's two actions re-ran that whole pipeline (profiled 21.6 s
    # → 2.9 s for the dedupe_corpus CC stage at sf0.1). The edge set
    # is candidate-bounded — the standard persist point of every
    # iterative graph algorithm on Spark.
    a, b = F.col("doc_a"), F.col("doc_b")
    edges = (
        pairs.select(a.alias("src"), b.alias("dst"))
        .unionByName(pairs.select(b.alias("src"), a.alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(max_iters):
        # ONE job per round (r7; was two): the union carries an
        # _orig flag so the round's aggregate can recover each node's
        # previous label (max over the single flagged row) next to
        # the new min — and the convergence probe rides the
        # checkpoint job as an observe() metric instead of a second
        # join+count job. Labels only ever decrease, so
        # "any label < _old" is exactly the old new!=old probe.
        msgs = (
            edges.join(labels, edges.dst == labels.node)
            .select(
                F.col("src").alias("node"),
                "label",
                F.lit(False).alias("_orig"),
            )
        )
        new_labels = (
            labels.select("node", "label", F.lit(True).alias("_orig"))
            .unionByName(msgs)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.max(F.when(F.col("_orig"), F.col("label"))).alias("_old"),
            )
        )
        obs = Observation()
        new_labels = new_labels.observe(
            obs,
            F.sum(
                F.when(F.col("label") < F.col("_old"), 1).otherwise(0)
            ).alias("changed"),
        ).select("node", "label")
        # checkpoint materializes the round (cutting the growing
        # lineage) AND completes the observation in the same job
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = obs.get["changed"] or 0
        labels = new_labels
        if changed == 0:
            break
    else:
        # min-label propagation advances one hop per round: a
        # component whose diameter exceeds max_iters would otherwise
        # be returned silently SPLIT. Never silent.
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            "rounds (a component's diameter exceeds max_iters); raise "
            "max_iters"
        )
    return labels.select("node", F.col("label").alias("component"))


def line_dedup(documents: DataFrame, min_chars: int = 30) -> DataFrame:
    """Corpus-wide LINE-level exact dedup (the C4/MassiveText recipe:
    any line occurring more than once in the corpus survives only at
    its FIRST occurrence) → (doc_id, text, n_lines, n_dropped) with
    ``text`` reassembled from the surviving lines.

    First occurrence = smallest (doc_id, line index) — deterministic
    and partition-invariant. Lines shorter than ``min_chars`` are
    always kept: dropping every repeated "", "---" or "Introduction"
    would shred unrelated documents; the recipe targets boilerplate
    runs, which are long.

    Scale shape: first-occurrence is a min-struct AGGREGATE on the
    line hash — NOT a row_number window: a window cannot split a hot
    key, and THE defining input here has one (a boilerplate line
    shared by 10^9 documents lands whole on one reducer). The
    aggregate partial-combines map-side (the hot key reduces to one
    row per task), and the join back on the hash is an equi-join AQE
    can skew-split. One more shuffle on doc_id reassembles. No
    self-join, no Python. Fully SQL-expressible → under the DuckDB
    hash gate."""
    lines = documents.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("idx", "ln")
    ).withColumn(
        "_h",
        F.when(F.length("ln") >= min_chars, F.md5("ln")).otherwise(
            # short lines get a per-position key: never deduped
            F.concat_ws(":", F.lit("keep"), F.col("doc_id"), F.col("idx"))
        ),
    )
    firsts = lines.groupBy("_h").agg(
        F.min(F.struct("doc_id", "idx")).alias("_first")
    )
    kept = lines.join(firsts, on="_h").withColumn(
        "_keep", F.struct("doc_id", "idx") == F.col("_first")
    )
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("idx", "ln"))
                    )
                ),
                lambda s: s["ln"],
            ),
            "\n",
        ).alias("text"),
        F.count("*").alias("n_lines"),
        F.sum(F.when(~F.col("_keep"), 1).otherwise(0)).alias("n_dropped"),
    )


def dedupe_corpus(
    documents: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """One-call training-corpus dedup: exact + near-dup in a single
    labeled table → (doc_id, keep_id, is_exact_dup, component,
    is_canonical).

    Composition of the verified primitives: exact hash-groupBy,
    shuffle-free MinHash signatures → banded LSH candidates →
    exact-Jaccard verify at ``threshold`` → connected components →
    min-id canonical per cluster. The row a pipeline KEEPS is
    ``is_canonical`` (exactly one per near-dup cluster; singletons
    are their own cluster). ``max_bucket`` is the planet-scale lever:
    the cap is applied in ``lsh_candidate_pairs`` before the bucket
    self-join (logged, never silent).

    Single scan: one pass computes the compact
    (doc_id, md5(text), shingle-array) table — the raw text dropped —
    and materializes it with an eager ``localCheckpoint``; exact
    keying, signatures and both sides of the Jaccard verify read it.
    Re-deriving it per consumer re-ran the tokenize+shingle
    expression ~4× (measured 4.8 → 3.1 s at sf0.1, interleaved A/B).
    The checkpoint is paid on every call; nothing survives it."""
    st = (
        fanout_small(documents)
        .select(
            "doc_id",
            F.md5("text").alias("_h"),
            shingles(F.col("text")).alias("_sh"),
        )
        .localCheckpoint(eager=True)
    )
    exact = _exact_from_keyed(
        st.select("doc_id", F.col("_h").alias("h"))
    ).select("doc_id", "keep_id", F.col("is_dup").alias("is_exact_dup"))
    verified = minhash_dedup(
        documents, num_hashes, bands, threshold,
        max_bucket=max_bucket,
        shingled=st.select("doc_id", "_sh"),
    ).select("doc_a", "doc_b")
    clusters = dedup_clusters(st.select("doc_id"), verified)
    return exact.join(clusters, on="doc_id")


def dedup_clusters(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """→ (doc_id, component, is_canonical): every document labeled
    with its near-dup cluster (singletons are their own component);
    the min doc_id per cluster is canonical — the row a training-data
    pipeline keeps."""
    comp = connected_components(pairs)
    return (
        documents.select("doc_id")
        .join(comp, documents.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        )
        .withColumn(
            "is_canonical", (F.col("doc_id") == F.col("component"))
        )
    )


def dedupe_increment(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    threshold: float = 0.3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Incremental corpus update — screen a NEW batch against an
    EXISTING corpus → one row per new doc:
    (doc_id, exact_dup, near_dup, keep = neither).

    The daily-crawl shape of `dedupe_corpus`: intra-batch dedup is
    that operator's job; this one answers "which new docs are
    (near-)copies of what we already have". doc_ids must be unique
    ACROSS both frames (they share the verification join keyspace).

    Scale shape:
    - exact: md5(text) LEFT SEMI join — shuffle on the 32-char
      digest, never the text (same as exact_dedup).
    - near: shuffle-free MinHash signatures on both sides, the ONE
      shared `band_buckets` definition (the same banding
      `streaming_near_dup_flags` uses), a (band, bh) equi-join
      new×corpus (NOT a self-join: candidate growth is
      |new|-bounded), `max_bucket` capping the CORPUS side's hot
      buckets, then exact-Jaccard verification over the candidates
      only."""
    new_ids = new_docs.select("doc_id")
    corpus_md5 = corpus_docs.select(F.md5("text").alias("_md5")).distinct()
    exact = (
        new_docs.select("doc_id", F.md5("text").alias("_md5"))
        .join(corpus_md5, "_md5", "left_semi")
        .select("doc_id")
        .withColumn("exact_dup", F.lit(True))
    )
    sig_new = minhash_signatures(new_docs, num_hashes)
    sig_c = minhash_signatures(corpus_docs, num_hashes)
    bk_new = band_buckets(sig_new, num_hashes, bands, id_out="doc_a")
    bk_c = band_buckets(sig_c, num_hashes, bands, id_out="doc_b")
    bk_c = _cap_buckets(bk_c, ["band", "bh"], max_bucket, "dedupe_increment")
    cands = (
        bk_new.join(bk_c, ["band", "bh"]).select("doc_a", "doc_b").distinct()
    )
    # the Jaccard verify only needs shingles for docs that are
    # actually candidates, and the candidate set is |new|-bounded —
    # so LEFT SEMI the corpus on cands.doc_b BEFORE the shingle
    # explode (r5 verdict item 6: the old full-corpus explode was
    # correct but corpus-bounded at 100 TB). The candidate subplan
    # appears twice (semi filter + verify pairs); its shuffles
    # dedupe via ReusedExchange (PLANS.md-audited).
    corpus_cand = corpus_docs.join(
        cands.select(F.col("doc_b").alias("doc_id")).distinct(),
        "doc_id",
        "left_semi",
    )
    # array-based verify (see _verify_jaccard_arrays): shingle ARRAYS
    # per side, no shingle-level explode/joins. corpus_cand is
    # join-derived (already shuffle-parallel) and must not be probed
    # by fanout_small, so only the new side gets the parallelism floor
    shing = (
        fanout_small(new_docs)
        .select("doc_id", shingles(F.col("text")).alias("_sh"))
        .unionByName(
            corpus_cand.select("doc_id", shingles(F.col("text")).alias("_sh"))
        )
    )
    near = (
        _verify_jaccard_arrays(cands, shing, threshold)
        .select("doc_a")
        .distinct()
        .withColumnRenamed("doc_a", "doc_id")
        .withColumn("near_dup", F.lit(True))
    )
    return (
        new_ids.join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_dup", F.lit(False)).alias("exact_dup"),
            F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
            (
                ~F.coalesce("exact_dup", F.lit(False))
                & ~F.coalesce("near_dup", F.lit(False))
            ).alias("keep"),
        )
    )


def winnow_fingerprints(
    documents: DataFrame,
    k: int = 16,
    w: int = 8,
    chunk_chars: int | None = 4096,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the public MOSS algorithm) → distinct (doc_id, fp) rows.

    Hash every k-char gram of the normalized text (lowercase,
    whitespace-collapsed), slide a window of w consecutive hashes,
    and keep each window's MINIMUM — the winnowing guarantee: two
    documents sharing ANY substring of length ≥ w + k - 1 chars
    share at least one fingerprint. This is the character-level
    complement to shingle MinHash: MinHash measures whole-document
    set overlap; winnowing catches a single long verbatim run (a
    quoted paragraph, boilerplate block) inside otherwise-different
    documents.

    Pure per-row column math — THREE projections: the normalized
    text, the hash array, then the window minima. The normalization
    gets its own projection because Spark does not
    common-subexpression-eliminate inside HOF lambdas: inlining
    lower(regexp_replace(...)) into the k-gram transform re-ran the
    regex once per position — measured 42.8 s → ~2 s at sf0.1.
    md5 keeps DuckDB parity (hex min ≡ 128-bit integer min). We keep
    the distinct min-VALUE-per-window form (not the positional
    rightmost-min variant): the ≥ w+k-1 guarantee only needs equal
    windows to pick equal values, and a value set is
    engine-order-independent. Documents shorter than w+k-1
    normalized chars have no window and drop out.

    ``chunk_chars`` bounds PER-ROW memory (r5 verdict item 5): the
    hash array is O(|text|) per row — ~3 MB on a 100 KB doc in the
    md5-hex form — so long texts are exploded into ``chunk_chars``
    slices overlapping by w+k-2 chars before hashing. Every hash
    window of the unchunked text lies fully inside some chunk (the
    overlap spans all but one char of a window), and equal windows
    pick equal minima, so the fingerprint SET is IDENTICAL to the
    unchunked form (property-pytested); duplicate fps from overlap
    regions are dropped by a final distinct. ``None`` = unchunked
    (single projection, no explode/distinct — fine when doc length
    is known-bounded)."""
    span = k + w - 1  # chars covered by one hash window
    documents = fanout_small(documents)
    norm = documents.select(
        "doc_id",
        F.lower(
            F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
        ).alias("_t"),
    ).filter(F.length("_t") >= span)
    t = F.col("_t")
    if chunk_chars is not None:
        if chunk_chars < 2 * span:
            raise ValueError(
                f"chunk_chars={chunk_chars} must be >= 2*(k+w-1)={2 * span}"
            )
        # chunk starts: every global window start position must be a
        # valid in-chunk start, so the stride is chunk_chars-(span-1)
        starts = F.sequence(
            F.lit(1), F.length(t) - span + 1, F.lit(chunk_chars - span + 1)
        )
        norm = norm.select(
            "doc_id", "_t", F.explode(starts).alias("_s")
        ).select(
            "doc_id", F.substring(t, F.col("_s"), chunk_chars).alias("_t")
        )
    hashes = F.transform(
        F.sequence(F.lit(1), F.length(t) - k + 1),
        lambda i: F.md5(F.substring(t, i, k)),
    )
    base = norm.select("doc_id", hashes.alias("_hs"))
    # Sliding-window minima via a sparse table (doubling): build
    # m_{2p}[j] = min(m_p[j], m_p[j+p]) for p = 1,2,4,... up to the
    # largest power of two P <= w, then window_min_w[j] =
    # min(m_P[j], m_P[j+w-P]) — the two P-windows overlap and cover
    # [j, j+w-1] exactly (w <= 2P), and min is idempotent, so the
    # values are IDENTICAL to the previous array_min(slice(hs, j, w))
    # form (property-pytested). O(L·log w) comparisons instead of
    # O(L·w) slice+scan — measured ~2x on the 32-char md5-hex path
    # where every comparison is a string compare (guide §1.2 "per-task
    # work"). One chained projection per level: CollapseProject will
    # not re-inline non-cheap expressions referenced twice, so each
    # level is evaluated once.
    big = 1 << (w.bit_length() - 1)  # largest power of two <= w
    lvl = base.select("doc_id", F.col("_hs").alias("_m"))

    def _pair_min(col: str, d: int):
        n_out = F.size(col) - d
        return F.zip_with(
            F.slice(col, 1, n_out),
            F.slice(col, d + 1, n_out),
            lambda l, r: F.least(l, r),
        )

    p = 1
    while p < big:
        lvl = lvl.select("doc_id", _pair_min("_m", p).alias("_m"))
        p *= 2
    if w > big:
        lvl = lvl.select("doc_id", _pair_min("_m", w - big).alias("_m"))
    out = lvl.select(
        "doc_id", F.explode(F.array_distinct("_m")).alias("fp")
    )
    if chunk_chars is not None:
        # overlap regions emit the same fp from two chunks
        out = out.distinct()
    return out


def winnow_pairs(
    documents: DataFrame,
    k: int = 16,
    w: int = 8,
    max_bucket: int | None = None,
    chunk_chars: int | None = 4096,
) -> DataFrame:
    """Distinct (doc_a, doc_b) document pairs sharing ≥1 winnowing
    fingerprint — i.e. guaranteed to surface every pair sharing a
    verbatim run of ≥ w+k-1 chars. Equi-join on the fingerprint
    (never all-pairs); `max_bucket` drops degenerate boilerplate
    fingerprints shared by half the corpus (logged, see
    _cap_buckets) — None is the exact/oracle configuration.

    The compact (doc_id, fp) table — MOSS's fingerprint index — is
    materialized once per call with an eager ``localCheckpoint``
    (nothing survives the call): the self-join's two sides otherwise
    each re-run the whole text-hashing pipeline (Catalyst cannot
    reuse the exchange once one side broadcasts)."""
    fps = winnow_fingerprints(documents, k, w, chunk_chars=chunk_chars)
    fps = fps.localCheckpoint(eager=True)
    fps = _cap_buckets(fps, ["fp"], max_bucket, "winnow_pairs")
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.fp") == F.col("b.fp"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
