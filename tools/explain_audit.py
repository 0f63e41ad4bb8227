"""Dump `explain("formatted")` physical plans for the headline
operators into PLANS.md. Every section checks that its plan has no
Python row UDF (`BatchEvalPython`). The history join section and the
two persisted-IVF sections first run their frame, print the final
adaptive plan, and check on that plan tree what ran: the history
join's join and shuffles, the IVF probes' partition pruning. The
other properties a section lists (broadcast joins, pushed filters,
WindowGroupLimit, ...) are hand-written notes, printed as "NOTE (not
checked)" and not verified against the plan. Re-run after
plan-affecting changes: python tools/explain_audit.py"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _nodes(node) -> list:
    """Every node of a JVM physical-plan subtree, read through AQE: the
    current adaptive plan and the plan inside each query stage. After
    an action on the frame, that is the plan that ran."""
    out, todo = [], [node]
    while todo:
        n = todo.pop()
        if n.nodeName() == "AdaptiveSparkPlan":
            n = n.executedPlan()
        out.append(n)
        if n.nodeName().endswith("QueryStage"):
            todo.append(n.plan())
            continue
        kids = n.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return out


def sort_merge_join_on_cached_partitioning(df, keys: tuple[str, ...]) -> bool:
    """Call after ``df`` ran. Its final plan has one join, a
    SortMergeJoin, and no shuffle: every cached-table scan under it is
    already hash-partitioned on ``keys``."""

    def on_keys(scan) -> bool:
        part = scan.outputPartitioning()
        if part.getClass().getSimpleName() != "HashPartitioning":
            return False
        exprs = part.expressions()
        return tuple(exprs.apply(i).name() for i in range(exprs.size())) == keys

    nodes = _nodes(df._jdf.queryExecution().executedPlan())
    names = [n.nodeName() for n in nodes]
    scans = [n for n in nodes if n.nodeName() == "InMemoryTableScan"]
    return (
        [x for x in names if x.endswith("Join")] == ["SortMergeJoin"]
        and not any(x in ("Exchange", "ReusedExchange") for x in names)
        and bool(scans)
        and all(on_keys(scan) for scan in scans)
    )


def prunes_partitions_on(df, column: str) -> bool:
    """Call after ``df`` ran. Its final plan scans at least one table
    partitioned by ``column``, and every such file scan has a static
    partition filter on ``column`` (an IN list; an isnotnull or a
    dynamic-pruning subquery does not count) and read fewer of the
    table's partitions than it has."""

    def has_in_filter(scan) -> bool:
        filters = scan.partitionFilters()
        for i in range(filters.size()):
            f = filters.apply(i)
            refs = f.references().toSeq()
            names = {refs.apply(j).name() for j in range(refs.size())}
            if column in names and f.getClass().getSimpleName() in ("In", "InSet"):
                return True
        return False

    def read_fewer(scan) -> bool:
        total = scan.relation().location().partitionSpec().partitions().size()
        return scan.metrics().apply("numPartitions").value() < total

    scans = [
        n for n in _nodes(df._jdf.queryExecution().executedPlan())
        if n.getClass().getSimpleName() == "FileSourceScanExec"
        and column in list(n.relation().partitionSchema().fieldNames())
    ]
    return bool(scans) and all(has_in_filter(s) and read_fewer(s) for s in scans)


def main() -> None:
    import __spark_entry__ as e
    from osm_wayback_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    sections = []

    def add(title: str, df, notes: list[str], checks=()):
        p = plan_of(df)
        checks = [
            ("no Python row UDF (BatchEvalPython)", "BatchEvalPython" not in p),
            *checks,
        ]
        sections.append((title, notes, checks, p))

    from osm_wayback_spark import pipeline
    from osm_wayback_spark.operators.history import add_history

    pages = e._pages(spark, SF)
    t = pipeline.build_tables(pages)
    # broadcast joins off for this section only: the shuffled plan that
    # inputs past the broadcast threshold run
    threshold = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(threshold)
    spark.conf.set(threshold, "-1")
    try:
        hist = add_history(t["features"], t["versions"])
        # run it (the first action over the versions cache), so the
        # printed plan and the CHECK are the final adaptive plan
        hist.collect()
        add(
            "history join (J1/W1/A1): features ⋈ versions → tag diff → "
            "collect, shuffled (autoBroadcastJoinThreshold=-1), final plan",
            hist,
            [
                "a hot id is not skew-split: the join is a left outer join "
                "with the hot key on its right (versions) side, so its "
                "collect_list runs on one reducer",
                "the plan made before the versions cache is materialized "
                "has one hash Exchange per side on (element_type, id); "
                "AQE drops both once the cache stage reports its "
                "partitioning",
            ],
            [(
                "ran as a SortMergeJoin with no Exchange above the cached "
                "versions table: the cache is hash-partitioned on "
                "(element_type, id) by its own dedup window, and the "
                "latest-per-entity window, tag-diff window, join and "
                "collect groupBy all read it in place",
                sort_merge_join_on_cached_partitioning(
                    hist, ("element_type", "id")
                ),
            )],
        )
    finally:
        spark.conf.set(threshold, before)
    add(
        "knn_cells (J5 scale path): native ring expansion + cell equi-join",
        e.q_knn_cells(spark, SF),
        [
            "neighbor expansion is sequence/transform/pmod column math — "
            "no Python anywhere",
            "candidates via ONE equi-join on the packed cell id",
        ],
    )
    add(
        "knn_brute (J5 exact): broadcast + WindowGroupLimit partial top-k",
        e.q_knn(spark, SF),
        [
            "query side broadcast; rank<=k triggers WindowGroupLimit in "
            "Partial mode BEFORE the exchange — per-partition top-k for free",
        ],
    )
    add(
        "lsh_pairs (dedup): banded bucket equi-join, never all-pairs",
        e.q_lsh_pairs(spark, SF),
        ["candidate generation is an equi-join on (band, band-hash)"],
    )
    add(
        "pip (J5): polyfill cells ⋈ point cells, Arrow refine on candidates only",
        e.q_pip(spark, SF),
        [
            "equi-join on cell id prunes candidates before the ray-cast kernel",
            "SINGLE-PASS point side (round 4): one mercator projection at "
            "the finest res in use, coarser cells derived by integer "
            "parent math — exactly one TAN in the whole plan",
        ],
    )

    from osm_wayback_spark.plans.lineage import partition_metrics

    add(
        "lineage metrics (staged pipeline): JVM-native per-partition checksums",
        partition_metrics(t["versions"]),
        [
            "xxhash64(to_json(row)) + modular-sum/count per "
            "spark_partition_id (sum, not XOR — multiplicity-sensitive); "
            "partial aggregation reduces map-side, the shuffle carries one "
            "row per partition — the stage output never crosses into Python",
        ],
    )

    add(
        "asof_join (relation member resolution): interval left join + window",
        e.q_asof_join(spark, SF),
        [
            "ONE left join with the validity-interval predicate in the "
            "join condition + one latest-valid-since window — fully "
            "relational, no Python node (the assembly kernel runs AFTER)",
        ],
    )

    from osm_wayback_spark.operators.similarity import (
        ann_lsh_candidates,
        near_dup_candidates,
        near_dup_pairs,
        rerank_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    add(
        "embedding near-dup (scale shape): LSH bucket equi-join, no theta self-join",
        near_dup_pairs(emb, near_dup_candidates(emb), 0.4),
        [
            "the ONLY self-join is an equi-join on the bucket id "
            "(Σ_b C(n_b,2), never C(N,2)); cosine verify is two id "
            "equi-joins + column math",
            "no CartesianProduct / BroadcastNestedLoopJoin anywhere",
        ],
    )
    add(
        "ann_lsh (candidates + exact re-rank): bucket equi-join + WindowGroupLimit",
        rerank_topk(
            emb, emb.limit(20), ann_lsh_candidates(emb, emb.limit(20), 5), 5
        ),
        [
            "candidate generation equi-joins on the packed (table, bits) "
            "bucket id; the guaranteed-k fallback broadcasts only the "
            "starved query ids",
            "rank<=k triggers WindowGroupLimit partial top-k before the "
            "final exchange",
        ],
    )

    import tempfile

    from osm_wayback_spark.operators.similarity import (
        ann_ivf_candidates,
        build_ivf_index,
        read_ivf_index,
        write_ivf_index,
    )

    # two queries probe at most 2·nprobe cells, so the pruning shows
    probe_q = emb.limit(2)
    pruning_check = (
        "the assignment scan carries a static IN partition filter on "
        "cell and read fewer cell partitions than the index has: only "
        "the probed cells' files are read"
    )
    idx = tempfile.mkdtemp(prefix="audit_ivf_") + "/ivf"
    write_ivf_index(build_ivf_index(emb, n_centroids=8, iters=2), idx)
    ivf = ann_ivf_candidates(
        probe_q, read_ivf_index(spark, idx), 5, nprobe=2, fallback=False
    )
    ivf.collect()
    add(
        "ann_ivf_candidates (persisted index): checkpointed probe + pruned "
        "scan, final plan",
        ivf,
        [
            "the pandas-UDF probe ran ONCE during the eager checkpoint — "
            "this plan reads checkpoint files, zero Python nodes",
        ],
        [(pruning_check, prunes_partitions_on(ivf, "cell"))],
    )

    add(
        "repetition_stats (webtext quality): per-row HOF math, zero shuffle",
        e.q_repetition_stats(spark, SF),
        [
            "top/dup n-gram fractions are transform/filter/array_distinct "
            "HOFs evaluated per row — NO Exchange in the whole plan, no "
            "Python; scales embarrassingly with the scan",
        ],
    )
    add(
        "corpus_sample (stratified sampling): hash-bucket filter, zero shuffle",
        e.q_corpus_sample(spark, SF),
        [
            "keep/drop is md5-prefix column math in the scan's filter — "
            "no count-first pass, no Exchange; deterministic under any "
            "partitioning",
        ],
    )
    add(
        "bpe_encode (trained tokenizer): aggregate-fold column math, "
        "zero shuffle",
        e.q_bpe_encode(spark, SF),
        [
            "the 40-merge fold is ONE JVM aggregate expression per word "
            "(one replace per merge at runtime) — NO Exchange, no Python; "
            "tokenization rides the scan like a projection",
        ],
    )
    pq_idx = tempfile.mkdtemp(prefix="audit_ivfpq_") + "/ivfpq"
    write_ivf_index(build_ivf_index(emb, n_centroids=16, m=8, ksub=16), pq_idx)
    ivfpq = ann_ivf_candidates(
        probe_q, read_ivf_index(spark, pq_idx), 5, nprobe=4, fallback=False
    )
    ivfpq.collect()
    add(
        "ann_ivf_candidates (persisted IVF-PQ index): pruned code-only "
        "scan, final plan",
        ivfpq,
        [
            "codes live IN the cell-partitioned assignment table, so "
            "the pruned files carry (m+8)-byte rows, never 256-byte "
            "vectors; floats are read only by the final re-rank's "
            "vec_id point-joins",
        ],
        [(pruning_check, prunes_partitions_on(ivfpq, "cell"))],
    )
    add(
        "ann_ivf_pq (memory-bounded ANN): ADC from m-byte codes",
        e.q_ann_ivf_pq(spark, SF),
        [
            "the candidate shuffle carries 8-byte PQ codes, not 256-byte "
            "float vectors; ONE (m x ksub) distance table per query then "
            "table-lookup sums (Arrow-batched applyInPandas); float "
            "embeddings touched only for the final refine*k re-rank",
        ],
    )
    add(
        "winnow_pairs (MOSS substring match): per-row window minima, "
        "fp equi-join",
        e.q_winnow_pairs(spark, SF),
        [
            "k-gram hashing and window minima are per-row HOF column "
            "math over a MATERIALIZED normalized-text column (Spark does "
            "not CSE inside lambdas — inline norm re-ran the regex per "
            "element); the only shuffle is the fingerprint equi-join, "
            "cappable via max_bucket",
        ],
    )
    add(
        "dedupe_increment (incremental corpus update): new x corpus "
        "equi-join, no self-join",
        e.q_dedupe_increment(spark, SF),
        [
            "exact screen shuffles on md5(text), never the text; near "
            "screen joins NEW buckets against CORPUS buckets (candidate "
            "growth |new|-bounded, not |corpus|^2), with the corpus-side "
            "hot-bucket cap and Jaccard verify over candidates only",
            "the verify-side shingle explode sees ONLY corpus docs that "
            "are candidates: LeftSemi on cands.doc_b sits ABOVE the "
            "corpus scan and BELOW the explode (r5 item 6), so the "
            "verify shuffle is |candidates|-bounded; the repeated "
            "candidate subplan dedupes via ReusedExchange",
        ],
    )
    add(
        "line_dedup (C4/MassiveText line-level exact dedup): min-struct "
        "aggregate, no window on the hot key",
        e.q_line_dedup(spark, SF),
        [
            "first-occurrence is HashAggregate(min(struct(doc_id, idx))) "
            "on the line md5 — partial-combines map-side, so a "
            "corpus-wide boilerplate line reduces to one row per task "
            "(a row_number window would land the hot key whole on one "
            "reducer and cannot be split)",
            "the join back on the hash is an equi-join AQE can "
            "skew-split; reassembly is one aggregate on doc_id",
        ],
    )
    add(
        "example_windows (concat-and-chunk packing): one cumsum window + "
        "bounded explode",
        e.q_example_windows(spark, SF),
        [
            "one Exchange on the stratum for the cumulative-sum window; "
            "the per-doc explode is bounded by ceil(n_tokens/example_len) "
            "rows; offsets are pure integer column math — no join, no "
            "Python",
        ],
    )
    add(
        "mix_rebalance (domain mixing): in-plan rates, broadcast dim join",
        e.q_mix_rebalance(spark, SF),
        [
            "per-stratum counts, the limiting-stratum min and the keep "
            "rates are computed IN the plan (no driver collect) and "
            "broadcast back — the corpus side sees one small-dim "
            "equi-join and a per-row md5-bucket filter",
        ],
    )
    add(
        "ppl_buckets (CCNet corpus split): one broadcast percentile row",
        e.q_ppl_buckets(spark, SF),
        [
            "the tercile cut points are ONE scalar aggregate broadcast "
            "back onto the corpus — no global sort, no ntile window over "
            "the full table",
        ],
    )
    add(
        "lm_perplexity (CCNet-style quality signal): broadcast model, "
        "one shuffle",
        e.q_lm_perplexity(spark, SF),
        [
            "the alphabet-bounded model (pair counts + prefix totals) is "
            "BROADCAST to the exploded n-gram stream — the only shuffle "
            "on the corpus-sized side is the final groupBy(doc_id); "
            "unseen n-grams take the uniform backoff via coalesce "
            "algebra, no branch",
        ],
    )
    add(
        "quality_classifier (distilled gate): sigmoid column math, "
        "zero shuffle",
        e.q_quality_classifier(spark, SF),
        [
            "featurize + sigmoid(w·x) with frozen weights is pure "
            "column arithmetic — NO Exchange, no Python; the classifier "
            "gate rides the scan (training is separate: one aggregation "
            "job per GD step over a persisted sample)",
        ],
    )
    add(
        "pii_scrub (redaction): regexp column math, zero shuffle",
        e.q_pii_scrub(spark, SF),
        [
            "counts and redaction are regexp_extract_all/regexp_replace "
            "JVM expressions per row — NO Exchange, no Python; the scrub "
            "rides the scan like any projection",
        ],
    )
    add(
        "contamination (decontamination screen): broadcast eval probe",
        e.q_contamination(spark, SF),
        [
            "the exploded eval side is broadcast (eval sets are tiny vs "
            "a training corpus), so the billion-row exploded train side "
            "is probed map-side with NO join shuffle — the only Exchange "
            "is the final groupBy on doc_id",
        ],
    )
    add(
        "token_packing (chunk assembly): ONE Exchange on the stratum key",
        e.q_token_packing(spark, SF),
        [
            "the cumulative-sum window and the per-chunk fill groupBy "
            "both key on (lang) / (lang, chunk_id) — one shuffle on the "
            "stratum, partial aggregation map-side for the report",
        ],
    )

    # the r7 distributed prefix-sum form of the same packer, forced on
    # (shards=8) — the plan the operator auto-selects at real scale
    from pyspark.sql import functions as F
    from osm_wayback_spark.functions.text import token_count
    from osm_wayback_spark.operators.corpus import pack_tokens

    docs_scored = e._t(spark, SF, "documents").select(
        "doc_id", "lang",
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    add(
        "token_packing (distributed prefix sum, shards=8): bounded windows "
        "+ broadcast slice offsets",
        pack_tokens(docs_scored, budget=512, shards=8),
        [
            "range-repartition by (stratum, id) -> every cumsum window "
            "partitions on (stratum, range-slice): bounded by the slice "
            "size, NO stratum-sized window partition anywhere",
            "per-slice totals are a #shards-row aggregate, windowed and "
            "broadcast-joined back — the corpus-sized side sees one "
            "small-dim hash join",
            "bit-identical to the single-window form for any shard "
            "boundary placement (pytest with a 90%-one-stratum fixture; "
            "auto-selected only when the input scan is wider than the "
            "session parallelism, so the bench/oracle plan above is "
            "unchanged)",
        ],
    )

    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write(
            "# Physical-plan audit (generated by tools/explain_audit.py)\n\n"
            "The current `explain(\"formatted\")` output of each headline "
            "operator. CHECK lines are verified against the plan; NOTE "
            "lines are properties the plan is meant to hold, not "
            "checked. Regenerate after plan-affecting changes.\n"
        )
        for title, notes, checks, p in sections:
            fh.write(f"\n## {title}\n\n")
            for n in notes:
                fh.write(f"- NOTE (not checked): {n}\n")
            for name, ok in checks:
                fh.write(f"- CHECK {name}: {'PASS' if ok else 'FAIL'}\n")
            fh.write("\n```\n" + p.strip()[:6000] + "\n```\n")
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
