"""Supplementary profiling harness for the optimization rounds.

NOT the driver's bench (bench.py is frozen): this file isolates the
expensive queries with the noop sink (guide §1.4), labels jobs
(§1.5), and captures .explain("formatted") for plan evidence.

Usage:
    python bench_extra.py <section> [...sections]
sections: dedup, winnow, lm, skew, misc, all
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_QUERY_PASSES", "3"))


def _spark():
    from osm_wayback_spark.session import get_spark

    s = get_spark(
        app_name="bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 8),
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(spark, name: str, make, sink=noop, passes: int = PASSES) -> list[float]:
    walls = []
    for i in range(passes):
        spark.sparkContext.setJobDescription(f"{name}#{i}")
        t0 = time.time()
        sink(make())
        walls.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
    print(f"{name:40s} {min(walls):8.3f}  {walls}", flush=True)
    return walls


def save_plan(df, path: str) -> None:
    import contextlib
    import io

    os.makedirs(os.path.dirname(path), exist_ok=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    with open(path, "w") as fh:
        fh.write(buf.getvalue())


def sec_dedup(spark):
    import shutil
    import tempfile

    from osm_wayback_spark.operators.dedup import (
        connected_components,
        dedupe_corpus,
        exact_dedup,
        lsh_candidate_pairs,
        minhash_dedup,
        minhash_signatures,
        stage_corpus,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    timed(spark, "dedup/exact", lambda: exact_dedup(docs))
    timed(
        spark, "dedup/sigs8",
        lambda: minhash_signatures(docs, num_hashes=8),
    )
    timed(
        spark, "dedup/lsh_pairs8",
        lambda: lsh_candidate_pairs(
            minhash_signatures(docs, num_hashes=8), num_hashes=8
        ),
    )
    timed(
        spark, "dedup/verified8",
        lambda: minhash_dedup(docs, num_hashes=8, threshold=0.3),
    )

    def cc():
        pairs = minhash_dedup(docs, num_hashes=8, threshold=0.3).select(
            "doc_a", "doc_b"
        )
        return connected_components(pairs)

    timed(spark, "dedup/cc", cc)
    timed(
        spark, "dedup/corpus_lazy",
        lambda: dedupe_corpus(docs, num_hashes=8, threshold=0.3),
    )

    def staged():
        d = tempfile.mkdtemp(prefix="bx_stage_")
        try:
            t0 = time.time()
            stage_corpus(docs, d)
            w = time.time() - t0
            t0 = time.time()
            noop(
                dedupe_corpus(
                    docs, num_hashes=8, threshold=0.3,
                    stage_dir=d, stage_reuse=True,
                )
            )
            r = time.time() - t0
            print(f"  staged write={w:.3f} read={r:.3f}", flush=True)
        finally:
            shutil.rmtree(d, ignore_errors=True)

    for _ in range(PASSES):
        staged()


def sec_winnow(spark):
    from osm_wayback_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    timed(
        spark, "winnow/fps_md5",
        lambda: winnow_fingerprints(docs, k=16, w=8),
    )
    timed(
        spark, "winnow/fps_xxh24_12",
        lambda: winnow_fingerprints(docs, k=24, w=12, hash_fn="xxhash64"),
    )
    timed(spark, "winnow/pairs_md5", lambda: winnow_pairs(docs, k=16, w=8))
    timed(
        spark, "winnow/pairs_xxh",
        lambda: winnow_pairs(docs, k=24, w=12, hash_fn="xxhash64"),
    )
    save_plan(
        winnow_fingerprints(docs, k=16, w=8), "plans/r07/_winnow_fps.txt"
    )


def sec_lm(spark):
    from pyspark.sql import functions as F

    from osm_wayback_spark.operators.lm import lm_perplexity, train_char_lm

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    timed(
        spark, "lm/train",
        lambda: train_char_lm(docs.filter(F.col("doc_id") % 10 == 0), n=3),
    )

    def score():
        model = train_char_lm(docs.filter(F.col("doc_id") % 10 == 0), n=3)
        return lm_perplexity(docs, model, n=3).select(
            "doc_id", "n_grams", F.round("ppl", 6).alias("ppl")
        )

    timed(spark, "lm/full", score)
    save_plan(score(), "plans/r07/_lm_full.txt")


def sec_skew(spark):
    import bench as benchmod

    for name, salted in (("skew/plain", False), ("skew/salted", True)):
        walls = [
            round(benchmod.skew_job(spark, salted=salted), 3)
            for _ in range(PASSES)
        ]
        print(f"{name:40s} {min(walls):8.3f}  {walls}", flush=True)


def sec_misc(spark):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name in (
        "mix_rebalance",
        "contamination",
        "dedupe_increment",
        "knn",
        "pip",
        "pages_history",
        "relation_assembly",
        "minhash_signatures",
        "asof_join",
        "cosine_topk",
        "zonal_stats",
        "line_dedup",
    ):
        timed(
            spark, f"misc/{name}",
            lambda n=name: qs[n](spark, SF_DIR),
            sink=lambda df: df.count(),
        )


SECTIONS = {
    "dedup": sec_dedup,
    "winnow": sec_winnow,
    "lm": sec_lm,
    "skew": sec_skew,
    "misc": sec_misc,
}


def main():
    names = sys.argv[1:] or ["all"]
    if names == ["all"]:
        names = list(SECTIONS)
    spark = _spark()
    # small warmup (codegen + python workers)
    import __spark_entry__ as entrymod
    from osm_wayback_spark import pipeline as _p

    _p.reconstruction_pipeline(
        entrymod._pages(spark, SF_DIR).limit(5_000)
    ).count()
    for n in names:
        print(f"=== {n} ===", flush=True)
        SECTIONS[n](spark)
    spark.stop()


if __name__ == "__main__":
    main()
