"""Benchmark harness.

Default run (what the driver executes):
    python bench.py
→ ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": 0.1,
     "pages_per_sec": ..., "tiles_per_sec": ...,
     "scaling": {"cores_n": 2, "cores_4n": 8, "pages_per_sec_n": ...,
                 "pages_per_sec_4n": ..., "efficiency": ...}}

The scaling block evidences the north rule's two-cluster-size
criterion in-sandbox: the SAME job (pages parquet → history join →
reconstruction → z15 tiles) at local[N] and local[4N] (default 2
and 8 — see the _CORES comment), each in a fresh subprocess/JVM;
efficiency = (thr_4N / thr_N) / 4.

Round-3 protocol refinements (BASELINE.md "Scaling protocol"):
- each measure subprocess is CPU-affinity-BOUND to exactly its core
  budget. local[N] caps JVM task threads but NOT the Python
  mapInPandas workers, so an unbound "N-core" job borrows idle host
  cores (measured: the 4-core side ran ~1.4× its budget) — a real
  N-executor cluster cannot. Binding is the honest analog of executor
  cgroups; disable with SPARK_GRAFT_BENCH_BIND=0.
- measure heap default 48g (both sides symmetrically): at sf4.8 /
  16 cores, 24g G1 spends ~15% of wall in GC (141.9 s → 121.1 s).
  Override with SPARK_GRAFT_BENCH_MEASURE_MEM.

Round-4 refinement — INTERLEAVED timed passes: round 3 ran the N and
4N measure subprocesses sequentially, so the two sides sampled
DIFFERENT host-noise windows (BENCH_r03 walls: 87–113 s spread on
the 8-core side alone → efficiency 0.767 vs 0.837 in quiet runs).
Now both sides start together as coordinated server subprocesses
bound to DISJOINT core ranges (4N side: cores 0..4N-1; N side:
cores 4N..5N-1 — disjoint, so the idle side's JVM background
threads never touch the measured side's cores), warm up
concurrently, then take turns: one timed pass on side A, then one on
side B, alternating which side leads each round. Adjacent-in-time
passes see the same noise epoch; min-combining per side then picks
the same quiet window for both. Disable (sequential fallback) with
SPARK_GRAFT_BENCH_INTERLEAVE=0. The scaling block reports both the
best-of-N ``efficiency`` (protocol headline since round 1) and the
companion ``efficiency_paired`` (median of per-round paired wall
ratios — robust to a single pass colliding with a load burst).

Round-6 refinement — each scaling side runs TWO full-scale un-timed
warm passes before announcing ready: across three full round-6 runs
the first TIMED round was consistently the worst wall on both sides
(residual JIT/page-cache warm-up), which the best-of headline
ignores but the paired-median companion estimator does not.

Round-5 refinement — the per-query section is noise-hardened the
same way: every per-query wall (and pipeline_e2e) is the best of
SPARK_GRAFT_BENCH_QUERY_PASSES (default 2) timed passes, so one
pass colliding with a host-load burst no longer defines the
recorded number. A tolerant-parse extraction wall
(``extract_tolerant``) tracks the real-crawl configuration.

Set SPARK_GRAFT_BENCH_SCALING=0 to skip the scaling block,
SPARK_GRAFT_BENCH_STAGED=1 to also time the staged (resumable)
pipeline variant, SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as usual.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
_IN_MEASURE = "--measure" in sys.argv or "--measure-server" in sys.argv


def _spark(cores: int):
    from osm_wayback_spark.session import get_spark

    # Shuffle-partition multiple of the core count (both sides of the
    # scaling pair symmetrically): >1 gives multiple waves per stage,
    # so one straggler task can't idle cores-1 slots for a whole
    # stage tail. AQE coalesces the excess when partitions are tiny.
    mult = int(os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE_MULT", "1"))
    s = get_spark(
        app_name=f"bench-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores * mult, 8),
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def _pages_cache(spark):
    import __spark_entry__ as entrymod

    return entrymod._pages(spark, SF_DIR)


# The scaling measurement runs on a LARGER corpus than the per-query
# bench (default pages-sf 1.6 ≈ 2.1M pages): long enough that the
# smaller side's wall (~70 s at 8 cores) dwarfs fixed costs (stage
# scheduling, persist barrier, worker spawn).
SCALE_SF = float(os.environ.get("SPARK_GRAFT_BENCH_SCALE_SF", "1.6"))

# N=2 → 4N=8 cores (settable, e.g. SPARK_GRAFT_BENCH_CORES="4,16").
# On a single shared 32-core host, a measured job that needs ≤ 8
# cores leaves 24+ cores of headroom, so noisy neighbors rarely steal
# from the measured tasks and per-core turbo/memory bandwidth stay
# comparable between the two sizes — the closest sandbox analog to
# N- vs 4N-executor clusters where each executor keeps its own
# resources. (4→16 was measured too: it tracks 2→8 in quiet windows
# but swings ±20% with host noise because it occupies half the box.)
_CORES = os.environ.get("SPARK_GRAFT_BENCH_CORES", "2,8")
CORES_N, CORES_4N = (int(x) for x in _CORES.split(","))


def _scale_pages(spark):
    from osm_wayback_spark.synth import synth_pages

    # 96 range-partitioned files (globally url/ts-sorted, same rows/
    # order as a plain orderBy write): ~14 MB each, so every core
    # count up to 16 gets ≥6 waves on the extraction stage. 32 coarse
    # files gave the 16-core scaling side only 2 waves — one straggler
    # idled up to 15 cores for half a stage (measured ~6 s of the
    # 16-core wall).
    cache = f"/root/repo/.cache/pages_sf{SCALE_SF}_s96"
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        (
            synth_pages(spark, SCALE_SF)
            .repartitionByRange(96, "url", "warc_ts")
            .sortWithinPartitions("url", "warc_ts")
            .write.mode("overwrite")
            .parquet(cache)
        )
    # Per-byte cost of the extraction kernel is ~30× a plain scan
    # (gzip + html parse), so the right split size for THIS input is
    # far below the 128m scan default: 16m → one split per 14 MB file
    # → ≥6 waves per stage at 16 cores (tail-straggler insurance).
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16m")
    return spark.read.parquet(cache)


def core_job(spark) -> tuple[int, int, float]:
    """The scaling-measured job: pages → history join + tag diff +
    node locations + reconstruction → z15 tile assignment."""
    from osm_wayback_spark import pipeline
    from osm_wayback_spark.operators.tiles import assign_tiles
    from pyspark.sql import functions as F

    pages = _scale_pages(spark) if _IN_MEASURE else _pages_cache(spark)
    n_pages = pages.count()
    t0 = time.time()
    recon = pipeline.reconstruction_pipeline(pages)
    tiles = assign_tiles(recon.filter(F.col("geometry").isNotNull()), z=15)
    n_tiles = tiles.count()
    wall = time.time() - t0
    return n_pages, n_tiles, wall


def _skew_inputs(spark, hot_versions: int = 150_000, cold_ids: int = 30_000):
    """Pathological hot-key history-join input: ONE id carrying
    ``hot_versions`` versions (the 3000-version hot-url pytest at
    bench scale) plus a uniform cold tail — the shape where an
    unsalted collect_list sends every hot row to one reducer."""
    from pyspark.sql import functions as F

    from osm_wayback_spark.schemas import FEATURES

    hot = spark.range(1, hot_versions + 1).select(
        F.lit("node").alias("element_type"),
        F.lit(77).cast("long").alias("id"),
        F.col("id").cast("int").alias("version"),
        (F.lit(1500000000) + F.col("id")).alias("ts"),
        (F.col("id") % 50).cast("long").alias("changeset"),
        F.lit(1).cast("int").alias("uid"),
        F.lit("u").alias("user"),
        F.lit(True).alias("visible"),
        F.lit(False).alias("deleted"),
        F.map_from_arrays(
            F.array(F.lit("v")), F.array(F.col("id").cast("string"))
        ).alias("tags"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("lonlat"),
        F.lit(None).cast("array<bigint>").alias("node_refs"),
    )
    cold = spark.range(1000, 1000 + cold_ids).select(
        F.lit("node").alias("element_type"),
        (F.col("id") + 1000).alias("id"),
        F.lit(1).cast("int").alias("version"),
        (F.lit(1500000000) + F.col("id")).alias("ts"),
        F.lit(1).cast("long").alias("changeset"),
        F.lit(1).cast("int").alias("uid"),
        F.lit("u").alias("user"),
        F.lit(True).alias("visible"),
        F.lit(False).alias("deleted"),
        F.map_from_arrays(F.array(F.lit("v")), F.array(F.lit("1"))).alias("tags"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("lonlat"),
        F.lit(None).cast("array<bigint>").alias("node_refs"),
    )
    versions = hot.unionByName(cold)
    features = spark.createDataFrame(
        [("node", 77, hot_versions, 1, 1500300000, 1, "u", "{}", {"v": "x"})]
        + [
            ("node", 2000 + i, 1, 1, 1500300000, 1, "u", "{}", {"v": "1"})
            for i in range(0, cold_ids, max(cold_ids // 500, 1))
        ],
        schema=FEATURES,
    )
    return features, versions


def skew_job(spark, salted: bool) -> float:
    """Timed hot-key history join (AQE skew-join on): returns wall.
    ``salted`` uses the two-phase salted collect; plain relies on the
    single-reducer collect_list."""
    from pyspark.sql import functions as F

    from osm_wayback_spark.operators.history import add_history, add_history_salted

    features, versions = _skew_inputs(spark)
    fn = add_history_salted if salted else add_history
    t0 = time.time()
    out = fn(features, versions)
    out.select(F.sum(F.size("history"))).collect()
    return time.time() - t0


def measure(cores: int, runs: int = 3) -> dict:
    """Warm-run measurement: a slice warm-up pays codegen + Python
    worker startup, then ONE full un-timed pass finishes JIT at scale
    (a long-running cluster amortizes both), then ``runs`` timed
    passes — min-combined, cache cleared between passes so each one
    rebuilds the persisted versions table like a fresh job would."""
    from osm_wayback_spark import pipeline
    from osm_wayback_spark.operators.tiles import assign_tiles
    from pyspark.sql import functions as F

    spark = _spark(cores)
    warm = _scale_pages(spark).limit(100_000)
    recon = pipeline.reconstruction_pipeline(warm)
    assign_tiles(recon.filter(F.col("geometry").isNotNull()), z=15).count()
    spark.catalog.clearCache()
    # TWO full-scale warm passes (round-6: across three full runs the
    # FIRST timed round was consistently the worst on both sides —
    # residual JIT/page-cache warm-up that min-combining ignores but
    # the paired-median estimator does not)
    core_job(spark)
    spark.catalog.clearCache()
    core_job(spark)
    best = None
    walls = []
    for _ in range(runs):
        spark.catalog.clearCache()
        n_pages, n_tiles, wall = core_job(spark)
        walls.append(round(wall, 3))
        if best is None or wall < best[2]:
            best = (n_pages, n_tiles, wall)
    n_pages, n_tiles, wall = best
    spark.stop()
    return {
        "cores": cores,
        "pages": n_pages,
        "tiles": n_tiles,
        "wall": wall,
        # every timed pass, not just the min — makes window noise
        # visible in BENCH_HISTORY instead of hiding in the best-of
        "walls": walls,
        "pages_per_sec": n_pages / wall,
        "tiles_per_sec": n_tiles / wall,
    }


def measure_server(cores: int, ctrl_dir: str, samples: int) -> None:
    """Coordinated measure side (see the module docstring): warm up,
    announce readiness, then run ONE timed pass per 'go' token from
    the orchestrator — so the two sides' passes interleave in time
    and sample the same host-noise windows. Results are written
    atomically per pass; a final summary mirrors measure()'s dict."""
    from osm_wayback_spark import pipeline
    from osm_wayback_spark.operators.tiles import assign_tiles
    from pyspark.sql import functions as F

    spark = _spark(cores)
    warm = _scale_pages(spark).limit(100_000)
    recon = pipeline.reconstruction_pipeline(warm)
    assign_tiles(recon.filter(F.col("geometry").isNotNull()), z=15).count()
    spark.catalog.clearCache()
    # TWO full-scale warm passes — see measure(); both sides warm
    # concurrently on disjoint cores, so the extra pass costs one
    # N-side wall of un-timed time, not two
    core_job(spark)
    spark.catalog.clearCache()
    core_job(spark)
    _touch(os.path.join(ctrl_dir, f"ready_{cores}"))
    best = None
    walls = []
    for i in range(samples):
        go = os.path.join(ctrl_dir, f"go_{cores}_{i}")
        stop = os.path.join(ctrl_dir, "stop")
        while not os.path.exists(go):
            if os.path.exists(stop):
                spark.stop()
                return
            time.sleep(0.2)
        spark.catalog.clearCache()
        n_pages, n_tiles, wall = core_job(spark)
        walls.append(round(wall, 3))
        if best is None or wall < best[2]:
            best = (n_pages, n_tiles, wall)
        _write_atomic(
            os.path.join(ctrl_dir, f"res_{cores}_{i}.json"),
            json.dumps({"wall": round(wall, 3)}),
        )
    n_pages, n_tiles, wall = best
    spark.stop()
    _write_atomic(
        os.path.join(ctrl_dir, f"done_{cores}.json"),
        json.dumps(
            {
                "cores": cores,
                "pages": n_pages,
                "tiles": n_tiles,
                "wall": wall,
                "walls": walls,
                "pages_per_sec": n_pages / wall,
                "tiles_per_sec": n_tiles / wall,
            }
        ),
    )


def _touch(path: str) -> None:
    with open(path, "w") as fh:
        fh.write("1")


def _write_atomic(path: str, content: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(content)
    os.rename(tmp, path)


def _bind_prefix(core_range: str) -> list[str]:
    import shutil

    if (
        os.environ.get("SPARK_GRAFT_BENCH_BIND", "1") != "0"
        and shutil.which("taskset")
    ):
        return ["taskset", "-c", core_range]
    return []


def _wait_for(path: str, procs: list, timeout: float) -> None:
    t0 = time.time()
    while not os.path.exists(path):
        for p in procs:
            if p.poll() is not None and p.returncode != 0:
                raise RuntimeError(
                    f"measure server exited rc={p.returncode} waiting for {path}"
                )
        if time.time() - t0 > timeout:
            raise RuntimeError(f"timeout waiting for {path}")
        time.sleep(0.2)


def _measure_interleaved(samples: int) -> tuple[dict, dict]:
    """Run both scaling sides as coordinated servers with interleaved
    timed passes on DISJOINT core ranges → (lo, hi) result dicts."""
    import shutil
    import tempfile

    ctrl = tempfile.mkdtemp(prefix="bench_ctrl_")
    env = dict(os.environ)
    env.setdefault(
        "SPARK_GRAFT_DRIVER_MEM",
        os.environ.get("SPARK_GRAFT_BENCH_MEASURE_MEM", "48g"),
    )
    here = os.path.abspath(__file__)
    # disjoint binding: 4N side gets cores 0..4N-1, N side the next N
    cmd_hi = _bind_prefix(f"0-{CORES_4N - 1}") + [
        sys.executable, here, "--measure-server", str(CORES_4N), ctrl, str(samples)
    ]
    cmd_lo = _bind_prefix(f"{CORES_4N}-{CORES_4N + CORES_N - 1}") + [
        sys.executable, here, "--measure-server", str(CORES_N), ctrl, str(samples)
    ]
    procs = []
    try:
        for cmd in (cmd_hi, cmd_lo):
            procs.append(
                subprocess.Popen(
                    cmd,
                    stdout=subprocess.DEVNULL,
                    stderr=subprocess.DEVNULL,
                    cwd=os.path.dirname(here),
                    env=env,
                )
            )
        # warm-ups run concurrently (disjoint cores; not timed)
        _wait_for(os.path.join(ctrl, f"ready_{CORES_4N}"), procs, 3000)
        _wait_for(os.path.join(ctrl, f"ready_{CORES_N}"), procs, 3000)
        for i in range(samples):
            # alternate which side leads so neither systematically
            # gets the "fresher" window within a round
            order = (CORES_4N, CORES_N) if i % 2 == 0 else (CORES_N, CORES_4N)
            for cores in order:
                _touch(os.path.join(ctrl, f"go_{cores}_{i}"))
                _wait_for(os.path.join(ctrl, f"res_{cores}_{i}.json"), procs, 3000)
        _wait_for(os.path.join(ctrl, f"done_{CORES_4N}.json"), procs, 600)
        _wait_for(os.path.join(ctrl, f"done_{CORES_N}.json"), procs, 600)
        with open(os.path.join(ctrl, f"done_{CORES_N}.json")) as fh:
            lo = json.load(fh)
        with open(os.path.join(ctrl, f"done_{CORES_4N}.json")) as fh:
            hi = json.load(fh)
        for p in procs:
            p.wait(timeout=120)
        return lo, hi
    finally:
        _touch(os.path.join(ctrl, "stop"))
        for p in procs:
            if p.poll() is None:
                p.terminate()
        shutil.rmtree(ctrl, ignore_errors=True)


def _measure_subprocess(cores: int) -> dict:
    import shutil

    cmd = [sys.executable, os.path.abspath(__file__), "--measure", str(cores)]
    if (
        os.environ.get("SPARK_GRAFT_BENCH_BIND", "1") != "0"
        and shutil.which("taskset")
    ):
        # bind the side to exactly its core budget (see module
        # docstring): JVM task threads AND Python workers share it,
        # like an executor cgroup would.
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    env = dict(os.environ)
    env.setdefault(
        "SPARK_GRAFT_DRIVER_MEM",
        os.environ.get("SPARK_GRAFT_BENCH_MEASURE_MEM", "48g"),
    )
    out = subprocess.run(
        cmd,
        capture_output=True,
        text=True,
        timeout=3600,
        cwd=os.path.dirname(os.path.abspath(__file__)),
        env=env,
    )
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    if cmd[0] == "taskset":
        # affinity syscalls can be restricted (containers/cgroups);
        # fall back to the unbound protocol rather than failing
        out = subprocess.run(
            cmd[3:],
            capture_output=True,
            text=True,
            timeout=3600,
            cwd=os.path.dirname(os.path.abspath(__file__)),
            env=env,
        )
        for line in reversed(out.stdout.strip().splitlines()):
            if line.startswith("{"):
                return json.loads(line)
    raise RuntimeError(f"measure({cores}) produced no JSON: {out.stderr[-2000:]}")


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--measure":
        runs = int(os.environ.get("SPARK_GRAFT_BENCH_SAMPLES", "4"))
        print(json.dumps(measure(int(sys.argv[2]), runs=runs)))
        return
    if len(sys.argv) > 4 and sys.argv[1] == "--measure-server":
        measure_server(int(sys.argv[2]), sys.argv[3], int(sys.argv[4]))
        return

    import __spark_entry__ as entrymod

    spark = _spark(CPUS)
    # warm the pages cache outside the timings (input generation is
    # not engine work), plus codegen/Python-worker warm-up on a slice
    from osm_wayback_spark import pipeline as _p

    _p.reconstruction_pipeline(_pages_cache(spark).limit(5_000)).count()

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    # Round-5 (r4 verdict item 6): best-of-N timed passes per query.
    # The r4 driver artifact read 13.4 s e2e vs 8.45 s for the SAME
    # build in a clean window — single-pass walls on a shared host
    # sample one noise epoch. Two passes land in different epochs and
    # the min recovers the engine's number at the cost of ~30 s extra
    # suite wall. (The scaling block already has its own interleaved
    # quiet-epoch machinery.)
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_QUERY_PASSES", "2"))

    # round-6 (r5 verdict item 8): every timed pass is kept, not just
    # the min — the r5 driver/builder wall discrepancies were only
    # diagnosable by cross-referencing BASELINE prose; the raw arrays
    # make each recorded wall self-explaining (a quiet-vs-noisy pass
    # split is visible in the artifact itself).
    raw: dict[str, list[float]] = {}

    def best_of(fn, name: str) -> float:
        walls = []
        for _ in range(passes):
            t1 = time.time()
            fn()
            walls.append(round(time.time() - t1, 3))
        raw[name] = walls
        return min(walls)

    t0 = time.time()
    n_pages, n_tiles, wall = core_job(spark)
    raw["pipeline_e2e"] = [round(wall, 3)]
    for _ in range(passes - 1):
        spark.catalog.clearCache()
        n_pages, n_tiles, w2 = core_job(spark)
        raw["pipeline_e2e"].append(round(w2, 3))
        wall = min(wall, w2)
    timings["pipeline_e2e"] = round(wall, 3)
    extras["pages_per_sec"] = round(n_pages / wall, 1)
    extras["tiles_per_sec"] = round(n_tiles / wall, 1)

    bench_queries = [
        "pages_history",
        "snapshot_latest",
        "tag_diff",
        "tile_assign",
        "cell_stats",
        "pip",
        "knn",
        "cosine_topk",
        "dedup_exact",
        "minhash_signatures",
        "text_stats",
        # round-5 operators: zonal raster agg + temporal as-of join
        "zonal_stats",
        "asof_join",
        # round-5 webtext curation: Gopher repetition HOF math, ring
        # stitcher kernel, token-budget packing window
        "repetition_stats",
        "relation_assembly",
        "token_packing",
        # round-5: trained-BPE tokenization (40-merge aggregate fold
        # riding the scan) — the token-accounting hot path — and the
        # distilled quality-classifier gate (sigmoid column math)
        "bpe_encode",
        "quality_classifier",
        # round-5: char-trigram LM perplexity (train slice + broadcast
        # score) — the CCNet-style quality wall
        "lm_perplexity",
        # round-5 curation walls: PII scrub (regexp scan), benchmark
        # decontamination (broadcast eval probe), domain-mix
        # rebalancing (in-plan rates), incremental corpus dedup
        "pii_scrub",
        "contamination",
        "mix_rebalance",
        "dedupe_increment",
        # round-5: winnowing substring fingerprints (MOSS) — the
        # verbatim-run detector's per-row hash-array cost
        "winnow_pairs",
        # round-6: corpus-wide line-level exact dedup (C4 recipe) —
        # skew-safe min-struct first-occurrence + reassembly
        "line_dedup",
        # round-6: concat-and-chunk sequence packing (docs split
        # across fixed example boundaries) — one cumsum window
        "example_windows",
    ]
    qs = entrymod.queries()
    for name in bench_queries:
        timings[name] = best_of(
            lambda: qs[name](spark, SF_DIR).count(), name
        )
    # minhash fast-hash path: native xxhash64 (JVM int64 min) vs the
    # md5 hex default — md5 exists only for DuckDB oracle parity, so
    # this is the production configuration's wall number
    from osm_wayback_spark.operators.dedup import minhash_signatures as _mh

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    timings["minhash_signatures_xxh"] = best_of(
        lambda: _mh(docs, num_hashes=4, hash_fn="xxhash64").count(),
        "minhash_signatures_xxh",
    )
    # winnowing fast-hash path: int64 window minima instead of
    # 32-char hex (same guarantee, different sampled fingerprints;
    # md5 stays the oracle configuration)
    from osm_wayback_spark.operators.dedup import winnow_pairs as _wp

    timings["winnow_pairs_xxh"] = best_of(
        lambda: _wp(docs, k=24, w=12, hash_fn="xxhash64").count(),
        "winnow_pairs_xxh",
    )
    # tolerant-parse extraction (r4 verdict item 7): the real-crawl
    # configuration — lxml/stdlib HTML parse instead of the exact
    # byte-marker island pull — carries a tracked wall number
    from osm_wayback_spark.sources.extract import extract_versions as _ev

    pages = _pages_cache(spark)
    timings["extract_tolerant"] = best_of(
        lambda: _ev(pages, tolerant=True).count(), "extract_tolerant"
    )
    # hot-key stress: the salted-vs-plain collect carries a wall
    # number, not just a pytest equivalence (one 150K-version id).
    # Best-of-N like every other wall — the round-6 run caught the
    # single-pass pair sampling two different noise windows and
    # inverting the comparison.
    for name, salted in (
        ("skew_history_plain", False),
        ("skew_history_salted", True),
    ):
        walls = [round(skew_job(spark, salted=salted), 3) for _ in range(passes)]
        raw[name] = walls
        timings[name] = min(walls)
    # one-call corpus dedup, lazy vs the single-scan staged lever
    # (round-5): the lazy DAG re-runs tokenize+shingle ~4x; staging
    # the (doc_id, md5, shingles) table pays one write and wins even
    # at bench scale (builder-measured 1.3-1.65x at sf0.1). Round-6
    # (r5 verdict item 2): the r5 driver artifact showed the pair
    # ~tying on single passes, so the lever is now evidenced the
    # noise-hard way — best-of-N passes per variant, AND the staged
    # side split into its two physical phases (stage-table write /
    # downstream read via stage_reuse) so the artifact shows where
    # the staged wall goes instead of one opaque number.
    import shutil as _sh2
    import tempfile as _tf2

    from osm_wayback_spark.operators.dedup import (
        dedupe_corpus as _ddc,
        stage_corpus as _stg,
    )

    timings["dedupe_corpus_lazy"] = best_of(
        lambda: _ddc(docs, num_hashes=8, threshold=0.3).count(),
        "dedupe_corpus_lazy",
    )
    writes, reads = [], []
    for _ in range(passes):
        _stage = _tf2.mkdtemp(prefix="bench_dedup_stage_")
        try:
            t1 = time.time()
            _stg(docs, _stage)
            writes.append(round(time.time() - t1, 3))
            t1 = time.time()
            _ddc(
                docs, num_hashes=8, threshold=0.3,
                stage_dir=_stage, stage_reuse=True,
            ).count()
            reads.append(round(time.time() - t1, 3))
        finally:
            _sh2.rmtree(_stage, ignore_errors=True)
    raw["dedupe_corpus_stage_write"] = writes
    raw["dedupe_corpus_staged_read"] = reads
    timings["dedupe_corpus_stage_write"] = min(writes)
    timings["dedupe_corpus_staged_read"] = min(reads)
    # total comparable to lazy: min over SAME-pass (write+read) sums,
    # not min(write)+min(read) — a pass is one coherent noise window
    raw["dedupe_corpus_staged"] = [
        round(a + b, 3) for a, b in zip(writes, reads)
    ]
    timings["dedupe_corpus_staged"] = min(raw["dedupe_corpus_staged"])
    if os.environ.get("SPARK_GRAFT_BENCH_STAGED", "0") == "1":
        # the resumable production shape (per-stage parquet
        # checkpoints) timed end-to-end from a cold checkpoint dir
        import shutil as _sh
        import tempfile

        from osm_wayback_spark import pipeline as _pl

        ckpt = tempfile.mkdtemp(prefix="bench_staged_")
        try:
            t1 = time.time()
            _pl.staged_pipeline(spark, _pages_cache(spark), ckpt).count()
            timings["pipeline_staged"] = round(time.time() - t1, 3)
        finally:
            _sh.rmtree(ckpt, ignore_errors=True)
    total = round(time.time() - t0, 3)
    # build the scaling corpus cache at full parallelism so the
    # measure subprocesses only read it
    if os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0":
        _scale_pages(spark).count()
    spark.stop()

    scaling = None
    if os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0":
        # SYMMETRIC protocol per side (one fresh JVM each, full-scale
        # warm pass, best-of-N timed passes with the cache cleared
        # between them), small core counts for noise isolation — see
        # the _CORES comment above and BASELINE.md. Timed passes
        # INTERLEAVE across the two sides (round-4 refinement: paired
        # noise windows) unless disabled or the coordination fails.
        # 4 paired rounds by default: one more min-combine sample per
        # side costs ~6 min and meaningfully tightens the worst case
        # on a shared host (observed same-day spread 0.81-1.02)
        samples = int(os.environ.get("SPARK_GRAFT_BENCH_SAMPLES", "4"))
        lo = hi = None
        if os.environ.get("SPARK_GRAFT_BENCH_INTERLEAVE", "1") != "0":
            try:
                lo, hi = _measure_interleaved(samples)
            except Exception as exc:  # noqa: BLE001
                print(
                    f"interleaved scaling failed ({exc}); sequential fallback",
                    file=sys.stderr,
                )
        if lo is None or hi is None:
            hi = _measure_subprocess(CORES_4N)
            lo = _measure_subprocess(CORES_N)
        scaling = {
            "cores_n": CORES_N,
            "cores_4n": CORES_4N,
            "wall_n": round(lo["wall"], 3),
            "wall_4n": round(hi["wall"], 3),
            "walls_n": lo.get("walls"),
            "walls_4n": hi.get("walls"),
            "pages_per_sec_n": round(lo["pages_per_sec"], 1),
            "pages_per_sec_4n": round(hi["pages_per_sec"], 1),
            "tiles_per_sec_n": round(lo["tiles_per_sec"], 1),
            "tiles_per_sec_4n": round(hi["tiles_per_sec"], 1),
            # headline: best-of-N per side (protocol since round 1)
            "efficiency": round(
                (hi["pages_per_sec"] / lo["pages_per_sec"]) / 4.0, 3
            ),
        }
        wn, w4 = lo.get("walls") or [], hi.get("walls") or []
        if len(wn) == len(w4) and wn:
            # companion estimator for the interleaved protocol: the
            # i-th passes of the two sides are adjacent in time, so
            # their ratio sees one noise window; the MEDIAN of the
            # per-round ratios is robust to a single pass colliding
            # with a load burst (min-of-walls can pair a quiet epoch
            # on one side with only-noisy epochs on the other).
            ratios = sorted(a / b / 4.0 for a, b in zip(wn, w4))
            mid = len(ratios) // 2
            med = (
                ratios[mid]
                if len(ratios) % 2
                else (ratios[mid - 1] + ratios[mid]) / 2.0
            )
            scaling["efficiency_paired"] = round(med, 3)

    sf = float(SF_DIR.rstrip("/").split("/")[-1][2:])
    result = {
        "metric": "history-join + QA-tile throughput (pages/sec, tiles/sec)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # every raw timed pass behind each min-combined wall above
        "queries_passes": raw,
        "sf": sf,
        **extras,
    }
    if scaling:
        result["scaling"] = scaling
    print(json.dumps(result))


if __name__ == "__main__":
    main()
