"""Benchmark of the pages → z15 tiles pipeline.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The workload's input is generated from
``--seed`` (perfbench/gen.py) and cached as parquet under
``.perfbench/`` together with its expected tile digest
(perfbench/expected.py). One process then:

1. sets up: launches the JVM through ``session.get_spark`` at
   local[n], n = the cores this process may use, and runs one untimed
   warm-up pass over a small input that is the same for every seed;
2. runs timed passes over the seed's input, pages → extraction →
   history → node locations → reconstruction → ``assign_tiles(z=15)``,
   closed loop, until ``--seconds`` have passed (at least one pass),
   checking every pass's tile digest;
3. with ``--trace 1``, also runs the job at local[1] with the JVM and
   its Python workers bound to one core (the other side of
   ``scaling_eff``), then calls each layer under its own span and job
   group with Spark's event log on, runs the staged pipeline cold and
   resumed, and folds the event log into per-layer totals
   (perfbench/spans.py).

Times that decide the end-to-end metrics are CPU seconds of the JVM and
its Python workers, read from /proc: on a shared virtual host the
hypervisor takes a varying share of the CPUs (steal), which swings
walls by a quarter or more from run to run but is not charged to the
process. Walls are still recorded, and reported by the traced run.

The last line of stdout is one JSON object: correct, attempted,
failed and metrics (end-to-end metrics untraced, per-layer metrics
traced). The line before it holds the host block and every raw
interval (wall, CPU, steal share).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
TILE_COLS = ("element_type", "id", "version", "minor_version")
LAYERS = (
    "sources.extract",
    "operators.history",
    "operators.locations",
    "operators.reconstruction",
    "operators.tiles",
)
STAGES = ("versions", "history_geom", "versions_out")  # pipeline.staged_pipeline
WARMUP_SEED = 0  # the warm-up input is the same in every run


def log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def preflight() -> None:
    """The benchmark drives the repository's own package and oracles;
    without them there is nothing to measure."""
    needed = [
        os.path.join(ROOT, "osm_wayback_spark", "pipeline.py"),
        os.path.join(ROOT, "tests", "oracle.py"),
        os.path.join(ROOT, "tests", "oracle_reconstruct.py"),
    ]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        sys.exit(f"perfbench: not a repository checkout, missing {missing}")


def configure_env() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the package."""
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # every JVM, the launcher's too, would otherwise keep a perf-data
    # file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # get_spark would take the shuffle partition count from here instead
    # of deriving it from local[n]
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# -- host fit ---------------------------------------------------------------------


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def git_rev() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def host_block(spark, cores: int) -> dict:
    return {
        "nproc": cores,
        "mem_total_mb": mem_total_mb(),
        "heap": spark.conf.get("spark.driver.memory"),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_rev": git_rev(),
    }


# -- CPU time and memory of the JVM tree -----------------------------------------


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid → (ppid, rss bytes, cpu ticks) for every visible process; the
    ticks are user and system time of the process and of its reaped
    children."""
    page = os.sysconf("SC_PAGE_SIZE")
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{name}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        table[int(name)] = (int(fields[1]), rss, sum(int(v) for v in fields[11:15]))
    return table


def process_tree(root_pid: int) -> dict[int, tuple[int, int]]:
    """pid → (rss bytes, cpu ticks) for root_pid and all its descendants."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _rss, _cpu) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in table and pid not in out:
            out[pid] = table[pid][1:]
            todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by root_pid and its descendants. Time
    the hypervisor gave to other guests (steal) is not in it."""
    ticks = sum(cpu for _rss, cpu in process_tree(root_pid).values())
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's live JIT compiler threads
    ("C1/C2 CompilerThreadN"). Only reported: the JVM may end an idle
    compiler thread, and its time then leaves this sum."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # the thread ended
        if "CompilerThre" in stat[stat.find("(") : stat.rfind(")")]:
            fields = stat[stat.rfind(")") + 2 :].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(steal, all) ticks of the host's CPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals[:8])


class RssSampler:
    """Summed RSS of the JVM and its Python workers, sampled every
    100 ms; ``take_peak`` returns the peak since its last call. It also
    remembers every pid it saw, so that shutdown can wait for them."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.seen: set[int] = set()
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(0.1):
            tree = process_tree(self.jvm_pid)
            rss = sum(r for r, _cpu in tree.values())
            with self._lock:
                self.seen.update(tree)
                self._peak = max(self._peak, rss)

    def take_peak(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- inputs ---------------------------------------------------------------------------


def _fingerprint() -> str:
    import gen

    h = hashlib.sha256(gen.fingerprint().encode())
    for rel in ("perfbench/expected.py", "tests/oracle.py", "tests/oracle_reconstruct.py"):
        with open(os.path.join(ROOT, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def prepare(workload: str, seed: int) -> dict:
    """Generate (or reuse) the workload's input, its small input and
    the expected tile digest; → meta with their paths."""
    import expected
    import gen

    if workload not in gen.PROFILES:
        sys.exit(f"perfbench: unknown workload {workload!r}; one of {sorted(gen.PROFILES)}")
    key = f"{workload}-s{seed}-{_fingerprint()}"
    base = os.path.join(STATE, "inputs", key)
    meta_path = os.path.join(base, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{base}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        profile = gen.PROFILES[workload]
        rows, islands = gen.generate(profile, seed, workload)
        meta = {
            "pages": len(rows),
            "pages_bytes": gen.write_pages(rows, os.path.join(tmp, "pages")),
            "expected": expected.digest(expected.expected_tiles(islands)),
        }
        del rows, islands
        small, small_islands = gen.generate(profile, seed, workload, gen.SMALL_DIVISOR)
        meta["small_pages"] = len(small)
        meta["small_bytes"] = gen.write_pages(small, os.path.join(tmp, "small"))
        meta["small_expected"] = expected.digest(expected.expected_tiles(small_islands))
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh)
        shutil.rmtree(base, ignore_errors=True)
        os.replace(tmp, base)
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["pages_path"] = os.path.join(base, "pages")
    meta["small_path"] = os.path.join(base, "small")
    meta["warmup_path"] = warmup_input(workload)
    return meta


def warmup_input(workload: str) -> str:
    """The small input of WARMUP_SEED, written once per fingerprint."""
    import gen

    path = os.path.join(STATE, "inputs", f"{workload}-warmup-{_fingerprint()}")
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        rows, _ = gen.generate(
            gen.PROFILES[workload], WARMUP_SEED, workload, gen.SMALL_DIVISOR
        )
        gen.write_pages(rows, tmp)
        os.replace(tmp, path)
    return path


# -- session ------------------------------------------------------------------------------


def start_session(cores: int, extra: dict | None = None):
    from osm_wayback_spark.session import get_spark

    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.ui.showConsoleProgress": "false",
    }
    conf.update(extra or {})
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark, sampler: RssSampler | None) -> None:
    """Stop the session, end the JVM and wait for it and for every
    Python worker it started."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    if sampler is not None:
        sampler.close()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in sorted(sampler.seen if sampler else ()):
        if pid == os.getpid():
            continue
        deadline = time.time() + 10
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# -- passes ---------------------------------------------------------------------------


def lazy_pass(spark, path: str) -> dict:
    """One pipeline pass, pages to the digest of the last tile row."""
    from expected import spark_digest
    from osm_wayback_spark import pipeline
    from osm_wayback_spark.operators.tiles import assign_tiles

    recon = pipeline.reconstruction_pipeline(spark.read.parquet(path))
    got = spark_digest(assign_tiles(recon, z=15, payload_cols=TILE_COLS))
    # build_tables persists the versions table; drop it so the next
    # pass extracts again instead of hitting this pass's cache
    spark.catalog.clearCache()
    return got


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def reading(pid: int) -> tuple[float, float, float, int, int]:
    """(wall clock, CPU seconds of the JVM tree, of its JIT compiler
    threads, steal ticks, all ticks)."""
    return (time.perf_counter(), tree_cpu_s(pid), jit_cpu_s(pid), *steal_ticks())


def interval(r0: tuple, r1: tuple) -> dict:
    """Wall, JVM-tree CPU, the part of it the JIT compiler used, and
    the host's steal share between two readings."""
    return {
        "wall": r1[0] - r0[0],
        "cpu": r1[1] - r0[1],
        "jit": r1[2] - r0[2],
        "steal": (r1[3] - r0[3]) / max(1, r1[4] - r0[4]),
    }


class Outcome:
    """Attempted / failed output checks of one run."""

    def __init__(self, want: dict):
        self.want = want
        self.attempted = 0
        self.failed = 0

    def check(self, got: dict | None, want: dict | None = None) -> bool:
        want = self.want if want is None else want
        self.attempted += 1
        ok = got == want
        if not ok:
            self.failed += 1
            log(f"output check failed: {got} != {want}")
        return ok


def setup(cores: int, meta: dict, extra: dict | None = None):
    """JVM launch, session start and one untimed warm-up pass over the
    warm-up input. → (spark, set-up interval, session start seconds).

    The warm-up input does not depend on the seed. After a warm-up over
    the seed's own small input, set-up and timed pass CPU differed by a
    fifth between seeds, repeatably for each seed; after a warm-up over
    the full input, the timed pass caught a varying tail of JIT
    compilation (5-14 CPU-s)."""
    r0 = (time.perf_counter(), 0.0, 0.0, *steal_ticks())
    spark = start_session(cores, extra)
    session_s = time.perf_counter() - r0[0]
    pid = jvm_pid(spark)
    lazy_pass(spark, meta["warmup_path"])
    return spark, interval(r0, reading(pid)), session_s


def timed_passes(spark, meta: dict, seconds: float, outcome: Outcome,
                 sampler: RssSampler) -> list[dict]:
    """Closed loop of checked passes until ``seconds`` have passed;
    → the intervals (and peak RSS) of the passes whose output matched."""
    pid = jvm_pid(spark)
    passes = []
    deadline = time.perf_counter() + seconds
    while True:
        sampler.take_peak()
        r0 = reading(pid)
        try:
            got = lazy_pass(spark, meta["pages_path"])
        except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
            traceback.print_exc()
            outcome.check(None)
        else:
            if outcome.check(got):
                passes.append(dict(interval(r0, reading(pid)), rss=sampler.take_peak()))
        if time.perf_counter() >= deadline:
            return passes


# -- traced run ---------------------------------------------------------------------------


def traced_layers(spark, tracer, meta: dict, outcome: Outcome) -> tuple[float, dict]:
    """Each layer under its own span; its output is materialized for
    the next layer outside the span. → (traced wall, rows in/out)."""
    from pyspark import StorageLevel

    from expected import spark_digest
    from osm_wayback_spark.operators.history import add_history
    from osm_wayback_spark.operators.locations import add_node_locations
    from osm_wayback_spark.operators.reconstruction import reconstruct
    from osm_wayback_spark.operators.tiles import assign_tiles
    from osm_wayback_spark.sources.extract import (
        dedup_versions,
        extract_versions_native,
        features_from_versions,
        node_locations_from_versions,
    )

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def keep(df):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        return df, df.count()

    t0 = time.perf_counter()
    pages = spark.read.parquet(meta["pages_path"])
    with tracer.span("sources.extract"):
        # persisted inside the layer, as pipeline.build_tables does
        vext, n_versions = keep(dedup_versions(extract_versions_native(pages)))
        versions = vext.drop("geometry_json")
        features = features_from_versions(vext)
        nodes = node_locations_from_versions(versions)
        noop(features)
        noop(nodes)
    features, n_features = keep(features)
    nodes, n_nodes = keep(nodes)
    with tracer.span("operators.history"):
        hist = add_history(features, versions)
        noop(hist)
    hist, n_hist = keep(hist)
    with tracer.span("operators.locations"):
        geom = add_node_locations(hist, nodes, refs_source=versions)
        noop(geom)
    geom, n_geom = keep(geom)
    with tracer.span("operators.reconstruction"):
        recon = reconstruct(geom, with_coords=True)
        noop(recon)
    recon, n_recon = keep(recon)
    with tracer.span("operators.tiles"):
        got = spark_digest(assign_tiles(recon, z=15, payload_cols=TILE_COLS))
    wall = time.perf_counter() - t0
    outcome.check(got)
    spark.catalog.clearCache()
    rows = {
        "sources.extract": (meta["pages"], n_versions),
        "operators.history": (n_features + n_versions, n_hist),
        "operators.locations": (n_hist + n_nodes, n_geom),
        "operators.reconstruction": (n_geom, n_recon),
        "operators.tiles": (n_recon, got["rows"]),
    }
    return wall, rows


def _du(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _marker(root: str, stage: str) -> str | None:
    try:
        with open(os.path.join(root, stage, "_SUCCESS_STAGE")) as fh:
            return fh.read()
    except OSError:
        return None


def staged_leg(spark, tracer, meta: dict, root: str) -> dict:
    """staged_pipeline + write_tiles over the small input into a
    fresh checkpoint root; then the last stage's output is removed and
    the run repeated. → walls, bytes written, stages skipped on the
    resume and the tile digests of both runs."""
    from expected import spark_digest
    from osm_wayback_spark.operators.tiles import assign_tiles, write_tiles
    from osm_wayback_spark.pipeline import staged_pipeline

    tiles_path = os.path.join(root, "tiles")

    def run(span: str) -> tuple[float, dict]:
        with tracer.span(span):
            t0 = time.perf_counter()
            pages = spark.read.parquet(meta["small_path"])
            recon = staged_pipeline(spark, pages, root)
            write_tiles(assign_tiles(recon, z=15, payload_cols=TILE_COLS), tiles_path)
            wall = time.perf_counter() - t0
        return wall, spark_digest(spark.read.parquet(tiles_path))

    shutil.rmtree(root, ignore_errors=True)
    cold_s, cold = run("plans.lineage")
    written = _du(root)
    before = {s: _marker(root, s) for s in STAGES}
    shutil.rmtree(os.path.join(root, STAGES[-1]))
    shutil.rmtree(tiles_path)
    resume_s, resumed = run("plans.lineage.resume")
    skipped = sum(
        1 for s in STAGES if before[s] is not None and _marker(root, s) == before[s]
    )
    shutil.rmtree(root, ignore_errors=True)
    # a resume that recomputed a completed stage, or skipped the
    # removed one, fails the check like a wrong tile set
    return {"cold_s": cold_s, "resume_s": resume_s, "written": written,
            "stages_skipped": skipped, "cold": cold,
            "resumed": resumed if skipped == len(STAGES) - 1 else None}


def bind(jvm_pid: int, cores: set[int]) -> None:
    """Pin every thread of the JVM and of its Python workers to cores,
    as ``taskset -a -p`` does; threads and workers started later
    inherit the binding."""
    for pid in process_tree(jvm_pid):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cores)
            except OSError:
                pass  # the thread ended


def small_pass_wall(spark, meta: dict, outcome: Outcome) -> float:
    """One checked pass over the small input; → its wall."""
    t0 = time.perf_counter()
    got = lazy_pass(spark, meta["small_path"])
    wall = time.perf_counter() - t0
    outcome.check(got, meta["small_expected"])
    return wall


def scaling(spark, meta: dict, cores: list[int], pid: int, outcome: Outcome,
            conf: dict):
    """``scaling_eff`` over the small input: a pass in the warm local[n]
    session, then a warm-up and a timed pass at local[1] with the JVM
    and its Python workers bound to one core. The JVM stays bound, so
    this is the run's last step. → (local[1] session, walls)."""
    walls = {len(cores): small_pass_wall(spark, meta, outcome)}
    spark.stop()
    bind(pid, {cores[0]})
    spark = start_session(1, conf)
    lazy_pass(spark, meta["small_path"])
    walls[1] = small_pass_wall(spark, meta, outcome)
    return spark, walls


def per_layer(tracer, folded: dict, rows: dict, passes: list[dict],
              traced_s: float, staged: dict, meta: dict, start_s: float,
              scaling_eff: float) -> dict:
    untraced_s = statistics.median(p["wall"] for p in passes)
    m = {}
    for layer in LAYERS:
        f = folded.get(layer, {})
        vals = {
            "wall_s": tracer.wall(layer),
            "task_s": f.get("task_s", 0.0),
            "cpu_s": f.get("cpu_s", 0.0),
            "gc_s": f.get("gc_s", 0.0),
            "tasks": f.get("tasks", 0),
            "task_skew": f.get("task_skew", 1.0),
            "shuffle_read_mb": f.get("shuffle_read_mb", 0.0),
            "shuffle_write_mb": f.get("shuffle_write_mb", 0.0),
            "spill_mb": f.get("spill_mb", 0.0),
            "rows_in": rows[layer][0],
            "rows_out": rows[layer][1],
        }
        if layer == "operators.reconstruction":
            vals["python_s"] = f.get("python_s", 0.0)
            vals["python_mb"] = f.get("python_mb", 0.0)
        for k, v in vals.items():
            m[f"{layer}.{k}"] = v
    lineage = folded.get("plans.lineage", {}).get("exec_s", {})
    m["plans.lineage.write_s"] = lineage.get("write", 0.0)
    m["plans.lineage.checksum_s"] = lineage.get("checksum", 0.0)
    m["plans.lineage.written_mb"] = staged["written"] / 1e6
    m["plans.lineage.stages_skipped"] = staged["stages_skipped"]
    m["session.start_s"] = start_s
    m["pages_per_s"] = meta["pages"] / untraced_s
    m["peak_rss_mb"] = statistics.median(p["rss"] for p in passes) / 1e6
    # the layers' own work (executor CPU and Python worker time) as a
    # share of a timed pass's CPU
    m["trace.layer_share"] = (
        sum(m[f"{layer}.cpu_s"] for layer in LAYERS)
        + m["operators.reconstruction.python_s"]
    ) / statistics.median(p["cpu"] for p in passes)
    m["trace.jit_share"] = statistics.median(p["jit"] / p["cpu"] for p in passes)
    m["trace.coverage"] = sum(tracer.wall(layer) for layer in LAYERS) / untraced_s
    m["trace.overhead"] = traced_s / untraced_s
    m["scaling_eff"] = scaling_eff
    m["staged_pages_per_s"] = meta["small_pages"] / staged["cold_s"]
    m["resume_s"] = staged["resume_s"]
    m["write_amp"] = staged["written"] / meta["small_bytes"]
    return m


# -- main ------------------------------------------------------------------------------


def load_units() -> dict[str, str]:
    """metric name → unit, from BENCHMARK.json beside this directory."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    preflight()
    configure_env()
    cores = sorted(os.sched_getaffinity(0))
    n = len(cores)
    meta = prepare(args.workload, args.seed)
    outcome = Outcome(meta["expected"])
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(STATE, "runs", run_id)
    events_dir = os.path.join(run_dir, "events")
    os.makedirs(events_dir, exist_ok=True)
    # the traced run keeps one event log per session; the untraced
    # passes carry no job group, so the fold skips them
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + events_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    } if args.trace else None

    spark = sampler = None
    try:
        spark, setup_iv, start_s = setup(n, meta, conf)
        log(f"local[{n}] set-up {setup_iv}")
        pid = jvm_pid(spark)
        sampler = RssSampler(pid)
        host = host_block(spark, n)
        passes = timed_passes(spark, meta, args.seconds, outcome, sampler)
        log(f"local[{n}] passes {passes}")
        if not passes:
            raise RuntimeError("no timed pass passed its output check")
        detail = {"run_id": run_id, "host": host, "meta": {
            k: meta[k] for k in ("pages", "pages_bytes", "small_pages", "expected")},
            "setup": setup_iv, "passes": passes}
        if args.trace:
            from spans import Tracer, fold, read_events

            tracer = Tracer(spark, run_id)
            traced_s, rows = traced_layers(spark, tracer, meta, outcome)
            log(f"traced layers {traced_s:.2f} s")
            staged = staged_leg(spark, tracer, meta, os.path.join(run_dir, "ckpt"))
            for got in (staged["cold"], staged["resumed"]):
                outcome.check(got, meta["small_expected"])
            log(f"staged leg {staged}")
            walls = {1: 1.0, n: 1.0}
            if n > 1:
                spark, walls = scaling(spark, meta, cores, pid, outcome, conf)
            scaling_eff = walls[1] / walls[n] / n
            log(f"scaling walls {walls}, scaling_eff {scaling_eff:.3f}")
            spark.stop()  # flushes the event logs
            events = []
            for name in sorted(os.listdir(events_dir)):
                events += read_events(os.path.join(events_dir, name))
            folded = fold(events)
            tracer.dump(os.path.join(run_dir, "spans.json"))
            metrics = per_layer(tracer, folded, rows, passes, traced_s,
                                staged, meta, start_s, scaling_eff)
            detail["scaling_walls"] = walls
        else:
            metrics = {
                "pages_per_cpu_s": meta["pages"] / statistics.median(p["cpu"] for p in passes),
                "setup_s": setup_iv["cpu"],
            }
        detail["failed_frac"] = outcome.failed / outcome.attempted
        units = load_units()
        result = {
            "correct": outcome.failed == 0 and outcome.attempted > 0,
            "attempted": outcome.attempted,
            "failed": outcome.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        with open(os.path.join(run_dir, "result.json"), "w") as fh:
            json.dump({"detail": detail, "result": result}, fh, indent=1)
        print(json.dumps(detail))
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            shutdown(spark, sampler)
        shutil.rmtree(os.path.join(run_dir, "ckpt"), ignore_errors=True)
        shutil.rmtree(events_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
