"""`python bench.py` runs to completion on the host it is given: one
JSON line with the per-query walls, the host block and a 1 → n scaling
block, n = the cores this process may use."""

import json
import os
import subprocess
import sys
from pathlib import Path

import __spark_entry__ as entry

REPO = Path(__file__).resolve().parent.parent


def test_bench_smoke_fits_host():
    env = dict(os.environ, SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001")
    env.pop("SPARK_GRAFT_CPUS", None)  # the default: the affinity size
    out = subprocess.run(
        [sys.executable, "bench.py"], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=1200,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])

    for key in ("metric", "value", "unit", "queries", "queries_passes", "sf",
                "pages_per_sec", "tiles_per_sec", "host", "scaling"):
        assert key in result, key
    for leaf in ("pipeline_e2e", "skew_history", "dedupe_corpus"):
        assert leaf in result["queries"], leaf
    # every other leaf times one oracle query, not an operator variant
    oracle = set(entry.queries())
    extra = set(result["queries"]) - {"pipeline_e2e", "skew_history"} - oracle
    assert not extra, sorted(extra)
    assert all(wall > 0 for wall in result["queries"].values()), result["queries"]
    assert result["sf"] == 0.001
    assert result["host"]["nproc"] == len(os.sched_getaffinity(0))

    scaling = result["scaling"]
    assert scaling["cores_n"] == 1
    assert scaling["cores_4n"] == len(os.sched_getaffinity(0))
    assert scaling["efficiency"] > 0
