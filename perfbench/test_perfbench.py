"""Tests of the benchmark's own parts. Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import expected  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def _write(tmp_path, name: str, seed: int) -> dict[str, bytes]:
    rows, _ = gen.generate(gen.PROFILES["history_hot"], seed, "history_hot", 16)
    out = tmp_path / name
    gen.write_pages(rows, str(out))
    return {p.name: p.read_bytes() for p in sorted(out.iterdir())}


def test_same_seed_gives_identical_inputs(tmp_path):
    a = _write(tmp_path, "a", 7)
    b = _write(tmp_path, "b", 7)
    c = _write(tmp_path, "c", 8)
    assert len(a) == gen.FILES
    assert a == b
    assert a != c


def test_pages_carry_island_and_text_invariant():
    rows, islands = gen.generate(gen.PROFILES["pipeline_mixed"], 3, "pipeline_mixed", 16)
    from osm_wayback_spark.sources.extract import extract_island, extract_text

    assert len(rows) == len(islands)
    assert all(extract_island(r["html"]) is not None for r in rows)
    assert all(extract_text(r["html"]) == r["text"] for r in rows)


def _expected_rows():
    _, islands = gen.generate(gen.PROFILES["pipeline_mixed"], 5, "pipeline_mixed", 16)
    return expected.expected_tiles(islands)


def test_digest_rejects_one_mutated_tile_row():
    rows = _expected_rows()
    want = expected.digest(rows)
    assert expected.digest(reversed(rows)) == want
    z, x, y, *rest = rows[len(rows) // 2]
    mutated = list(rows)
    mutated[len(rows) // 2] = (z, x, y + 1, *rest)
    assert expected.digest(mutated) != want
    assert expected.digest(rows + rows[:1]) != want
    assert expected.digest(rows[1:]) != want


def test_spark_digest_matches_python_digest():
    rows = _expected_rows()[:500]
    from osm_wayback_spark.session import get_spark

    spark = get_spark(app_name="perfbench-tests", master="local[1]")
    try:
        df = spark.createDataFrame(
            rows,
            "z int, x long, y long, element_type string, id long, "
            "version int, minor_version int",
        )
        assert expected.spark_digest(df) == expected.digest(rows)
    finally:
        spark.stop()


def _task(stage: int, run_ms: int, py_ms: int = 0, spill: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Accumulables": [
                {"Name": "time to run Python workers", "Update": str(py_ms)},
                {"Name": "data sent to Python workers", "Update": "1000000"},
            ]
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": run_ms * 500_000,
            "JVM GC Time": 10,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 2_000_000},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3_000_000},
            "Disk Bytes Spilled": spill,
        },
    }


def _app(group: str, exec_plan: str) -> list[dict]:
    """One application: a job of two stages in ``group``, one SQL
    execution, tasks 100/200/600 ms in stage 0 and 50 ms in stage 1."""
    props = {"spark.jobGroup.id": group, "spark.sql.execution.id": "3"}
    return [
        {"Event": "SparkListenerLogStart"},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "time": 1_000, "physicalPlanDescription": exec_plan},
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1], "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": props},
        _task(0, 100, py_ms=40),
        _task(0, 200, py_ms=60),
        _task(0, 600, spill=5_000_000),
        _task(1, 50),
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
         "executionId": 3, "time": 3_500},
    ]


def test_fold_totals_per_group():
    events = _app("layer.a", "Project [xxhash64(to_json(...))]") + _app(
        "layer.b", "Execute InsertIntoHadoopFsRelationCommand"
    )
    got = spans.fold(events)
    assert set(got) == {"layer.a", "layer.b"}
    a = got["layer.a"]
    assert a["tasks"] == 4
    assert a["task_s"] == pytest.approx(0.95)
    assert a["cpu_s"] == pytest.approx(0.475)
    assert a["gc_s"] == pytest.approx(0.04)
    assert a["shuffle_read_mb"] == pytest.approx(8.0)
    assert a["shuffle_write_mb"] == pytest.approx(12.0)
    assert a["spill_mb"] == pytest.approx(5.0)
    assert a["python_s"] == pytest.approx(0.1)
    assert a["python_mb"] == pytest.approx(4.0)
    assert a["task_skew"] == pytest.approx(3.0)  # 600 / median(100, 200, 600)
    assert a["exec_s"] == {"checksum": 2.5, "write": 0.0, "other": 0.0}
    # the second application reuses stage and execution ids
    assert got["layer.b"]["tasks"] == 4
    assert got["layer.b"]["exec_s"] == {"checksum": 0.0, "write": 2.5, "other": 0.0}


def test_fold_skips_tasks_without_a_group():
    events = _app("layer.a", "")
    events[2] = dict(events[2], Properties={})
    events[3] = dict(events[3], Properties={})
    assert spans.fold(events) == {}


def test_tree_cpu_counts_reaped_children():
    before = run.tree_cpu_s(os.getpid())
    subprocess.run(
        [sys.executable, "-c", "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.5: pass"],
        check=True,
    )
    assert run.tree_cpu_s(os.getpid()) - before >= 0.4
