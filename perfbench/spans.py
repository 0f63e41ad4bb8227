"""Spans around layer calls, and the fold of Spark's event log into
per-layer totals.

A span names one layer call; while it is open the Spark job group is
the span's name, so every stage and task Spark runs for it carries
that name in the event log. ``fold`` then sums the task-end metrics
and SQL accumulables per job group.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time

_MB = 1e6
_PY_TIME = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    """Spans kept in memory; ``dump`` writes them out at the end."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[str] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        self._open.append(name)
        self.sc.setJobGroup(name, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(self._open[-1], self._open[-1])
            else:
                self.sc.setJobGroup("", "")
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent,
                 "run_id": self.run_id}
            )

    def wall(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id") or None


def read_events(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def fold(events: list[dict]) -> dict[str, dict]:
    """Event-log records → {job group: totals}. ``events`` may hold
    several applications' logs one after another; stage and SQL
    execution ids are kept apart per application.

    Totals per group: tasks, task_s (executor run time), cpu_s, gc_s,
    shuffle_read_mb, shuffle_write_mb, spill_mb (disk), python_s,
    python_mb, task_skew (max/median run time of the group's heaviest
    stage) and, per SQL execution kind, ``exec_s`` walls keyed
    ``checksum`` (plans hashing rows with xxhash64), ``write`` (file
    writes) and ``other``."""
    app = 0
    keyed = []  # (application index, event)
    for ev in events:
        if ev.get("Event") == "SparkListenerLogStart":
            app += 1
        keyed.append((app, ev))

    stage_group: dict[tuple, str] = {}
    exec_group: dict[tuple, str] = {}
    for app, ev in keyed:
        kind = ev.get("Event") or ""
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = _group(props)
            if g is None:
                continue
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault((app, sid), g)
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_group.setdefault((app, int(eid)), g)
        elif kind == "SparkListenerStageSubmitted":
            g = _group(ev.get("Properties"))
            if g is not None:
                stage_group[(app, ev["Stage Info"]["Stage ID"])] = g

    totals: dict[str, dict] = {}
    stage_times: dict[tuple, list[float]] = {}

    def tot(g: str) -> dict:
        return totals.setdefault(
            g,
            {"tasks": 0, "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
             "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
             "python_s": 0.0, "python_mb": 0.0, "task_skew": 1.0,
             "exec_s": {"checksum": 0.0, "write": 0.0, "other": 0.0}},
        )

    exec_start: dict[tuple, tuple[float, str]] = {}
    for app, ev in keyed:
        kind = ev.get("Event") or ""
        if kind == "SparkListenerTaskEnd":
            sid = (app, ev.get("Stage ID"))
            g = stage_group.get(sid)
            m = ev.get("Task Metrics") or {}
            if g is None or not m:
                continue
            t = tot(g)
            run_ms = _num(m.get("Executor Run Time"))
            t["tasks"] += 1
            t["task_s"] += run_ms / 1000
            t["cpu_s"] += _num(m.get("Executor CPU Time")) / 1e9
            t["gc_s"] += _num(m.get("JVM GC Time")) / 1000
            rd = m.get("Shuffle Read Metrics") or {}
            t["shuffle_read_mb"] += (
                _num(rd.get("Remote Bytes Read")) + _num(rd.get("Local Bytes Read"))
            ) / _MB
            wr = m.get("Shuffle Write Metrics") or {}
            t["shuffle_write_mb"] += _num(wr.get("Shuffle Bytes Written")) / _MB
            t["spill_mb"] += _num(m.get("Disk Bytes Spilled")) / _MB
            for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
                name = acc.get("Name")
                if name == _PY_TIME:
                    t["python_s"] += _num(acc.get("Update")) / 1000
                elif name in _PY_BYTES:
                    t["python_mb"] += _num(acc.get("Update")) / _MB
            stage_times.setdefault(sid, []).append(run_ms)
        elif kind.endswith("SQLExecutionStart"):
            plan = ev.get("physicalPlanDescription") or ""
            exec_start[(app, ev["executionId"])] = (ev["time"], plan)
        elif kind.endswith("SQLExecutionEnd"):
            eid = (app, ev["executionId"])
            g = exec_group.get(eid)
            if g is None or eid not in exec_start:
                continue
            start, plan = exec_start[eid]
            label = (
                "checksum" if "xxhash64" in plan
                else "write" if "InsertIntoHadoopFsRelationCommand" in plan
                else "other"
            )
            tot(g)["exec_s"][label] += (ev["time"] - start) / 1000

    heaviest: dict[str, tuple[float, float]] = {}
    for sid, times in stage_times.items():
        g = stage_group[sid]
        load = sum(times)
        med = statistics.median(times)
        skew = max(times) / med if med > 0 else 1.0
        if load > heaviest.get(g, (-1.0, 1.0))[0]:
            heaviest[g] = (load, skew)
    for g, (_load, skew) in heaviest.items():
        totals[g]["task_skew"] = skew
    return totals
