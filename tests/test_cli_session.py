"""The CLI's session choice, decided without starting a JVM: the
active session; else the launcher's under spark-submit; else
``get_spark``'s, with the repo root on the Python workers' PYTHONPATH.
A bare ``builder.getOrCreate()`` outside spark-submit starts a vanilla
local session with none of ``get_spark``'s conf. One subprocess run
checks that the CLI works from outside the checkout."""

import json
import os
import subprocess
import sys

from pyspark.sql import SparkSession

from osm_wayback_spark import cli, session


def test_cli_session_choice(monkeypatch):
    monkeypatch.setattr(SparkSession, "getActiveSession", lambda: None)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: "launcher")
    calls = []
    monkeypatch.setattr(
        session, "get_spark", lambda **kw: calls.append(kw) or "get_spark"
    )

    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert cli._session() == "get_spark"
    (kw,) = calls
    assert kw["extra_conf"] == {"spark.executorEnv.PYTHONPATH": cli._ROOT}

    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "0")
    assert cli._session() == "launcher"

    monkeypatch.setattr(SparkSession, "getActiveSession", lambda: "active")
    assert cli._session() == "active"
    assert len(calls) == 1


def test_cli_runs_outside_checkout(tmp_path):
    """`python <checkout>/osm_wayback_spark/cli.py` from another working
    directory, PYTHONPATH unset: the workers still import the package."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = tmp_path / "ckpt"
    proc = subprocess.run(
        [sys.executable, os.path.join(cli._ROOT, "osm_wayback_spark", "cli.py"),
         "--synth-sf", "0.001", "--out", str(out)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    report = json.loads(proc.stdout.splitlines()[-1])
    assert report["stage_tiles"]["rows"] > 0
