"""The CLI's session choice, decided without starting a JVM: the
active session; else the launcher's under spark-submit; else
``get_spark``'s. A bare ``builder.getOrCreate()`` outside spark-submit
starts a vanilla local session with none of ``get_spark``'s conf."""

from pyspark.sql import SparkSession

from osm_wayback_spark import cli, session


def test_cli_session_choice(monkeypatch):
    monkeypatch.setattr(SparkSession, "getActiveSession", lambda: None)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: "launcher")
    monkeypatch.setattr(session, "get_spark", lambda **kw: "get_spark")

    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert cli._session() == "get_spark"

    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "0")
    assert cli._session() == "launcher"

    monkeypatch.setattr(SparkSession, "getActiveSession", lambda: "active")
    assert cli._session() == "active"
