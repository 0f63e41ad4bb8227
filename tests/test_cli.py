"""The staged CLI: one JSON report line whose per-stage row counts
match the stage tables; a re-run resumes every stage, and
``--no-resume`` recomputes them."""

import json

from osm_wayback_spark import cli, pipeline


def _run(capsys, argv: list[str]) -> dict:
    assert cli.main(argv) == 0
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1, lines
    return json.loads(lines[0])


def _markers(out: str) -> dict[str, str]:
    markers = {}
    for stage in pipeline.STAGES:
        with open(f"{out}/{stage}/_SUCCESS_STAGE") as fh:
            markers[stage] = fh.read()
    return markers


def test_cli_report_resume_and_no_resume(spark, tmp_path, capsys):
    out = str(tmp_path / "ckpt")
    tiles = str(tmp_path / "tiles")
    argv = ["--synth-sf", "0.001", "--out", out, "--tiles", tiles]

    report = _run(capsys, argv)
    for stage in pipeline.STAGES:
        rows = spark.read.parquet(f"{out}/{stage}/data").count()
        assert report[f"stage_{stage}"] == {"rows": rows}, stage
    assert report["versions_out_rows"] == report["stage_versions_out"]["rows"]
    assert report["tiles_rows"] == spark.read.parquet(tiles).count() > 0

    first = _markers(out)
    resumed = _run(capsys, argv)
    assert _markers(out) == first
    for stage in pipeline.STAGES:
        key = f"stage_{stage}"
        assert resumed[key] == report[key], stage

    _run(capsys, argv + ["--no-resume"])
    rewritten = _markers(out)
    for stage in pipeline.STAGES:
        assert rewritten[stage] != first[stage], stage
