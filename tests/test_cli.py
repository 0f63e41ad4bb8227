"""The staged CLI walks the whole stage table: one JSON report line
whose per-stage row counts match the stage tables; the tile table is
the pipeline's tiles; a re-run resumes every stage, ``--no-resume``
rebuilds them, and a rebuilt first stage rebuilds the rest."""

import json
import os
from pathlib import Path

from osm_wayback_spark import cli, pipeline
from osm_wayback_spark.operators.tiles import assign_tiles
from osm_wayback_spark.synth import synth_pages


def _run(capsys, argv: list[str]) -> dict:
    assert cli.main(argv) == 0
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1, lines
    return json.loads(lines[0])


def _markers(out: str) -> dict[str, str | None]:
    markers = {}
    for stage in pipeline.STAGES:
        path = Path(out, stage, "_SUCCESS_STAGE")
        markers[stage] = path.read_text() if path.exists() else None
    return markers


def test_cli_report_resume_and_no_resume(spark, tmp_path, capsys):
    out = str(tmp_path / "ckpt")
    argv = ["--synth-sf", "0.001", "--out", out]

    report = _run(capsys, argv)
    assert pipeline.STAGES == ("versions", "history_geom", "versions_out", "tiles")
    for stage in pipeline.STAGES:
        rows = spark.read.parquet(f"{out}/{stage}/data").count()
        assert report[f"stage_{stage}"] == {"rows": rows}, stage
    assert report["stage_tiles"]["rows"] > 0

    # the tile stage is the pipeline's tile table, partitioned by (z, x)
    assert os.path.isdir(f"{out}/tiles/data/z=15")
    cols = ["z", "x", "y", "element_type", "id", "feature_json"]
    got = spark.read.parquet(f"{out}/tiles/data").select(*cols).collect()
    want = assign_tiles(
        pipeline.reconstruction_pipeline(synth_pages(spark, 0.001))
    ).select(*cols).collect()
    spark.catalog.clearCache()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    first = _markers(out)
    assert None not in first.values()
    resumed = _run(capsys, argv)
    assert _markers(out) == first
    for stage in pipeline.STAGES:
        key = f"stage_{stage}"
        assert resumed[key] == report[key], stage

    _run(capsys, argv + ["--no-resume"])
    rewritten = _markers(out)
    for stage in pipeline.STAGES:
        assert rewritten[stage] != first[stage], stage

    # a rebuilt first stage makes every later stage stale, also one the
    # walk does not reach: staged_pipeline stops before tiles, and the
    # next full walk rebuilds tiles alone
    os.remove(f"{out}/versions/_SUCCESS_STAGE")
    pipeline.staged_pipeline(spark, synth_pages(spark, 0.001), out)
    staged = _markers(out)
    assert staged["tiles"] is None
    for stage in ("versions", "history_geom", "versions_out"):
        assert staged[stage] != rewritten[stage], stage
    final = _run(capsys, argv)
    after = _markers(out)
    assert after["tiles"] is not None
    for stage in ("versions", "history_geom", "versions_out"):
        assert after[stage] == staged[stage], stage
    for stage in pipeline.STAGES:
        assert final[f"stage_{stage}"] == report[f"stage_{stage}"], stage


def test_cli_empty_crawl(spark, tmp_path, capsys):
    """An empty pages table runs every stage, the directory-partitioned
    tile stage included, and reports zero rows for each."""
    pages = str(tmp_path / "pages")
    synth_pages(spark, 0.001).limit(0).write.parquet(pages)
    out = str(tmp_path / "ckpt")

    report = _run(capsys, ["--pages", pages, "--out", out])
    for stage in pipeline.STAGES:
        assert report[f"stage_{stage}"] == {"rows": 0}, stage
    # a resume reads every empty stage back from its marker's schema
    first = _markers(out)
    resumed = _run(capsys, ["--pages", pages, "--out", out])
    assert _markers(out) == first
    for stage in pipeline.STAGES:
        assert resumed[f"stage_{stage}"] == {"rows": 0}, stage
