"""Checkpoint/resume with per-partition lineage."""

import json
import os

import pytest

from osm_wayback_spark.plans import lineage


def test_stage_checkpoint_and_resume(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(0, 100).selectExpr("id", "id * 2 AS dbl")

    out1 = lineage.run_stage(spark, root, "stage_a", build)
    assert out1.count() == 100
    assert calls["n"] == 1
    # resume: completed stage must NOT recompute
    out2 = lineage.run_stage(spark, root, "stage_a", build)
    assert out2.count() == 100
    assert calls["n"] == 1

    # one commit record: the marker carries the per-partition lineage
    # of what was written
    assert sorted(os.listdir(f"{root}/stage_a")) == ["_SUCCESS_STAGE", "data"]
    committed = lineage.stage_lineage(root, "stage_a")
    data = spark.read.parquet(f"{root}/stage_a/data")
    assert committed == sorted(tuple(r) for r in lineage.partition_metrics(data).collect())
    assert sum(rows_out for _, rows_out, _ in committed) == data.count() == 100

    # invalidated: marker removed → recompute
    lineage.invalidate(root, "stage_a")
    out3 = lineage.run_stage(spark, root, "stage_a", build)
    assert out3.count() == 100
    assert calls["n"] == 2


def test_lineage_pass_is_jvm_native(spark, plan_nodes):
    """The metrics pass must not ship stage data through Python: no
    BatchEvalPython / ArrowEvalPython / mapInPandas in its plan, and
    the checksum must be deterministic but order/content-sensitive."""
    df = spark.range(0, 1000).selectExpr(
        "id", "map('k', cast(id as string)) AS tags", "cast(id as double) AS v"
    )
    agg = lineage.partition_metrics(df)
    nodes = plan_nodes(agg)
    assert "HashAggregate" in nodes, nodes
    for python_node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert python_node not in nodes, nodes
    rows = {r.partition_id: r for r in agg.collect()}
    again = {r.partition_id: r for r in lineage.partition_metrics(df).collect()}
    assert {p: (r.rows_out, r.checksum) for p, r in rows.items()} == {
        p: (r.rows_out, r.checksum) for p, r in again.items()
    }
    assert sum(r.rows_out for r in rows.values()) == 1000
    mutated = df.withColumn("v", lineage.F.col("v") + 1)
    changed = {r.partition_id: r.checksum for r in lineage.partition_metrics(mutated).collect()}
    assert changed != {p: r.checksum for p, r in rows.items()}


def test_checksum_is_multiplicity_sensitive(spark):
    """Round-4 advice: the old bit-XOR checksum cancelled any row
    duplicated an even number of times, so swapping one duplicated
    row for another (same cardinality) was invisible. The modular-sum
    checksum must distinguish {A,A,B} from {A,B,B} (rows_out equal)."""
    a = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y")], "id long, s string"
    ).coalesce(1)
    b = spark.createDataFrame(
        [(1, "x"), (2, "y"), (2, "y")], "id long, s string"
    ).coalesce(1)
    ra = lineage.partition_metrics(a).collect()[0]
    rb = lineage.partition_metrics(b).collect()[0]
    assert ra.rows_out == rb.rows_out == 3
    assert ra.checksum != rb.checksum
    # order-insensitive: a reordering of the same multiset matches
    a2 = spark.createDataFrame(
        [(2, "y"), (1, "x"), (1, "x")], "id long, s string"
    ).coalesce(1)
    assert lineage.partition_metrics(a2).collect()[0].checksum == ra.checksum


def test_incomplete_stage_recomputed(spark, tmp_path):
    """A stage without a complete commit record is rebuilt: no marker
    (a crash mid-write), a truncated one, or one without
    ``partitions`` (an older checkpoint)."""
    marker = str(tmp_path / "ckpt2" / "s" / "_SUCCESS_STAGE")

    def no_marker():
        os.remove(marker)

    def truncated():
        with open(marker) as fh:
            text = fh.read()
        with open(marker, "w") as fh:
            fh.write(text[: len(text) // 2])

    def no_partitions():
        with open(marker) as fh:
            record = json.load(fh)
        del record["partitions"]
        with open(marker, "w") as fh:
            json.dump(record, fh)

    root = str(tmp_path / "ckpt2")
    for n, damage in enumerate((no_marker, truncated, no_partitions)):
        lineage.run_stage(spark, root, "s", lambda: spark.range(10))
        damage()
        assert not lineage.stage_complete(root, "s"), damage.__name__
        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return spark.range(20 + n)

        out = lineage.run_stage(spark, root, "s", build)
        assert out.count() == 20 + n, damage.__name__
        assert calls["n"] == 1, damage.__name__
        assert sum(r for _, r, _ in lineage.stage_lineage(root, "s")) == 20 + n
        lineage.invalidate(root, "s")
