"""spark-submit entry point (north rule: "run via spark-submit
--py-files on multi-executor clusters").

    zip -r osm_wayback_spark.zip osm_wayback_spark/
    spark-submit --py-files osm_wayback_spark.zip \
        osm_wayback_spark/cli.py \
        --pages /path/to/pages_parquet \
        --out /path/to/checkpoints [--zoom 15] [--no-resume]

Runs the staged, resumable pipeline (pages → versions → history_geom
→ versions_out → tiles), each stage under <out>/<stage>/data with its
commit record (per-partition lineage included) in
<out>/<stage>/_SUCCESS_STAGE; the tile table is <out>/tiles/data,
partitioned by (z, x). A re-run skips completed stages; --no-resume
rebuilds all of them. Prints one JSON line with the rows of every
stage, summed from its commit record (no Spark job).

The session is the active one, else the launcher's when spark-submit
started the process, else ``session.get_spark``'s local one, whose
Python workers get the repo root on their PYTHONPATH.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# allow `python osm_wayback_spark/cli.py` / `spark-submit cli.py`
# without an installed package: the repo root is one level up
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def _session():
    """PYSPARK_GATEWAY_PORT is pyspark's test for a launcher's JVM;
    without one, ``builder.getOrCreate()`` starts a vanilla session."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        return spark
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return SparkSession.builder.getOrCreate()
    from osm_wayback_spark.session import get_spark

    # the Python workers import the package too; run from another
    # working directory they would not find it without the repo root
    return get_spark(
        app_name="osm-wayback-spark",
        extra_conf={"spark.executorEnv.PYTHONPATH": _ROOT},
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--pages", required=False, help="pages parquet path; "
                   "omit to synthesize --synth-sf pages")
    p.add_argument("--synth-sf", type=float, default=0.01)
    p.add_argument("--out", required=True, help="checkpoint root")
    p.add_argument("--zoom", type=int, default=15)
    p.add_argument("--no-resume", action="store_true",
                   help="rebuild every stage")
    args = p.parse_args(argv)

    spark = _session()

    from osm_wayback_spark import pipeline
    from osm_wayback_spark.plans import lineage

    if args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        from osm_wayback_spark.synth import synth_pages

        pages = synth_pages(spark, args.synth_sf)

    t0 = time.time()
    pipeline.walk(pages, root=args.out, force=args.no_resume, zoom=args.zoom)
    stats = {"wall_s": round(time.time() - t0, 2)}
    for stage in pipeline.STAGES:
        rows = sum(r for _, r, _ in lineage.stage_lineage(args.out, stage))
        stats[f"stage_{stage}"] = {"rows": rows}

    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
