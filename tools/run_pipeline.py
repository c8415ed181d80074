"""Checkpointed end-to-end pipeline, runnable via spark-submit --py-files.

The north rule's operational shape (BASELINE.json): every stage
checkpoints with per-partition lineage + metrics so runs resume mid-job,
and the whole pipeline ships as ``spark-submit --py-files zen3geo_spark.zip
tools/run_pipeline.py``.

    spark-submit --master 'local[8]' --py-files /path/zen3geo_spark.zip \
        tools/run_pipeline.py --pages synth:100000 --out /tmp/z3s_ckpt

Stages (each a resumable CheckpointRunner stage):
  1. extract  — pages → (point_id, lat_us, lon_us) via the Arrow UDF path
  2. cells    — cell-encode at --res, partitioned by the res-2 parent
  3. pip      — salted PIP join vs the fixture polygons
  4. rollup   — per-res-6-cell page counts

Re-running with the same inputs skips completed stages (manifest
fingerprint match); changing --pages/--res reruns exactly the stages
whose input fingerprint changed.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser()
    p.add_argument("--pages", required=True,
                   help="parquet dir of pages, or synth:<n>")
    p.add_argument("--out", required=True, help="checkpoint root dir")
    p.add_argument("--res", type=int, default=12)
    p.add_argument("--salt", type=int, default=8)
    return p


def run(spark, pages_arg: str, out: str, res: int = 12, salt: int = 8) -> dict:
    from pyspark.sql import functions as F

    from zen3geo_spark.functions.geo import (
        cell_encode, cell_parent, extract_points_arrow,
    )
    from zen3geo_spark.operators.spatial_join import points_in_polygons
    from zen3geo_spark.plans.checkpoint import CheckpointRunner
    from zen3geo_spark.sources.fixtures import GEOM_SCHEMA, with_bbox
    from zen3geo_spark.sources.pages import synth_pages

    # micro-degree fixture polygons (same pair the driver contract uses)
    triangle = [(0, 0), (20_000_000, 0), (10_000_000, 15_000_000)]
    notched = [(-30_000_000, -10_000_000), (-10_000_000, -10_000_000),
               (-10_000_000, 10_000_000), (-20_000_000, 0),
               (-30_000_000, 10_000_000)]
    rows = [(gid, "polygon", [[{"x": float(x), "y": float(y)} for x, y in ring]],
             "OGC:CRS84") for gid, ring in ((0, triangle), (1, notched))]
    polys = with_bbox(spark.createDataFrame(rows, GEOM_SCHEMA)).select(
        "geom_id", "geom_type", "parts", "crs",
        F.col("minx").cast("long").alias("minx_us"),
        F.col("miny").cast("long").alias("miny_us"),
        F.col("maxx").cast("long").alias("maxx_us"),
        F.col("maxy").cast("long").alias("maxy_us"),
    )

    if pages_arg.startswith("synth:"):
        n = int(pages_arg.split(":", 1)[1])
        pages = synth_pages(spark, n, partitions=spark.sparkContext.defaultParallelism)
        fp_base = f"synth:{n}"
    else:
        pages = spark.read.parquet(pages_arg)
        fp_base = pages_arg

    runner = CheckpointRunner(spark, out)

    extracted = runner.stage(
        "extract", f"{fp_base}", lambda: extract_points_arrow(pages))

    cells = runner.stage(
        "cells", f"{fp_base}|res={res}",
        lambda: extracted.withColumn(
            "cell", cell_encode(F.col("lat_us"), F.col("lon_us"), res),
        ).withColumn("cell2", cell_parent(F.col("cell"), res, 2)),
        partition_col="cell2",
    )

    pip = runner.stage(
        "pip", f"{fp_base}|salt={salt}",
        lambda: points_in_polygons(extracted, polys, res=4, salt_factor=salt))

    rollup = runner.stage(
        "rollup", f"{fp_base}|res={res}",
        lambda: cells.groupBy(
            cell_parent(F.col("cell"), res, 6).alias("cell6")
        ).agg(F.count("*").alias("n_pages")))

    return {
        "extracted": extracted.count(),
        "pip_pairs": pip.count(),
        "rollup_cells": rollup.count(),
        "stages": {s: runner.metrics(s).get("wall_ms")
                   for s in ("extract", "cells", "pip", "rollup")},
    }


def main() -> None:
    from pyspark.sql import SparkSession

    args = build_parser().parse_args()
    # spark-submit provides master/conf; fall back for direct invocation
    spark = SparkSession.builder.appName("zen3geo_pipeline").getOrCreate()
    out = run(spark, args.pages, args.out, args.res, args.salt)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    import os
    # direct invocation from a checkout: make the package importable
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    main()
