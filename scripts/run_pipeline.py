"""Cluster entrypoint (north_rule deployment shape):

    python -m zipfile -c geospatialtools_spark.zip geospatialtools_spark
    spark-submit --driver-memory 16g \
        --py-files geospatialtools_spark.zip scripts/run_pipeline.py \
        --ckpt /path/checkpoints [--nx 128 --ny 128 --tile 64]

(--driver-memory matters in local mode: executors share the driver JVM, and
the iterative operators localCheckpoint per round — the 1 GB default dies
around 512^2.)

Runs the full resumable terrain pipeline on the deterministic fixture DEM
(stand-in for a real DEM cell table; swap ``make_inputs`` for
``sources.raster_io.read_raster`` in production). Safe to kill and re-run:
committed stages resume from their parquet+manifest snapshots.
"""

from __future__ import annotations

import argparse
import json
import sys


def make_inputs(spark, nx: int, ny: int, tile: int):
    import numpy as np

    from geospatialtools_spark import fixtures
    from geospatialtools_spark.grid import cells_df
    meta, dem, mask = fixtures.make_dem(nx=nx, ny=ny, tile=tile)
    cov = fixtures.make_covariates(meta, dem, mask)
    cells = cells_df(spark, meta,
                     dem=dem.astype(np.float64), mask=mask.astype(np.int64),
                     tas=cov["tas"].astype(np.float64),
                     prec=cov["prec"].astype(np.float64))
    return meta, cells


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ckpt", required=True)
    ap.add_argument("--nx", type=int, default=64)
    ap.add_argument("--ny", type=int, default=64)
    ap.add_argument("--tile", type=int, default=32)
    args = ap.parse_args()

    import os

    from pyspark.sql import SparkSession

    from geospatialtools_spark.pipeline import PipelineConfig, run_terrain_pipeline
    cores = os.cpu_count() or 8
    spark = (SparkSession.builder.appName("geospatialtools-pipeline")
             # at cluster scale: ~2-3x total executor cores; AQE coalesces
             .config("spark.sql.shuffle.partitions", str(2 * cores))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.showConsoleProgress", "false")
             # the only reclaim of dead per-round checkpoint blocks between
             # stages (a commit forces no GC) — see session.py: without it
             # the ContextCleaner never runs and late stages degrade
             .config("spark.cleaner.periodicGC.interval", "1min")
             .getOrCreate())
    meta, cells = make_inputs(spark, args.nx, args.ny, args.tile)
    out = run_terrain_pipeline(spark, cells, meta, PipelineConfig(), args.ckpt)
    summary = {name: df.count() for name, df in out.items() if name != "_metrics"}
    print(json.dumps({"stages": out["_metrics"], "rows": summary}, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
