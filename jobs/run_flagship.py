#!/usr/bin/env python
"""Cluster entrypoint for the flagship spatial-join + tiling job.

Submit (the north-rule deployment shape):

    cd /root/repo && zip -r /tmp/gdal_spark.zip gdal_spark
    spark-submit --py-files /tmp/gdal_spark.zip \
        jobs/run_flagship.py --sf-dir /root/testdata/sf0.1 \
        --snapshots /tmp/flagship_snapshots

On a real cluster drop `--master local[...]` in favor of the cluster
manager; every stage commits a resumable snapshot with per-partition
lineage + metrics (gdal_spark/pipeline/checkpoint.py), so re-submitting
after a failure resumes from the last complete stage. Each input
directory and zoom range gets its own store under `--snapshots`: a
resume checks that the files a stage read are unchanged, not that the
job now reads the same files.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--snapshots", default="/tmp/flagship_snapshots")
    ap.add_argument("--zoom", type=int, default=12)
    ap.add_argument("--min-zoom", type=int, default=6)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from gdal_spark.operators import spatial_join as sj
    from gdal_spark.operators import tiling
    from gdal_spark.pipeline.checkpoint import SnapshotStore
    from gdal_spark.queries import points_df

    spark = SparkSession.builder.appName("gdal_spark_flagship").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    source = os.path.abspath(args.sf_dir).strip("/").replace("/", "_")
    store = SnapshotStore(os.path.join(
        args.snapshots, f"{source}_z{args.zoom}-{args.min_zoom}"))
    t0 = time.monotonic()

    geocoded = store.run_stage(
        spark, "geocoded", lambda: points_df(spark, args.sf_dir))
    hits = store.run_stage(
        spark, "pip_hits",
        lambda: sj.pip_join(geocoded, spark, point_fid="pt_id")
        .select("pt_id", "zone_fid"),
        partition_by="zone_fid", inputs=["geocoded"])
    store.run_stage(
        spark, "zone_counts",
        lambda: hits.groupBy("zone_fid").agg(F.count("*").alias("n_pages")),
        inputs=["pip_hits"])
    store.run_stage(
        spark, "tile_pyramid",
        lambda: tiling.pyramid(
            tiling.tile_counts(geocoded, args.zoom), min_zoom=args.min_zoom),
        partition_by="z", inputs=["geocoded"])

    print(json.dumps({
        "wall_sec": round(time.monotonic() - t0, 2),
        "lineage": store.lineage("tile_pyramid") + store.lineage("zone_counts"),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
