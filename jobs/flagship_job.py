#!/usr/bin/env python
"""spark-submit entry point for the flagship geospatial pipeline.

Usage (north_rule packaging: ``spark-submit --py-files``):

    python scripts/make_pyfiles.py                      # build dist/emsort_spark.zip
    spark-submit --master local[32] \
        --py-files dist/emsort_spark.zip \
        jobs/flagship_job.py --pages 2000000 \
        --checkpoint /tmp/flagship-ckpt --json-out metrics.json

On a real cluster, swap --master and point --input at the Iceberg /
parquet table of web pages (columns url, warc_ts, html, text, lang +
lat/lon or a geocoder stage); everything else is unchanged.  The job is
resumable: re-running with the same --checkpoint replays committed
per-partition runs (fingerprint-verified) instead of re-sorting.

The encoded input and the sorted output are held as local checkpoints,
which have no lineage: if an executor is lost after they are built (or
removed by dynamic allocation), the job fails instead of recomputing
the lost blocks.  On a cluster, pass --checkpoint so that a rerun
replays the sort's committed runs.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="parquet path of pages table")
    ap.add_argument("--pages", type=int, default=100_000, help="synthesize N pages")
    ap.add_argument("--scenario", default="geo_uniform")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--cell-res", type=int, default=12)
    ap.add_argument("--tile-zoom", type=int, default=6)
    ap.add_argument(
        "--checkpoint",
        default=None,
        help="directory of committed sort runs; a rerun replays them (use on "
        "a cluster: a lost executor fails the job, which does not recompute)",
    )
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("emsort-flagship").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from external_merge_sort_loser_tree_ovc_spark.plans.pipeline import flagship_pipeline
    from external_merge_sort_loser_tree_ovc_spark.sources.pages import synth_pages

    if args.input:
        pages = spark.read.parquet(args.input)
    else:
        pages = synth_pages(spark, args.pages, scenario=args.scenario)

    metrics = flagship_pipeline(
        spark,
        pages,
        cell_res=args.cell_res,
        tile_zoom=args.tile_zoom,
        num_partitions=args.partitions,
        checkpoint_dir=args.checkpoint,
    )
    doc = json.dumps(metrics)
    print(doc)
    if args.json_out:
        with open(args.json_out, "w") as f:
            f.write(doc + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
