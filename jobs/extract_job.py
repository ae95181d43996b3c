#!/usr/bin/env python3
"""spark-submit entry point for the full extraction pipeline (north_rule:
"ships as spark-submit --py-files modules").

Usage (cluster):
    zip -r ahgts.zip air_health_gis_tools_spark
    spark-submit --py-files ahgts.zip jobs/extract_job.py \
        --pages /data/pages_parquet --output /out/extract \
        --checkpoint /out/ckpt --buffers 700 1000 10000

Usage (sandbox smoke):
    python jobs/extract_job.py --synthetic-pages 2000 --output /tmp/out \
        --checkpoint /tmp/ckpt

The job writes three result tables (zonal, knn, pip) plus a lineage/metrics
manifest; re-running with the same --checkpoint resumes unfinished buckets.
The pages are scanned, geocoded and cell-encoded once per run: all three
tables read one local checkpoint of the point side (plans/pipeline.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--pages", help="pages parquet path (url, warc_ts, html, text, lang)")
    p.add_argument("--synthetic-pages", type=int, default=0,
                   help="generate N deterministic fixture pages instead")
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--buffers", type=int, nargs="+", default=[700, 1000, 10000])
    p.add_argument("--resume-buckets", type=int, default=8,
                   help="lineage buckets for the resumable zonal stage")
    args = p.parse_args(argv)

    # on a real cluster spark-submit provides the session; builder config
    # here only fills in when run directly
    from air_health_gis_tools_spark.session import get_spark
    spark = SparkSession.getActiveSession() or get_spark("extract_job")

    from air_health_gis_tools_spark.plans.lineage import (CheckpointStore,
                                                          run_stage)
    from air_health_gis_tools_spark.plans.pipeline import extract_pipeline
    from air_health_gis_tools_spark.plans.queries import (monitors_df,
                                                          polys_df)
    from air_health_gis_tools_spark.sources.pages import synthetic_pages

    if args.synthetic_pages:
        pages = synthetic_pages(spark, args.synthetic_pages)
    elif args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        p.error("one of --pages / --synthetic-pages is required")

    t0 = time.perf_counter()
    out = extract_pipeline(pages, monitors_df(spark), polys_df(spark),
                           buffers_m=args.buffers)

    store = CheckpointStore(args.checkpoint)
    zonal = out["zonal"].withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(args.resume_buckets)))
    run_stage(zonal, "bucket", store,
              buckets=list(range(args.resume_buckets)))

    out["knn"].write.mode("overwrite").parquet(f"{args.output}/knn")
    out["pip"].write.mode("overwrite").parquet(f"{args.output}/pip")

    done = store.done_buckets()
    n = sum(done[str(b)]["rows"] for b in range(args.resume_buckets))
    print(json.dumps({"rows": n,
                      "seconds": round(time.perf_counter() - t0, 2),
                      "plan": out["plan"].strategy,
                      "output": args.output}))


if __name__ == "__main__":
    main()
