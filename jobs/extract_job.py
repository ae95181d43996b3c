#!/usr/bin/env python3
"""spark-submit entry point for the full extraction pipeline (north_rule:
"ships as spark-submit --py-files modules").

Usage (cluster):
    zip -r ahgts.zip air_health_gis_tools_spark
    spark-submit --py-files ahgts.zip jobs/extract_job.py \
        --pages /data/pages_parquet --output /out/extract \
        --buffers 700 1000 10000

Usage (local smoke):
    python jobs/extract_job.py --synthetic-pages 2000 --output /tmp/out

The job commits three result tables, ``{output}/zonal``, ``{output}/knn``
and ``{output}/pip``, each a ``CheckpointStore`` (bucketed parquet plus a
lineage/metrics manifest, plans/lineage.py) written by ``run_stage``.
Re-running with the same --output resumes: committed buckets of every
table are kept and only the missing ones run.
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

from pyspark.sql import SparkSession


def main(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--pages", help="pages parquet path (url, warc_ts, html, text, lang)")
    p.add_argument("--synthetic-pages", type=int, default=0,
                   help="generate N deterministic fixture pages instead")
    p.add_argument("--output", required=True)
    p.add_argument("--buffers", type=int, nargs="+", default=[700, 1000, 10000])
    p.add_argument("--resume-buckets", type=int, default=8,
                   help="lineage buckets of each resumable table")
    args = p.parse_args(argv)

    # on a real cluster spark-submit provides the session; builder config
    # here only fills in when run directly
    from air_health_gis_tools_spark.session import get_spark
    spark = SparkSession.getActiveSession() or get_spark("extract_job")

    from air_health_gis_tools_spark.plans import lineage
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

    buckets = list(range(args.resume_buckets))
    rows = {}
    for table, key in (("zonal", "url"), ("knn", "doc_id"),
                       ("pip", "poly_id")):
        store = lineage.CheckpointStore(f"{args.output}/{table}")
        lineage.run_stage(
            out[table].withColumn(
                "bucket", lineage.salted_bucket(key, args.resume_buckets)),
            "bucket", store, buckets=buckets)
        done = store.done_buckets()
        rows[table] = sum(done[str(b)]["rows"] for b in buckets)

    print(json.dumps({"rows": rows,
                      "seconds": round(time.perf_counter() - t0, 2),
                      "plan": out["plan"].strategy,
                      "output": args.output}))


if __name__ == "__main__":
    main()
