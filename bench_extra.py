#!/usr/bin/env python3
"""Extra measurement harness for the optimization rounds (guide §1).

NOT part of the frozen driver contract (bench.py is the timed surface).
It times each headline query in isolation through the noop sink
(guide §1.4) with min-of-N reps. Physical plans of the registry's
headline queries come from ``tools/plan_report.py`` (BENCH/PLANS.md).

Usage:
  python bench_extra.py [reps] [only]   # noop-isolated timings JSON
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np
from pyspark.sql import functions as F

from air_health_gis_tools_spark import geo_synth as G
from air_health_gis_tools_spark.functions.cells import hex_cell_expr
from air_health_gis_tools_spark.operators.knn import knn_broadcast_np
from air_health_gis_tools_spark.operators.pip import (pip_circle_counts,
                                                      radius_count_np)
from air_health_gis_tools_spark.operators.zonal import (buffered_stats,
                                                        buffered_stats_tiled)
from air_health_gis_tools_spark.plans import queries as Q
from air_health_gis_tools_spark.session import DEFAULT_CPUS, get_spark
from air_health_gis_tools_spark.sources.raster import synthetic_tile_table
from bench import bench_points

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def build_queries(spark):
    """Same ten headline DataFrames bench.py times (same inputs, same
    operating points), exposed as lazy DataFrame builders."""
    pts = bench_points(spark)
    mids = np.arange(G.N_MONITORS, dtype=np.int64)
    mxs, mys = G.monitor_xy_np(mids)
    tiles = synthetic_tile_table(spark, tile_px=256).cache()
    tiles.count()
    n_polys = int(os.environ.get("SPARK_GRAFT_PIP_POLYS", "500"))
    from air_health_gis_tools_spark.functions.html_text import html_to_text_udf
    from air_health_gis_tools_spark.sources.warc import (ensure_pages_warc,
                                                         read_warc)
    warc_paths = ensure_pages_warc("/tmp/spark_graft_warc_bench", 16384, 32)
    xb, yb = G.point_xy_sql("(doc_id DIV 1)", "spark")
    pts_roll = pts.select("doc_id", F.expr(xb).alias("x"),
                          F.expr(yb).alias("y"))
    return {
        "q01_zonal_600k": lambda: buffered_stats(pts, list(G.BUFFERS_M)),
        "q06_knn_600k": lambda: knn_broadcast_np(
            pts, (mxs, mys, mids), G.KNN_BOUND_M),
        "q07_pip_600k": lambda: pip_circle_counts(
            pts, Q.polys_df(spark, n_polys)),
        "q09_radius_600k": lambda: radius_count_np(pts, (mxs, mys), 25_000),
        "q01_zonal_tiled_600k": lambda: buffered_stats_tiled(
            pts, tiles, list(G.BUFFERS_M), 256),
        "q21_hex_rollup_600k": lambda: (
            pts_roll.withColumn("c", hex_cell_expr(7))
            .groupBy("c").count()),
        "q55_warc_extract_16k": lambda: (
            read_warc(spark, warc_paths, responses_only=True)
            .select(html_to_text_udf(F.col("html")).alias("t"))
            .agg(F.sum(F.length("t")))),
        "q16_minhash_docs": lambda: Q.q16_minhash(spark, SF_DIR),
        "q18_cosine_topk": lambda: Q.q18_cosine_topk(spark, SF_DIR),
        "q01_docs_table": lambda: Q.q01_buffered_stats(spark, SF_DIR),
    }


def main():
    # the host's CPUs (SPARK_GRAFT_CPUS overrides), not a fixed count
    spark = get_spark("bench_extra", shuffle_partitions=DEFAULT_CPUS)
    qs = build_queries(spark)
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    timings = {}
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        spark.sparkContext.setJobDescription(name)
        # noop sink: computes every column, no collect cost (guide §1.4)
        fn().write.format("noop").mode("overwrite").save()   # warmup
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"noop_min_of": reps, "queries": timings,
                      "total": round(sum(timings.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
