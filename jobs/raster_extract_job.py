#!/usr/bin/env python3
"""spark-submit entry point: buffered zonal extraction over a REAL GeoTIFF.

The drop-in replacement for the reference's CLI
(``python extract_raster_buffer.py -d DATA.tif -g GRID -b 700 1000 10000
-o OUT``, reference README.md:74-81): same inputs (a GeoTIFF + a point
table + buffer radii), same outputs (per-point per-buffer statistics),
executed as the distributed tile-cogroup plan.

Usage (cluster):
    zip -r ahgts.zip air_health_gis_tools_spark
    spark-submit --py-files ahgts.zip jobs/raster_extract_job.py \
        --tif /data/apg18e.tif --points /data/points_parquet \
        --buffers 700 1000 10000 --output /out/zonal

Usage (sandbox smoke — synthetic interior points over the reference
fixture raster):
    python jobs/raster_extract_job.py \
        --tif /root/reference/data/apg18e_1_0_0_20210512.tif \
        --synthetic-points 2000 --output /tmp/zonal_out

Points may carry world coordinates (``--world-coords``): they are mapped
to the raster's pixel frame through the captured affine (rowcol_of_xy),
exactly as the reference's get_coords_at_point does.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq
from pyspark.sql import SparkSession, functions as F


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tif", required=True)
    ap.add_argument("--points", help="parquet with (doc_id, x, y)")
    ap.add_argument("--synthetic-points", type=int, default=0)
    ap.add_argument("--world-coords", action="store_true",
                    help="points are in the raster CRS; invert the affine")
    ap.add_argument("--buffers", type=int, nargs="+",
                    default=[700, 1000, 10000])
    ap.add_argument("--output", required=True)
    args = ap.parse_args(argv)

    from air_health_gis_tools_spark.operators.zonal import buffered_stats_tiled
    from air_health_gis_tools_spark.session import get_spark
    from air_health_gis_tools_spark.sources.geotiff import (
        geotiff_tile_table, read_ifd)

    # on a real cluster spark-submit provides the session; builder config
    # here only fills in when run directly
    spark = SparkSession.getActiveSession() or get_spark("raster_extract")
    t0 = time.perf_counter()
    info = read_ifd(args.tif)
    xres = int(round(abs(info.transform[1]))) if info.transform else 1000

    if args.synthetic_points:
        n = args.synthetic_points
        pts = spark.range(n).select(
            F.col("id").alias("doc_id"),
            ((F.lit(16) + F.pmod(F.col("id") * 48271 + 11,
                                 F.lit(info.width - 32))) * xres
             + xres // 7).alias("x"),
            ((F.lit(16) + F.pmod(F.col("id") * 16807 + 23,
                                 F.lit(info.height - 32))) * xres
             + xres // 2).alias("y"))
    else:
        pts = spark.read.parquet(args.points)
        if args.world_coords:
            # affine inverse as columns (signed y-step handled)
            x0, xr, y0, yr = info.transform
            col = F.floor((F.col("x") - x0) / xr).cast("long")
            row = F.floor((F.col("y") - y0) / yr).cast("long")
            # re-express in the engine's positive pixel frame
            pts = pts.select("doc_id",
                             (col * xres + xres // 2).alias("x"),
                             (row * xres + xres // 2).alias("y"))

    tiles = geotiff_tile_table(
        spark, args.tif,
        n_partitions=spark.sparkContext.defaultParallelism * 4)
    out = buffered_stats_tiled(pts, tiles, args.buffers,
                               tile_px=info.tile_h, height=info.height,
                               width=info.width, xres=xres)
    out.write.mode("overwrite").parquet(args.output)
    n_out = sum(pq.read_metadata(os.path.join(args.output, f)).num_rows
                for f in os.listdir(args.output) if f.endswith(".parquet"))
    print(json.dumps({
        "tif": args.tif, "raster_px": info.width * info.height,
        "points": n_out, "buffers": args.buffers,
        "seconds": round(time.perf_counter() - t0, 2),
        "output": args.output,
    }))


if __name__ == "__main__":
    main()
