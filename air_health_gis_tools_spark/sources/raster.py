"""Raster sources: functional raster, broadcast ndarray, parquet tile table.

The reference reads whole GeoTIFFs into one resident ndarray
(extract_raster_buffer.py:150-172, ~3.9 GB at 100 M px, README.md:88-92).
Our scale-path representation is a *tile table*:

    (tile_id:long, row0:int, col0:int, h:int, w:int, data:array<double>)

tile_id = (row0/tile_px) * 2^32 + (col0/tile_px). Tiles are what a COG reader
would emit from ``spark.read.format("binaryFile")`` + windowed decode in
``mapInArrow``; here they are generated deterministically from the synthetic
raster formula (geo_synth.raster_value_np) so tests need no GDAL.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, types as T

from ..geo_synth import RASTER_H, RASTER_W, raster_value_np

TILE_SCHEMA = T.StructType([
    T.StructField("tile_id", T.LongType(), False),
    T.StructField("row0", T.IntegerType(), False),
    T.StructField("col0", T.IntegerType(), False),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("data", T.ArrayType(T.DoubleType()), False),
])


def tile_id_of(trow: int, tcol: int) -> int:
    return trow * (1 << 32) + tcol


def synthetic_tile_table(spark: SparkSession, tile_px: int = 256,
                         height: int = RASTER_H, width: int = RASTER_W,
                         ) -> DataFrame:
    """Distributed generation: one row per tile, pixel decode inside an Arrow
    kernel on executors (never materialized on the driver)."""
    ntr = (height + tile_px - 1) // tile_px
    ntc = (width + tile_px - 1) // tile_px
    idx = spark.range(ntr * ntc).select(
        (F.col("id") / ntc).cast("int").alias("trow"),
        (F.col("id") % ntc).cast("int").alias("tcol"))

    def _gen(batches):
        for pdf in batches:
            rows = []
            for trow, tcol in zip(pdf["trow"], pdf["tcol"]):
                r0 = int(trow) * tile_px
                c0 = int(tcol) * tile_px
                h = min(tile_px, height - r0)
                w = min(tile_px, width - c0)
                rr, cc = np.meshgrid(np.arange(r0, r0 + h),
                                     np.arange(c0, c0 + w), indexing="ij")
                data = raster_value_np(rr, cc).ravel()
                rows.append((tile_id_of(int(trow), int(tcol)),
                             r0, c0, h, w, data))
            yield pd.DataFrame(rows, columns=[f.name for f in TILE_SCHEMA])

    return idx.mapInPandas(_gen, TILE_SCHEMA)


def tile_table_from_array(spark: SparkSession, arr: np.ndarray,
                          tile_px: int = 256) -> DataFrame:
    """Tile table from an in-memory ndarray (tests / small rasters).
    NaN = nodata, as everywhere else."""
    h, w = arr.shape
    rows = []
    for tr in range((h + tile_px - 1) // tile_px):
        for tc in range((w + tile_px - 1) // tile_px):
            r0, c0 = tr * tile_px, tc * tile_px
            blk = arr[r0:min(r0 + tile_px, h), c0:min(c0 + tile_px, w)]
            rows.append((tile_id_of(tr, tc), r0, c0,
                         blk.shape[0], blk.shape[1],
                         [float(v) for v in blk.ravel()]))
    return spark.createDataFrame(rows, TILE_SCHEMA)


# largest raster (pixels) tile_table_to_array assembles on the driver
MAX_PX = 256_000_000


def tile_table_to_array(tiles: DataFrame) -> np.ndarray:
    """Assemble a tile table into one dense ndarray (inverse of
    ``tile_table_from_array``). Driver-side by design — only valid in the
    planner's *broadcast* regime where the raster fits one executor; the
    ``MAX_PX`` guard refuses anything larger so a mis-routed 100 TB tile
    table fails fast instead of OOMing the driver."""
    rows = tiles.select("row0", "col0", "h", "w", "data").collect()
    if not rows:
        return np.full((0, 0), np.nan)
    height = max(int(r["row0"]) + int(r["h"]) for r in rows)
    width = max(int(r["col0"]) + int(r["w"]) for r in rows)
    if height * width > MAX_PX:
        raise ValueError(
            f"tile table is {height}x{width} px > max_px={MAX_PX}; "
            "use the tiled/convolve_all strategy for rasters this large")
    arr = np.full((height, width), np.nan)
    for r in rows:
        arr[int(r["row0"]):int(r["row0"]) + int(r["h"]),
            int(r["col0"]):int(r["col0"]) + int(r["w"])] = (
            np.asarray(r["data"], dtype=np.float64)
            .reshape(int(r["h"]), int(r["w"])))
    return arr


def materialize_raster(height: int, width: int) -> np.ndarray:
    """Driver-side dense ndarray of the synthetic raster (test oracle /
    broadcast-raster path)."""
    rr, cc = np.meshgrid(np.arange(height), np.arange(width), indexing="ij")
    return raster_value_np(rr, cc)
