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


def fdiv(e: str, d: int) -> str:
    """SQL floor division of the integer expression ``e`` by ``d`` (the
    pmod form: Spark's DIV truncates toward zero, numpy's ``//`` floors)."""
    return f"((({e}) - pmod({e}, {d})) DIV {d})"


def halo_groups(tiles: DataFrame, group_px: int, before: int, after: int,
                n_rows: int, n_cols: int) -> DataFrame:
    """Route every tile to the output groups whose padded window it
    intersects, cut to that window: adds ``group_id = (gr << 32) + gc``.

    Group ``g`` (per axis) owns pixels ``[g·group_px, (g+1)·group_px)`` of
    an ``n_rows × n_cols`` raster and reads the window
    ``[g·group_px − before, (g+1)·group_px + after)``; a tile at
    ``[o, o + extent)`` goes to every in-grid ``g`` with
    ``floor((o − after) / group_px) ≤ g ≤ floor((o + extent − 1 + before)
    / group_px)``. This is the one tile→group rule of the tiled raster
    operators (convolution, resampling, buffered zonal stats).

    Each (tile, group) row carries only the tile's pixels inside the
    group's window: rows ``a0 = max(g·group_px − before − row0, 0)`` to
    ``a1 = min((g+1)·group_px + after − row0, h)`` and the same for
    columns, with ``row0``/``col0``/``h``/``w`` shifted to match (a tile
    wholly inside the window passes through as is). So a neighbour group
    receives a halo-wide strip, not the whole tile: the pixels shipped are
    about ``(1 + (before + after) / group_px)²`` times the raster (1.15×
    on a 4096² raster of 256-px groups at a 10-px halo), not the
    ``(1 + 2/k)²`` of whole tiles (8.27×). ``fill_window`` pastes the
    pieces like tiles.

    A tile outside the grid (lo > hi on either axis) fails the job rather
    than fanning out over a descending ``sequence``. Pure Catalyst;
    ``explode_outer`` because the sequences are never empty, and a plain
    explode's inferred ``size > 0`` filter would re-inline the range
    expressions below any upstream exchange.
    """
    def span(origin: str, extent: str, n: int):
        lo = fdiv(f"greatest(CAST({origin} AS BIGINT) - {after}, 0L)",
                  group_px)
        hi = fdiv(f"least(CAST({origin} AS BIGINT) + {extent} - 1 "
                  f"+ {before}, {n - 1}L)", group_px)
        return F.explode_outer(F.expr(
            f"CASE WHEN {lo} <= {hi} THEN sequence({lo}, {hi}) "
            f"ELSE raise_error(concat('halo_groups: tile {origin}=', "
            f"CAST({origin} AS STRING), ' lies outside the raster')) END"))

    def cut(g: str, origin: str, extent: str):
        """The window's [lo, hi) on one axis, in the tile's own pixels."""
        return (f"greatest({g} * {group_px} - {before} - {origin}, 0)",
                f"least(({g} + 1) * {group_px} + {after} - {origin}, "
                f"{extent})")

    (a0, a1), (b0, b1) = cut("_gr", "row0", "h"), cut("_gc", "col0", "w")
    data = F.expr(
        f"CASE WHEN {a0} = 0 AND {a1} = h AND {b0} = 0 AND {b1} = w "
        f"THEN data ELSE flatten(transform(sequence({a0}, {a1} - 1), "
        f"r -> slice(data, CAST(r * w + {b0} + 1 AS INT), "
        f"CAST({b1} - {b0} AS INT)))) END")
    return (tiles
            .withColumn("_gr", span("row0", "h", n_rows))
            .withColumn("_gc", span("col0", "w", n_cols))
            .withColumns({
                "row0": F.expr(f"CAST(row0 + {a0} AS INT)"),
                "col0": F.expr(f"CAST(col0 + {b0} AS INT)"),
                "h": F.expr(f"CAST({a1} - {a0} AS INT)"),
                "w": F.expr(f"CAST({b1} - {b0} AS INT)"),
                "data": data,
                "group_id": F.col("_gr") * F.lit(1 << 32) + F.col("_gc")})
            .drop("_gr", "_gc"))


def fill_window(pdf_tiles: pd.DataFrame, r0: int, c0: int, h: int, w: int
                ) -> np.ndarray:
    """An ``h × w`` NaN window with absolute origin ``(r0, c0)``, the
    group's tiles pasted in and clipped to it."""
    win = np.full((h, w), np.nan)
    for t in pdf_tiles.itertuples():
        th, tw = int(t.h), int(t.w)
        rr, cc = int(t.row0) - r0, int(t.col0) - c0
        a0, a1 = max(0, -rr), min(th, h - rr)
        b0, b1 = max(0, -cc), min(tw, w - cc)
        if a0 < a1 and b0 < b1:
            win[rr + a0:rr + a1, cc + b0:cc + b1] = (
                np.asarray(t.data).reshape(th, tw)[a0:a1, b0:b1])
    return win


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
