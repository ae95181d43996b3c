"""Raster sources: functional raster, broadcast ndarray, parquet tile table.

The reference reads whole GeoTIFFs into one resident ndarray
(extract_raster_buffer.py:150-172, ~3.9 GB at 100 M px, README.md:88-92).
Our scale-path representation is a *tile table*:

    (tile_id:long, row0:int, col0:int, h:int, w:int, data:array<double>)

tile_id = pack_key(row0/tile_px, col0/tile_px). This module alone scans
(``scan_tiles``, as a COG reader would: each task decodes only its own
blocks), packs (``tile_row``) and decodes (``tile_array``) tile rows.

The tiled raster operators read the raster as the reference does, one
resident window at a time, through one of two window passes here:
``map_windows`` (tile → tile) and ``map_point_windows`` (point → row:
home group, hot-group salting, cogroup). ``halo_groups`` routes the tiles
and ``fill_window`` pastes them. Keys pack and floor by the rules of
``functions/cells``; only this module unpacks one.
"""

from __future__ import annotations

from contextlib import nullcontext
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F, types as T

from ..functions.cells import fdiv, pack_key, unpack_key
from ..geo_synth import RASTER_H, RASTER_W, raster_value_np

TILE_SCHEMA = T.StructType([
    T.StructField("tile_id", T.LongType(), False),
    T.StructField("row0", T.IntegerType(), False),
    T.StructField("col0", T.IntegerType(), False),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("data", T.ArrayType(T.DoubleType()), False),
])


def tile_row(trow: int, tcol: int, tile_h: int, tile_w: int,
             data: np.ndarray) -> tuple:
    """The ``TILE_SCHEMA`` row of tile ``(trow, tcol)`` of a ``tile_h ×
    tile_w`` tiling, holding the 2-D ``data``."""
    h, w = data.shape
    return (pack_key(trow, tcol), trow * tile_h, tcol * tile_w, h, w,
            np.asarray(data, dtype=np.float64).ravel())


def tile_array(t) -> np.ndarray:
    """The 2-D float64 pixels of tile row ``t`` (a Row or named tuple)."""
    return np.asarray(t.data, dtype=np.float64).reshape(int(t.h), int(t.w))


def halo_groups(tiles: DataFrame, group_px: int, before: int, after: int,
                n_rows: int, n_cols: int) -> DataFrame:
    """Route every tile to the output groups whose padded window it
    intersects, cut to that window: adds ``group_id = pack_key(gr, gc)``.

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
                "group_id": pack_key(F.col("_gr"), F.col("_gc"))})
            .drop("_gr", "_gc"))


def fill_window(pdf_tiles: pd.DataFrame, r0: int, c0: int, h: int, w: int
                ) -> np.ndarray:
    """An ``h × w`` NaN window with absolute origin ``(r0, c0)``, the
    group's tiles pasted in and clipped to it."""
    win = np.full((h, w), np.nan)
    for t in pdf_tiles.itertuples():
        rr, cc = int(t.row0) - r0, int(t.col0) - c0
        a0, a1 = max(0, -rr), min(int(t.h), h - rr)
        b0, b1 = max(0, -cc), min(int(t.w), w - cc)
        if a0 < a1 and b0 < b1:
            win[rr + a0:rr + a1, cc + b0:cc + b1] = (
                tile_array(t)[a0:a1, b0:b1])
    return win


def tile_frame(trow: int, tcol: int, tile_px: int, data: np.ndarray
               ) -> pd.DataFrame:
    """``tile_row`` as a one-row frame, for a ``tile_px`` tiling."""
    return pd.DataFrame([tile_row(trow, tcol, tile_px, tile_px, data)],
                        columns=TILE_SCHEMA.names)


def map_windows(tiles: DataFrame, group_px: int, before: int, after: int,
                n_rows: int, n_cols: int,
                kernel: Callable[[int, int, np.ndarray], pd.DataFrame],
                schema: T.StructType) -> DataFrame:
    """The tile→tile window pass of the tiled raster operators: one
    grouped ``applyInPandas`` call per output group ``(gr, gc)`` of
    ``group_px`` pixels returns ``kernel(gr, gc, win)``, its ``schema``
    rows.

    ``win`` is the group's full padded window, rows ``[gr·group_px −
    before, (gr+1)·group_px + after)`` and the same for columns: NaN
    outside the ``n_rows × n_cols`` raster and under missing tiles. Tiles
    reach it by ``halo_groups``, pasted by ``fill_window``."""
    n = group_px + before + after

    def _window(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        gr, gc = unpack_key(key[0])
        return kernel(gr, gc, fill_window(pdf, gr * group_px - before,
                                          gc * group_px - before, n, n))

    return (halo_groups(tiles, group_px, before, after, n_rows, n_cols)
            .groupBy("group_id").applyInPandas(_window, schema))


def _home_group(group_px: int, height: int, width: int, xres: int):
    """``group_id`` of each ``(x, y)`` point's home group: the group of
    ``group_px``-square cells holding its pixel (truncated coordinates,
    floor-divided) clamped into the ``height × width`` extent. Every
    raster pixel within ``halo`` of the point lies in that group's
    ``halo_groups(…, halo, halo, …)`` window.

    Truncating ``DIV`` gives the clamped floor: the two differ only below
    pixel 0, which the clamp maps to 0 either way. Each coordinate appears
    once, so the filters Catalyst infers from the cogroup key stay small
    when they inline an upstream coordinate expression."""
    def cell(coord: str, n: int) -> str:
        return (f"(least(greatest(CAST({coord} AS BIGINT) DIV {xres}, 0L), "
                f"{n - 1}L) DIV {group_px})")
    return pack_key(F.expr(cell("y", height)), F.expr(cell("x", width)))


# adaptive salting: a hot group splits into at most MAX_SALT salt groups
MAX_SALT = 32


def _salt_hot_groups(points: DataFrame, tiles: DataFrame, key: str,
                     id_col: str, hot_group_rows: int, max_salt: int
                     ) -> tuple[DataFrame, DataFrame]:
    """Adaptive salting of a (points, tiles) cogroup on ``key``: adds the
    cogroup key ``gkey = key·64 + salt`` to both sides.

    A group holding more than ``hot_group_rows`` points splits into
    ceil(count / hot_group_rows) ≤ ``max_salt`` salt groups: points pick
    their salt by id hash, the group's tile rows (the small side)
    replicate into each salt. Cold groups take salt 0 via the left-join
    default and pay nothing. Output is unchanged: each salt group sees
    every tile row of its group and a disjoint share of its points. Fully
    distributed — the hot map is a broadcast-joined DataFrame bounded by
    n_points / hot_group_rows, never a driver collect.
    """
    hot = (points.groupBy(key).count()
           .filter(F.col("count") > hot_group_rows)
           .select(key,
                   F.least(F.ceil(F.col("count") / hot_group_rows),
                           F.lit(max_salt)).cast("long").alias("salt_k")))
    # xxhash64 of the id picks the salt (no arithmetic on the id, so any
    # BIGINT id is safe under ANSI overflow checks)
    points = (points.join(F.broadcast(hot), key, "left")
              .withColumn(
                  "gkey",
                  F.col(key) * 64
                  + F.pmod(F.xxhash64(F.col(id_col)),
                           F.coalesce(F.col("salt_k"), F.lit(1))))
              .drop("salt_k"))
    tiles = (tiles.join(F.broadcast(hot), key, "left")
             .withColumn(
                 "_salt",
                 F.explode(F.sequence(
                     F.lit(0).cast("long"),
                     F.coalesce(F.col("salt_k"), F.lit(1)) - 1)))
             .withColumn("gkey", F.col(key) * 64 + F.col("_salt"))
             .drop("salt_k", "_salt"))
    return points, tiles


def map_point_windows(
        points: DataFrame, tiles: DataFrame, id_col: str, group_px: int,
        halo: int, n_rows: int, n_cols: int, xres: int,
        hot_group_rows: int, max_salt: int,
        kernel: Callable[[pd.DataFrame, np.ndarray, int, int], pd.DataFrame],
        schema: T.StructType) -> DataFrame:
    """The point→row window pass: each ``(id_col, x, y)`` point keys to
    its home group (``_home_group``, ``xres`` metres per pixel), hot
    groups are salted (``_salt_hot_groups``), and one cogroup call per
    (salted) group returns ``kernel(pts, win, wr0, wc0)``: the ``schema``
    rows of the group's points from its full ``halo``-padded window (as
    in ``map_windows``), whose [0, 0] is raster pixel ``(wr0, wc0)``.
    A group without points returns no rows."""
    pts = points.select(id_col, "x", "y").withColumn(
        "group_id", _home_group(group_px, n_rows, n_cols, xres))
    win_tiles = halo_groups(tiles, group_px, halo, halo, n_rows, n_cols)
    pts, win_tiles = _salt_hot_groups(pts, win_tiles, "group_id", id_col,
                                      hot_group_rows, max_salt)
    n = group_px + 2 * halo

    def _window(key: tuple, pdf_points: pd.DataFrame,
                pdf_tiles: pd.DataFrame) -> pd.DataFrame:
        if pdf_points.empty:
            return pd.DataFrame({f.name: pd.Series(dtype="float64")
                                 for f in schema})
        gr, gc = unpack_key(int(key[0]) // 64)
        wr0, wc0 = gr * group_px - halo, gc * group_px - halo
        return kernel(pdf_points, fill_window(pdf_tiles, wr0, wc0, n, n),
                      wr0, wc0)

    return (pts.groupBy("gkey").cogroup(win_tiles.groupBy("gkey"))
            .applyInPandas(_window, schema))


def scan_tiles(spark: SparkSession, height: int, width: int, tile_h: int,
               tile_w: int, open_blocks: Callable,
               n_partitions: int | None = None) -> DataFrame:
    """The ``TILE_SCHEMA`` rows of a ``height × width`` raster of ``tile_h ×
    tile_w`` tiles, decoded on the executors from one ``spark.range`` of
    the row-major tile grid (``n_partitions`` splits; no Exchange). Each
    task enters ``open_blocks()`` once; the ``block(i, row0, col0, h, w)``
    it yields returns the pixels of tile ``i = trow·n_cols + tcol``."""
    ntr = (height + tile_h - 1) // tile_h
    ntc = (width + tile_w - 1) // tile_w
    idx = spark.range(ntr * ntc, numPartitions=n_partitions).select(
        (F.col("id") / ntc).cast("int").alias("trow"),
        (F.col("id") % ntc).cast("int").alias("tcol"))

    def _gen(batches):
        with open_blocks() as block:
            for pdf in batches:
                rows = []
                for trow, tcol in zip(pdf["trow"].tolist(),
                                      pdf["tcol"].tolist()):
                    r0, c0 = trow * tile_h, tcol * tile_w
                    data = block(trow * ntc + tcol, r0, c0,
                                 min(tile_h, height - r0),
                                 min(tile_w, width - c0))
                    rows.append(tile_row(trow, tcol, tile_h, tile_w, data))
                yield pd.DataFrame(rows, columns=TILE_SCHEMA.names)

    return idx.mapInPandas(_gen, TILE_SCHEMA)


def synthetic_tile_table(spark: SparkSession, tile_px: int = 256,
                         height: int = RASTER_H, width: int = RASTER_W,
                         ) -> DataFrame:
    """The synthetic raster's tile table, computed on the executors."""
    def block(i: int, r0: int, c0: int, h: int, w: int) -> np.ndarray:
        rr, cc = np.meshgrid(np.arange(r0, r0 + h), np.arange(c0, c0 + w),
                             indexing="ij")
        return raster_value_np(rr, cc)

    return scan_tiles(spark, height, width, tile_px, tile_px,
                      lambda: nullcontext(block))


def tile_table_from_array(spark: SparkSession, arr: np.ndarray,
                          tile_px: int = 256) -> DataFrame:
    """Tile table from an in-memory ndarray (tests / small rasters), built
    on the driver. NaN = nodata, as everywhere else."""
    h, w = arr.shape
    rows = [tile_row(tr, tc, tile_px, tile_px,
                     arr[tr * tile_px:(tr + 1) * tile_px,
                         tc * tile_px:(tc + 1) * tile_px])
            for tr in range((h + tile_px - 1) // tile_px)
            for tc in range((w + tile_px - 1) // tile_px)]
    # python floats: a pandas frame's Arrow path would turn NaN into NULL
    return spark.createDataFrame([(*r[:5], r[5].tolist()) for r in rows],
                                 TILE_SCHEMA)


# largest raster (pixels) tile_table_to_array assembles on the driver
MAX_PX = 256_000_000


def tile_table_to_array(tiles: DataFrame) -> np.ndarray:
    """Assemble a tile table into one dense ndarray (inverse of
    ``tile_table_from_array``). Driver-side by design — only valid in the
    planner's *broadcast* regime where the raster fits one executor; the
    ``MAX_PX`` guard refuses anything larger so a mis-routed 100 TB tile
    table fails fast instead of OOMing the driver."""
    pdf = tiles.select("row0", "col0", "h", "w", "data").toPandas()
    if pdf.empty:
        return np.full((0, 0), np.nan)
    height = int((pdf["row0"] + pdf["h"]).max())
    width = int((pdf["col0"] + pdf["w"]).max())
    if height * width > MAX_PX:
        raise ValueError(
            f"tile table is {height}x{width} px > max_px={MAX_PX}; "
            "use the tiled/convolve_all strategy for rasters this large")
    return fill_window(pdf, 0, 0, height, width)


def materialize_raster(height: int, width: int) -> np.ndarray:
    """Driver-side dense ndarray of the synthetic raster (test oracle /
    broadcast-raster path)."""
    rr, cc = np.meshgrid(np.arange(height), np.arange(width), indexing="ij")
    return raster_value_np(rr, cc)
