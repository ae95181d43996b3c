"""Raster sources: functional raster, broadcast ndarray, parquet tile table.

The reference reads whole GeoTIFFs into one resident ndarray
(extract_raster_buffer.py:150-172, ~3.9 GB at 100 M px, README.md:88-92).
Our scale-path representation is a *tile table*:

    (tile_id:long, row0:int, col0:int, h:int, w:int, data:array<double>)

tile_id = (row0/tile_px) * 2^32 + (col0/tile_px). Tiles are what a COG reader
would emit from ``spark.read.format("binaryFile")`` + windowed decode in
``mapInArrow``; here they are generated deterministically from the synthetic
raster formula (geo_synth.raster_value_np) so tests need no GDAL.

The tiled raster operators read the raster as the reference does, one
resident window at a time, through one of two window passes here:
``map_windows`` (tile → tile) and ``map_point_windows`` (point → row:
home group, hot-group salting, cogroup). Only this module packs and
unpacks their group keys; ``halo_groups`` routes the tiles and
``fill_window`` pastes them.
"""

from __future__ import annotations

from typing import Callable

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


def tile_frame(trow: int, tcol: int, tile_px: int, data: np.ndarray
               ) -> pd.DataFrame:
    """The one ``TILE_SCHEMA`` row of output tile ``(trow, tcol)`` of a
    ``tile_px`` tiling holding the 2-D ``data``."""
    h, w = data.shape
    return pd.DataFrame([{"tile_id": tile_id_of(trow, tcol),
                          "row0": trow * tile_px, "col0": tcol * tile_px,
                          "h": h, "w": w, "data": data.ravel()}])


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
        gr, gc = divmod(int(key[0]), 1 << 32)
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
    return F.expr(f"{cell('y', height)} * {1 << 32}L + {cell('x', width)}")


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
        gr, gc = divmod(int(key[0]) // 64, 1 << 32)
        wr0, wc0 = gr * group_px - halo, gc * group_px - halo
        return kernel(pdf_points, fill_window(pdf_tiles, wr0, wc0, n, n),
                      wr0, wc0)

    return (pts.groupBy("gkey").cogroup(win_tiles.groupBy("gkey"))
            .applyInPandas(_window, schema))


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
