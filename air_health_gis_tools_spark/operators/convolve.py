"""Distributed focal/convolution statistics over raster tile tables.

The reference's A2 operator (``buffer_convolve``, extract_raster_buffer.py:
68-80) convolves the WHOLE raster in one resident ndarray. The scale path
here is tile + halo exchange (SURVEY.md A2 row): the tile→tile window
pass ``sources/raster.map_windows`` (whose docstrings state the fan-out)
hands each output group one padded window of the raster, which it
convolves with the SAME shift-accumulate kernel order as the single-node
reference implementation (functions/ref_compat.convolve_extend) — so the
distributed result is bit-identical to the whole-array result, any tiling.
Only the tiles shuffle; at 100 TB the tile table is the raster's native
COG layout and this is a single self-join-shaped stage.

``gather_point_values`` keys each point's tile by the floor rule and key
packer of ``functions/cells`` and decodes it with ``raster.tile_array``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from pyspark.sql import types as T

from ..functions.cells import fdiv, pack_key
from ..geo_synth import RASTER_H, RASTER_W, XRES
from ..sources.raster import (TILE_SCHEMA, map_windows, tile_array,
                              tile_frame)

# superblock side in tiles for convolve_sum_count_tiles
SB_TILES = 2


def convolve_valid(window: np.ndarray, kernel: np.ndarray) -> np.ndarray:
    """Shift-accumulate sum-convolution/area over a pre-padded window.

    Same accumulation order as ref_compat.convolve_extend; NaN→0 fill.
    Output shape = window - kernel + 1.
    """
    kh, kw = kernel.shape
    h = window.shape[0] - kh + 1
    w = window.shape[1] - kw + 1
    filled = np.nan_to_num(window, nan=0.0)
    out = np.zeros((h, w))
    for di in range(kh):
        for dj in range(kw):
            if kernel[di, dj] != 0:
                out += filled[di:di + h, dj:dj + w]
    return out / np.count_nonzero(kernel)


def convolve_tiles(tiles: DataFrame, kernel: np.ndarray, tile_px: int,
                   height: int = RASTER_H, width: int = RASTER_W
                   ) -> DataFrame:
    """Focal sum/area convolution over a tile table with halo exchange.

    Returns a tile table of the same tiling containing convolved values.
    """
    kh, kw = kernel.shape
    ph, pw = kh // 2, kw // 2
    bc_kernel = tiles.sparkSession.sparkContext.broadcast(kernel)
    halo = max(ph, pw)

    def _convolve(otr: int, otc: int, win: np.ndarray) -> pd.DataFrame:
        wr0 = otr * tile_px - ph  # absolute raster row of win[0, 0]
        wc0 = otc * tile_px - pw
        h = min(tile_px, height - otr * tile_px)
        w = min(tile_px, width - otc * tile_px)
        win = win[halo - ph:halo - ph + h + kh - 1,
                  halo - pw:halo - pw + w + kw - 1]
        # replicate at raster boundary (astropy boundary='extend' semantics)
        top = max(0, -wr0)
        left = max(0, -wc0)
        bot = max(0, (wr0 + win.shape[0]) - height)
        right = max(0, (wc0 + win.shape[1]) - width)
        if top:
            win[:top, :] = win[top, :]
        if bot:
            win[-bot:, :] = win[-(bot + 1), :]
        if left:
            win[:, :left] = win[:, left][:, None]
        if right:
            win[:, -right:] = win[:, -(right + 1)][:, None]
        return tile_frame(otr, otc, tile_px,
                          convolve_valid(win, bc_kernel.value))

    return map_windows(tiles, tile_px, halo, halo, height, width, _convolve,
                       TILE_SCHEMA)


def gather_point_values(points: DataFrame, tiles: DataFrame,
                        out_col: str = "value",
                        tile_px: int = 256) -> DataFrame:
    """Per-point single-pixel gather from a tile table (J2 on tiles):
    ``(doc_id, x, y)`` points → ``(doc_id, out_col)``.

    Each point reads exactly the tile containing its pixel: cogroup on
    tile_id, one array index per point. The 'gather many' half of the
    reference's Method 1 — convolve once, then every point is a cheap
    lookup (extract_raster_buffer.py:220-245). Points outside the tiles
    gather NULL.
    """
    # floor, as the kernel indexes the tile: a point left of or above the
    # raster keys to a tile that does not exist, not to tile 0
    tr = fdiv(fdiv("CAST(y AS BIGINT)", XRES), tile_px)
    tc = fdiv(fdiv("CAST(x AS BIGINT)", XRES), tile_px)
    pts = points.select("doc_id", "x", "y").withColumn(
        "tile_id", pack_key(F.expr(tr), F.expr(tc)))
    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField(out_col, T.DoubleType())])

    def _gather(key, pdf_points: pd.DataFrame, pdf_tiles: pd.DataFrame
                ) -> pd.DataFrame:
        if pdf_points.empty:
            return pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                                 out_col: pd.Series(dtype="float64")})
        ids = pdf_points["doc_id"].to_numpy()
        if pdf_tiles.empty:
            return pd.DataFrame({"doc_id": ids,
                                 out_col: np.full(len(ids), np.nan)})
        t = next(pdf_tiles.itertuples())
        arr = tile_array(t)
        rr = pdf_points["y"].to_numpy().astype(np.int64) // XRES - int(t.row0)
        cc = pdf_points["x"].to_numpy().astype(np.int64) // XRES - int(t.col0)
        # a partial edge tile is narrower than its key's span
        ok = (rr < arr.shape[0]) & (cc < arr.shape[1])
        out = np.full(len(ids), np.nan)
        out[ok] = arr[rr[ok], cc[ok]]
        return pd.DataFrame({"doc_id": ids, out_col: out})

    return (pts.groupBy("tile_id")
            .cogroup(tiles.groupBy("tile_id"))
            .applyInPandas(_gather, schema))


def convolve_sum_count_tiles(tiles: DataFrame, kernels: dict,
                             tile_px: int,
                             height: int = RASTER_H, width: int = RASTER_W
                             ) -> DataFrame:
    """Multi-kernel focal SUM + VALID-COUNT convolution in ONE halo pass.

    ``kernels``: {name: 0/1 ndarray}. The window is assembled once per
    output tile; each kernel then produces two planes — nansum and valid
    count — A1 semantics (sum/valid-count, not sum/kernel-area).

    Role split (r3): this is the plane-MATERIALIZING variant — use it when
    the convolved raster itself is the product (the reference's
    calculate_focal_mean writes the focal-mean raster to disk; feed these
    planes to ``sources/geotiff.write_geotiff``). For per-POINT extraction
    the planner's Method-1 path is ``zonal.buffered_mean_convolve_all``,
    which fuses the convolution and the gather into one superblock cogroup
    and never ships the planes (~25 GB less movement per 201 M px).

    Boundary: outside-extent pixels stay NaN (A1 clips at the raster edge,
    utils.py:82-84) — unlike ``convolve_tiles``'s 'extend' replication
    (A2/astropy semantics).
    """
    halos = {k: (v.shape[0] // 2, v.shape[1] // 2)
             for k, v in kernels.items()}
    ph = max(h for h, _ in halos.values())
    pw = max(w for _, w in halos.values())
    spark = tiles.sparkSession
    bc_kernels = spark.sparkContext.broadcast(
        {k: np.asarray(v, dtype=np.float64) for k, v in kernels.items()})
    # SUPERBLOCK grouping (SB_TILES x SB_TILES tiles per task): SB_TILES=2
    # (512 px superblocks, ~12 MB output per group) measured fastest at
    # local[32], 2x the per-tile grouping; SB_TILES=4 forms 50 MB groups
    # (memory pressure + last-wave imbalance)
    sb_px = SB_TILES * tile_px
    halo = max(ph, pw)

    # the tile table's key columns (nullable), then two planes per kernel
    fields = [T.StructField(f.name, f.dataType) for f in TILE_SCHEMA[:5]]
    for k in kernels:
        fields += [T.StructField(f"s_{k}", T.ArrayType(T.DoubleType())),
                   T.StructField(f"c_{k}", T.ArrayType(T.LongType()))]
    out_schema = T.StructType(fields)

    def _planes(sbr: int, sbc: int, win: np.ndarray) -> pd.DataFrame:
        r0 = sbr * sb_px
        c0 = sbc * sb_px
        sb_h = min(sb_px, height - r0)
        sb_w = min(sb_px, width - c0)
        # the window from raster pixel (r0 − ph, c0 − pw); the row prefix
        # sums start at its left edge, so what lies past the last chord
        # changes none of them
        win = win[halo - ph:, halo - pw:]
        filled = np.nan_to_num(win, nan=0.0)
        valid = (~np.isnan(win)).astype(np.float64)
        # CHORD DECOMPOSITION: a circle kernel is one contiguous column
        # run [lo, hi] per kernel row, so with a row-wise prefix sum each
        # kernel row costs ONE subtraction per output pixel instead of
        # (hi-lo+1) adds — 2r+1 ops/pixel instead of ~πr² (15× fewer at
        # r=10). Exact for integer-valued rasters (our synthetic corpus
        # and any counting raster): prefix sums stay below 2^53 so every
        # subtraction is lossless; float rasters see ≤1 ulp-scale drift
        # vs shift-accumulate order.
        pf = np.cumsum(filled, axis=1)
        pv = np.cumsum(valid, axis=1)
        pf = np.concatenate([np.zeros((pf.shape[0], 1)), pf], axis=1)
        pv = np.concatenate([np.zeros((pv.shape[0], 1)), pv], axis=1)
        planes = {}
        for name, kern in bc_kernels.value.items():
            kh, kw = kern.shape
            hh, hw = kh // 2, kw // 2
            fr0, fc0 = ph - hh, pw - hw
            s = np.zeros((sb_h, sb_w))
            c = np.zeros((sb_h, sb_w))
            for di in range(kh):
                nz = np.flatnonzero(kern[di])
                if not len(nz):
                    continue
                lo, hi = int(nz[0]), int(nz[-1])
                assert (kern[di, lo:hi + 1] != 0).all(), \
                    "chord decomposition requires row-convex kernels"
                r_ = fr0 + di
                s += (pf[r_:r_ + sb_h, fc0 + hi + 1:fc0 + hi + 1 + sb_w]
                      - pf[r_:r_ + sb_h, fc0 + lo:fc0 + lo + sb_w])
                c += (pv[r_:r_ + sb_h, fc0 + hi + 1:fc0 + hi + 1 + sb_w]
                      - pv[r_:r_ + sb_h, fc0 + lo:fc0 + lo + sb_w])
            planes[name] = (s, c)
        rows = []
        for tr in range(sbr * SB_TILES,
                        min((sbr + 1) * SB_TILES,
                            (height + tile_px - 1) // tile_px)):
            for tc in range(sbc * SB_TILES,
                            min((sbc + 1) * SB_TILES,
                                (width + tile_px - 1) // tile_px)):
                tr0, tc0 = tr * tile_px, tc * tile_px
                th = min(tile_px, height - tr0)
                tw = min(tile_px, width - tc0)
                lr, lc = tr0 - r0, tc0 - c0
                row = {"tile_id": pack_key(tr, tc), "row0": tr0,
                       "col0": tc0, "h": th, "w": tw}
                for name, (s, c) in planes.items():
                    row[f"s_{name}"] = s[lr:lr + th, lc:lc + tw].ravel()
                    row[f"c_{name}"] = c[lr:lr + th, lc:lc + tw].ravel() \
                        .astype(np.int64)
                rows.append(row)
        return pd.DataFrame(rows)

    return map_windows(tiles, sb_px, halo, halo, height, width, _planes,
                       out_schema)
