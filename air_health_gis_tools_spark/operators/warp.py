"""Raster↔raster alignment (warp/resample) over tile tables — SURVEY J8.

The reference aligns rasters with ``rasterio.warp.reproject`` /
``rio.reproject_match`` (extract_raster_buffer.py:192-201;
srg-dev/calculate_focal_mean.py:83-85): every destination pixel pulls from
the source pixel(s) under an affine map — "an as-of/nearest join in 2-D".

Distributed form for integer downsample factor f with nearest resampling
(the deterministic kernel the reference recommends for exact-match tests,
extract_raster_buffer.py:28-35): each source tile belongs to exactly one
output tile (src (tr, tc) → out (tr//f, tc//f)); group the f² source tiles
per output tile, assemble, and gather centers. One narrow shuffle keyed by
output tile; no pixel is read twice. The bilinear and Lanczos modes swap
the gather kernel and widen the window by their stencil's halo. All three
run through the tile→tile window pass ``sources/raster.map_windows``
(group = one output tile, ``tile_px·f`` source pixels).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..geo_synth import RASTER_H, RASTER_W
from ..sources.raster import TILE_SCHEMA, map_windows, tile_frame


def resample_tiles_nearest(tiles: DataFrame, factor: int, tile_px: int,
                           height: int = RASTER_H, width: int = RASTER_W,
                           sample_offset: int | None = None) -> DataFrame:
    """Downsample a tile table by integer ``factor`` (nearest centers).

    Output pixel (R, C) pulls source pixel (R*f + off, C*f + off) where
    ``off`` defaults to f//2 — the source pixel containing the output
    pixel center (exact integer math). ``sample_offset=0`` selects the
    corner convention GDAL's nearest overviews use (the reference's .ovr
    pyramid matches ``full[0::2, 0::2]`` — see operators/pyramid.py).
    Output tiling keeps ``tile_px`` pixels per tile. ``height``/``width``
    are the SOURCE raster dims; edge output tiles are trimmed to the true
    downsampled extent (ceil(height/f) × ceil(width/f)).
    """
    assert factor >= 1
    f = int(factor)
    off = f // 2 if sample_offset is None else int(sample_offset)
    assert 0 <= off < f
    out_h = -(-height // f)
    out_w = -(-width // f)

    span = tile_px * f

    def _nearest(otr: int, otc: int, win: np.ndarray) -> pd.DataFrame:
        # trim edge tiles to the true downsampled extent so h/w metadata
        # matches the output raster dims (no phantom NaN-padded pixels)
        h = min(tile_px, out_h - otr * tile_px)
        w = min(tile_px, out_w - otc * tile_px)
        # nearest gather at output pixel centers; absolute source index
        # clamped to the raster extent (edge replication), matching the
        # bilinear/Lanczos clamp and rasterio's Resampling.nearest — else
        # the last output row/col goes phantom-NaN whenever R*f + f//2
        # falls past the source extent (e.g. height=997, f=4)
        idx_r = np.clip(
            np.arange(otr * tile_px, otr * tile_px + h, dtype=np.int64)
            * f + off, 0, height - 1) - otr * span
        idx_c = np.clip(
            np.arange(otc * tile_px, otc * tile_px + w, dtype=np.int64)
            * f + off, 0, width - 1) - otc * span
        return tile_frame(otr, otc, tile_px, win[np.ix_(idx_r, idx_c)])

    # each output tile reads exactly its own source span: no halo
    return map_windows(tiles, span, 0, 0, height, width, _nearest,
                       TILE_SCHEMA)


def resample_tiles_bilinear(tiles: DataFrame, factor: int, tile_px: int,
                            height: int = RASTER_H, width: int = RASTER_W
                            ) -> DataFrame:
    """Bilinear downsample by integer ``factor`` (O10 second resampling
    mode — the reference picks among nearest/bilinear/Lanczos,
    extract_raster_buffer.py:28-35).

    Output pixel center maps to source coords s = (R + 0.5)·f − 0.5 (the
    standard area-alignment convention); the value is the 2×2 bilinear
    blend around s, coordinates clamped at the raster edge (edge
    replication). NaN contributors propagate to NaN — nodata does not
    bleed a fabricated value.

    Plan shape: unlike nearest (each source tile feeds exactly one output
    tile), the 2×2 stencil needs one extra pixel beyond the window, so
    boundary source tiles feed ≤ 2 output tiles per axis — still a single
    narrow shuffle keyed by output tile.
    """
    assert factor >= 1
    f = int(factor)
    span = tile_px * f
    out_h = -(-height // f)
    out_w = -(-width // f)

    def _bilinear(otr: int, otc: int, win: np.ndarray) -> pd.DataFrame:
        h = min(tile_px, out_h - otr * tile_px)
        w = min(tile_px, out_w - otc * tile_px)
        return tile_frame(otr, otc, tile_px, bilinear_gather_np(
            win, otr * span, otc * span, otr * tile_px, otc * tile_px, h, w,
            f, height, width))

    # output tile otr needs source rows [otr*span, otr*span+span+1)
    return map_windows(tiles, span, 0, 1, height, width, _bilinear,
                       TILE_SCHEMA)


LANCZOS_A = 3


def _lanczos_axis_weights(out0: int, n_out: int, f: int, size: int,
                          win_lo: int) -> np.ndarray:
    """(n_out, win_len) weight matrix for one axis: taps at source indices
    clamped to [0, size-1] (edge replication), kernel L((i−s)/f) with
    s = (R+0.5)·f − 0.5 (anti-aliased: support scales with the downsample
    factor), rows normalized to Σw = 1."""
    a = LANCZOS_A
    R = np.arange(out0, out0 + n_out, dtype=np.float64)
    s = (R + 0.5) * f - 0.5
    i0 = np.floor(s).astype(np.int64) - a * f + 1
    taps = i0[:, None] + np.arange(2 * a * f, dtype=np.int64)[None, :]
    t = (taps - s[:, None]) / f
    w = np.sinc(t) * np.sinc(t / a)
    w[np.abs(t) >= a] = 0.0
    w /= w.sum(axis=1, keepdims=True)
    clamped = np.clip(taps, 0, size - 1) - win_lo
    win_len = int(clamped.max()) + 1 if n_out else 0
    dense = np.zeros((n_out, max(win_len, 1)))
    np.add.at(dense, (np.repeat(np.arange(n_out), taps.shape[1]),
                      clamped.ravel()), w.ravel())
    return dense


def lanczos_gather_np(win: np.ndarray, win_r0: int, win_c0: int,
                      out_r0: int, out_c0: int, h: int, w: int, f: int,
                      height: int, width: int) -> np.ndarray:
    """Separable Lanczos-3 resample of one output block from a source
    window (absolute origin win_r0/win_c0). NaN in any non-zero-weight tap
    propagates (nodata is never invented); shared by the distributed
    kernel and the numpy oracle."""
    Wy = _lanczos_axis_weights(out_r0, h, f, height, win_r0)
    Wx = _lanczos_axis_weights(out_c0, w, f, width, win_c0)
    sub = win[:Wy.shape[1], :Wx.shape[1]]
    return Wy @ sub @ Wx.T


def resample_tiles_lanczos(tiles: DataFrame, factor: int, tile_px: int,
                           height: int = RASTER_H, width: int = RASTER_W
                           ) -> DataFrame:
    """Lanczos-3 downsample by integer ``factor`` — O10 third resampling
    mode (the reference's Resampling enum: nearest/bilinear/Lanczos,
    extract_raster_buffer.py:28-35). Same single narrow shuffle keyed by
    output tile as the other modes, with a 3f-pixel halo."""
    assert factor >= 1
    f = int(factor)
    span = tile_px * f
    halo = LANCZOS_A * f
    out_h = -(-height // f)
    out_w = -(-width // f)

    def _lanczos(otr: int, otc: int, win: np.ndarray) -> pd.DataFrame:
        # the window clipped to the raster: Wy @ sub @ Wx.T turns a NaN
        # under a zero weight into NaN
        wr0, wc0 = otr * span - halo, otc * span - halo
        r0, c0 = max(wr0, 0), max(wc0, 0)
        sub = win[r0 - wr0:height - wr0, c0 - wc0:width - wc0]
        h = min(tile_px, out_h - otr * tile_px)
        w = min(tile_px, out_w - otc * tile_px)
        return tile_frame(otr, otc, tile_px, lanczos_gather_np(
            sub, r0, c0, otr * tile_px, otc * tile_px, h, w, f, height,
            width))

    return map_windows(tiles, span, halo, halo, height, width, _lanczos,
                       TILE_SCHEMA)


def bilinear_gather_np(win: np.ndarray, win_r0: int, win_c0: int,
                       out_r0: int, out_c0: int, h: int, w: int, f: int,
                       height: int, width: int) -> np.ndarray:
    """Bilinear sample of output block [out_r0, out_r0+h) × [out_c0, …+w)
    from a source window whose [0,0] is absolute (win_r0, win_c0).
    Shared by the distributed assemble kernel and the numpy test oracle so
    parity is by-construction arithmetic identity."""
    rr = np.arange(out_r0, out_r0 + h, dtype=np.float64)
    cc = np.arange(out_c0, out_c0 + w, dtype=np.float64)
    sy = np.clip((rr + 0.5) * f - 0.5, 0.0, height - 1.0)
    sx = np.clip((cc + 0.5) * f - 0.5, 0.0, width - 1.0)
    y0 = np.floor(sy).astype(np.int64)
    x0 = np.floor(sx).astype(np.int64)
    y1 = np.minimum(y0 + 1, height - 1)
    x1 = np.minimum(x0 + 1, width - 1)
    wy = (sy - y0)[:, None]
    wx = (sx - x0)[None, :]
    g = lambda ys, xs: win[np.ix_(ys - win_r0, xs - win_c0)]  # noqa: E731

    def term(wgt, val):
        # a zero-weight neighbor contributes 0 even when it is NaN
        # (0·NaN = NaN would otherwise bleed nodata into exact-grid hits);
        # NaN under positive weight propagates — nodata is never invented
        return np.where(wgt > 0, wgt * val, 0.0)

    return (term((1 - wy) * (1 - wx), g(y0, x0))
            + term((1 - wy) * wx, g(y0, x1))
            + term(wy * (1 - wx), g(y1, x0))
            + term(wy * wx, g(y1, x1)))
