"""Zonal strategies against one numpy oracle at the raster's edges.

Every ``buffered_stats`` strategy — the formula raster (whose edge
windows take the generic clipping path), a broadcast ndarray and the
tiled cogroup — must return one row per point with the stats of the
direct per-buffer gather over ``circle_offsets(radius_px(b, xres))``;
so must convolve_all's mean and n_valid on the integer raster.
The points sit off all four sides and the corners, on discs that only
partly overlap the raster, on nodata-only discs and in partial edge
tiles; the rasters are the integer synthetic one and non-integer
float32-origin and float64 ones with ~25 % nodata.

Every ``buffered_stats`` strategy sums each disc's values in one place,
in the oracle's order, so all of them must match bit for bit: means
included, on the non-integer rasters too. convolve_all's chord sums are
exact on integer-valued rasters only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from air_health_gis_tools_spark import geo_synth as G
from air_health_gis_tools_spark.operators.zonal import (
    buffered_mean_convolve_all, buffered_stats, buffered_stats_tiled,
    circle_offsets, radius_px)
from air_health_gis_tools_spark.sources.raster import (materialize_raster,
                                                       tile_table_from_array)

BUFFERS = [700, 1000, 10000]
H, W = 450, 500          # neither side a multiple of the 128-px tiles


def _float_raster(h: int, w: int, dtype=np.float32) -> np.ndarray:
    """Non-integer values of ``dtype`` origin, ~25 % NaN, plus a nodata
    block in the top-left corner so some discs reach the raster only
    there."""
    rng = np.random.default_rng(16)
    arr = rng.uniform(0, 3884.8, (h, w)).astype(dtype).astype(np.float64)
    arr[rng.random((h, w)) < 0.25] = np.nan
    arr[:12, :12] = np.nan
    return arr


def _edge_points(h: int, w: int, xres: int, n_random: int) -> pd.DataFrame:
    """Points (metres) off every side and corner, within and beyond the
    largest disc's reach, plus random points over the raster and a margin
    of two disc radii around it."""
    r = radius_px(max(BUFFERS), xres)
    km = 1000
    fixed = [
        # left of the raster: within and beyond the disc's reach
        (-10.5 * km, 200 * xres), (-11.5 * km, 201 * xres),
        (-200 * km, 202 * xres), (-(r - 3) * xres, 17 * xres),
        # above the raster (the first touches row 0 at one pixel)
        (203 * xres, -9.5 * km), (5 * xres, -(r + 5) * xres),
        # right of and below the raster
        ((w + 3) * xres, 100 * xres), ((w + r + 4) * xres, 101 * xres),
        (100 * xres, (h + 2) * xres), (102 * xres, (h + r + 7) * xres),
        # the four corners, near and far
        (-2 * xres, -2 * xres), (-(r + 2) * xres, -(r + 2) * xres),
        ((w + 1) * xres, -3 * xres), (-1 * xres, (h + 1) * xres),
        ((w + 2) * xres, (h + 2) * xres),
        ((w + r + 2) * xres, (h + r + 2) * xres),
        # on the last pixel, inside the partial edge tiles
        ((w - 1) * xres + xres // 2, (h - 1) * xres + xres // 2),
        # the nodata corner: discs that reach only NaN pixels
        (-3 * xres, 2 * xres), (2 * xres, -1 * xres),
    ]
    rng = np.random.default_rng(7)
    rx = rng.integers(-2 * r * xres, (w + 2 * r) * xres, n_random)
    ry = rng.integers(-2 * r * xres, (h + 2 * r) * xres, n_random)
    x = np.concatenate([[int(p[0]) for p in fixed], rx])
    y = np.concatenate([[int(p[1]) for p in fixed], ry])
    return pd.DataFrame({"doc_id": np.arange(len(x), dtype=np.int64),
                         "x": x.astype(np.int64), "y": y.astype(np.int64)})


def _array_values(arr: np.ndarray):
    def value(rows, cols):
        h, w = arr.shape
        inside = (rows >= 0) & (rows < h) & (cols >= 0) & (cols < w)
        v = arr[np.clip(rows, 0, h - 1), np.clip(cols, 0, w - 1)]
        return np.where(inside, v, np.nan)
    return value


def _formula_values(rows, cols):
    inside = ((rows >= 0) & (rows < G.RASTER_H)
              & (cols >= 0) & (cols < G.RASTER_W))
    return np.where(inside, G.raster_value_np(rows, cols), np.nan)


def _oracle(value, pts: pd.DataFrame, xres: int) -> dict[str, np.ndarray]:
    """coregRaster semantics (utils.py:89-117), one direct gather per
    buffer: nan-aware mean/min/max/count, NULL stats on an empty disc."""
    pr = pts["y"].to_numpy().astype(np.int64) // xres
    pc = pts["x"].to_numpy().astype(np.int64) // xres
    out = {}
    for b in BUFFERS:
        dr, dc = circle_offsets(radius_px(b, xres))
        vals = value(pr[:, None] + dr[None, :], pc[:, None] + dc[None, :])
        valid = ~np.isnan(vals)
        cnt = valid.sum(axis=1)
        s = np.where(valid, vals, 0.0).sum(axis=1)
        has = cnt > 0
        out[f"mean_{b}"] = np.where(has, s / np.maximum(cnt, 1), np.nan)
        out[f"min_{b}"] = np.where(
            has, np.where(valid, vals, np.inf).min(axis=1), np.nan)
        out[f"max_{b}"] = np.where(
            has, np.where(valid, vals, -np.inf).max(axis=1), np.nan)
        out[f"n_valid_{b}"] = cnt
    return out


def _assert_matches(got: pd.DataFrame, want: dict, n: int,
                    stats=("mean", "min", "max")):
    got = got.sort_values("doc_id").reset_index(drop=True)
    assert got["doc_id"].tolist() == list(range(n)), "one row per point"
    for b in BUFFERS:
        assert np.array_equal(got[f"n_valid_{b}"].to_numpy(),
                              want[f"n_valid_{b}"]), b
        for stat in stats:
            g = got[f"{stat}_{b}"].to_numpy()
            w = want[f"{stat}_{b}"]
            assert np.array_equal(np.isnan(g), np.isnan(w)), (stat, b)
            assert np.array_equal(np.nan_to_num(g, nan=-1.0),
                                  np.nan_to_num(w, nan=-1.0)), (stat, b)


def _strategy(spark, strategy, pts, arr, tile_px=128, xres=G.XRES):
    sdf = spark.createDataFrame(pts)
    if strategy == "broadcast":
        return buffered_stats(sdf, BUFFERS, raster=arr, xres=xres).toPandas()
    h, w = arr.shape
    tiles = tile_table_from_array(spark, arr, tile_px)
    if strategy == "convolve_all":
        return buffered_mean_convolve_all(sdf, tiles, BUFFERS, tile_px,
                                          height=h, width=w).toPandas()
    return buffered_stats_tiled(sdf, tiles, BUFFERS, tile_px, height=h,
                                width=w, xres=xres).toPandas()


_RASTERS = {"integer": lambda: materialize_raster(H, W),
            "float32_nan": lambda: _float_raster(H, W),
            "float64_nan": lambda: _float_raster(H, W, np.float64)}


def test_formula_edge_fallback_matches_oracle(spark):
    """Formula raster: points at its 4096-px edges take the clipping path."""
    pts = _edge_points(G.RASTER_H, G.RASTER_W, G.XRES, 150)
    got = buffered_stats(spark.createDataFrame(pts), BUFFERS).toPandas()
    _assert_matches(got, _oracle(_formula_values, pts, G.XRES), len(pts))


@pytest.mark.parametrize("strategy,raster", [
    *((s, r) for s in ("broadcast", "tiled") for r in sorted(_RASTERS)),
    ("convolve_all", "integer")])
def test_zonal_strategy_matches_oracle_at_edges(spark, strategy, raster):
    """convolve_all clips discs at the raster edge like the others; it
    emits mean and n_valid only, and its chord sums are exact only on
    integer-valued rasters."""
    arr = _RASTERS[raster]()
    pts = _edge_points(H, W, G.XRES, 300)
    _assert_matches(_strategy(spark, strategy, pts, arr),
                    _oracle(_array_values(arr), pts, G.XRES), len(pts),
                    ("mean",) if strategy == "convolve_all"
                    else ("mean", "min", "max"))


@pytest.mark.parametrize("strategy", ["broadcast", "tiled"])
def test_zonal_double_coordinates_match_oracle(spark, strategy):
    """Double-typed x/y are truncated toward zero, then floor-divided
    (numpy's ``astype(np.int64) // xres``): −999.5 and −1,000.5 are both
    pixel −1, −0.25 is pixel 0 and 245,999.9 is pixel 245."""
    rng = np.random.default_rng(7)
    xs = np.concatenate([[245_999.9, 246_000.4, -999.5, -1_000.5, -0.25],
                         rng.uniform(-20_000, (W + 20) * G.XRES, 120)])
    ys = np.concatenate([[265_999.2, -0.25, 100_000.0, -999.5, 300_000.5],
                         rng.uniform(-20_000, (H + 20) * G.XRES, 120)])
    pts = pd.DataFrame({"doc_id": np.arange(len(xs), dtype=np.int64),
                        "x": xs, "y": ys})
    arr = _float_raster(H, W)
    _assert_matches(_strategy(spark, strategy, pts, arr),
                    _oracle(_array_values(arr), pts, G.XRES), len(pts))


def test_formula_raster_rejects_other_xres(spark):
    """The formula raster is defined on 1 km pixels; another ``xres``
    raises instead of mixing two pixel frames."""
    with pytest.raises(ValueError, match="formula raster"):
        buffered_stats(spark.range(1).select("id", F.col("id").alias("x"),
                                             F.col("id").alias("y")),
                       BUFFERS, xres=113)


@pytest.mark.parametrize("strategy", ["broadcast", "tiled"])
def test_zonal_honours_xres(spark, strategy):
    """At 113 m pixels the buffers are discs of r = 7 / 9 / 89 px on both
    strategies, not the 1000 m frame's 1 / 1 / 10."""
    xres, h, w = 113, 300, 340
    assert [radius_px(b, xres) for b in BUFFERS] == [7, 9, 89]
    arr = _float_raster(h, w)
    pts = _edge_points(h, w, xres, 180)
    _assert_matches(_strategy(spark, strategy, pts, arr, 256, xres),
                    _oracle(_array_values(arr), pts, xres), len(pts))


def test_tiled_zonal_reference_scale_on_small_tiles(spark):
    """The reference's 113 m grid with its 700 m / 1 km / 10 km buffers
    (r = 7 / 9 / 89 px) on 64-px tiles: the largest disc spans up to
    four tiles per axis and still matches the oracle bit for bit."""
    xres, h, w = 113, 300, 340
    arr = _float_raster(h, w)
    pts = _edge_points(h, w, xres, 180)
    _assert_matches(_strategy(spark, "tiled", pts, arr, 64, xres),
                    _oracle(_array_values(arr), pts, xres), len(pts))
