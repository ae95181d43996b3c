"""Expected outputs computed with plain numpy/pandas, outside Spark.

Inputs come only from ``geo_synth`` (the integer geometry every engine
shares) and the page generator; nothing here calls an operator, so a wrong
kernel cannot also produce the value it is checked against.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from air_health_gis_tools_spark import geo_synth as G

BUFFERS_M = tuple(G.BUFFERS_M)


def sample_ids(lo: int, n: int, k: int = 64) -> np.ndarray:
    """``k`` ids spread over ``[lo, lo + n)``, including clustered ones."""
    return np.unique(lo + (np.arange(k, dtype=np.int64) * n) // k
                     + np.arange(k, dtype=np.int64) % 5)


def zonal(ids: np.ndarray) -> pd.DataFrame:
    """mean/min/max/n_valid per buffer: pixels with d² ≤ ceil(B/xres)²
    around the point's containing pixel, nodata skipped."""
    x, y = G.point_xy_np(ids)
    r0, c0 = y // G.XRES, x // G.XRES
    out = {"doc_id": ids}
    for b in BUFFERS_M:
        rpx = max(math.ceil(b / G.XRES), 1)
        d = np.arange(-rpx, rpx + 1)
        dr, dc = np.meshgrid(d, d, indexing="ij")
        keep = dr * dr + dc * dc <= rpx * rpx
        vals = G.raster_value_np(r0[:, None] + dr[keep][None, :],
                                 c0[:, None] + dc[keep][None, :])
        out[f"mean_{b}"] = np.nansum(vals, axis=1) / np.sum(
            ~np.isnan(vals), axis=1)
        out[f"min_{b}"] = np.nanmin(vals, axis=1)
        out[f"max_{b}"] = np.nanmax(vals, axis=1)
        out[f"n_valid_{b}"] = np.sum(~np.isnan(vals), axis=1)
    return pd.DataFrame(out)


def nearest_monitor(ids: np.ndarray) -> pd.DataFrame:
    """Bounded 1-NN over all monitors; ties go to the smaller id."""
    x, y = G.point_xy_np(ids)
    mids = np.arange(G.N_MONITORS, dtype=np.int64)
    mx, my = G.monitor_xy_np(mids)
    d2 = (x[:, None] - mx[None, :]) ** 2 + (y[:, None] - my[None, :]) ** 2
    j = np.argmin(d2, axis=1)        # first minimum = smallest id
    best = d2[np.arange(len(ids)), j]
    ok = best <= G.KNN_BOUND_M ** 2
    return pd.DataFrame({
        "doc_id": ids,
        "monitor_id": np.where(ok, mids[j], -1),
        "dist_m": np.where(ok, np.sqrt(best.astype(np.float64)), np.nan)})


def pip_counts(lo: int, n: int) -> pd.DataFrame:
    """Points of ``[lo, lo + n)`` inside each circle polygon."""
    pids = np.arange(G.N_POLYS, dtype=np.int64)
    cx, cy, r = G.poly_circle_np(pids)
    counts = np.zeros(G.N_POLYS, dtype=np.int64)
    for s in range(lo, lo + n, 65_536):
        x, y = G.point_xy_np(np.arange(s, min(s + 65_536, lo + n)))
        inside = ((x[:, None] - cx) ** 2 + (y[:, None] - cy) ** 2
                  <= r * r)
        counts += inside.sum(axis=0)
    return pd.DataFrame({"poly_id": pids, "n_points": counts})


def curated(pages: pd.DataFrame) -> pd.DataFrame:
    """Curation of generator pages: one row per page url, then the
    lexicographically first url per distinct text."""
    keep = pages.groupby("text")["url"].transform("min") == pages["url"]
    return (pages.loc[keep, ["url", "text"]]
            .sort_values("url").reset_index(drop=True))
