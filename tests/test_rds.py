"""S4 RDS point scans — the reference's own point fixtures, read by the
pure-Python R-serialization parser, driven end-to-end against the
reference's own GeoTIFF raster (the exact workflow of
extract_point_from_raster_buffer.py: pyreadr points + rasterio raster)."""

from __future__ import annotations

import glob

import numpy as np
import pytest

from air_health_gis_tools_spark.sources.rds import rds_to_pandas
from tests.conftest import GRIDS, TIF

pytestmark = pytest.mark.usefixtures("reference_data")


@pytest.mark.reference_data(f"{GRIDS}/100_testing_points.rds",
                            f"{GRIDS}/NSW_points_1km.rds")
def test_every_reference_grid_parses():
    shapes = {}
    for p in sorted(glob.glob(f"{GRIDS}/*.rds")):
        df = rds_to_pandas(p)
        shapes[p.rsplit("/", 1)[1]] = df.shape
        assert df.shape[0] > 0 and df.shape[1] >= 3
    assert shapes["100_testing_points.rds"] == (100, 3)
    assert shapes["NSW_points_1km.rds"] == (1755120, 3)


@pytest.mark.reference_data(f"{GRIDS}/NSW_points_1km.rds",
                            f"{GRIDS}/nsw_points_1km_test.rds")
def test_altrep_and_plain_serializations_agree():
    """NSW_points_1km.rds uses ALTREP compact/wrapped vectors;
    nsw_points_1km_test.rds carries the same table in plain vectors —
    both decode paths must produce bit-identical columns."""
    a = rds_to_pandas(f"{GRIDS}/NSW_points_1km.rds")
    b = rds_to_pandas(f"{GRIDS}/nsw_points_1km_test.rds")
    assert np.array_equal(a["FID"].to_numpy(), b["FID"].to_numpy())
    assert np.array_equal(a["x"].to_numpy(), b["X"].to_numpy())
    assert np.array_equal(a["y"].to_numpy(), b["Y"].to_numpy())


@pytest.mark.reference_data(TIF, f"{GRIDS}/AUS_points_5km.rds")
def test_coordinates_sit_inside_reference_raster():
    from air_health_gis_tools_spark.sources.geotiff import (read_ifd,
                                                            rowcol_of_xy)
    info = read_ifd(TIF)
    df = rds_to_pandas(f"{GRIDS}/AUS_points_5km.rds")
    r, c = rowcol_of_xy(info, df["X"].to_numpy(), df["Y"].to_numpy())
    inside = ((r >= 0) & (r < info.height)
              & (c >= 0) & (c < info.width)).mean()
    assert inside > 0.99


@pytest.mark.reference_data(TIF, f"{GRIDS}/NSW_points_1km.rds")
def test_reference_workflow_rds_points_x_geotiff_zonal(spark):
    """THE reference pipeline on the reference's own inputs: RDS point
    grid + apg18e GeoTIFF + buffers 700/1000/10000 — tiled zonal vs a
    numpy oracle over the decoded raster (exact count/min/max, 1e-9
    means)."""
    from air_health_gis_tools_spark.operators.zonal import (
        buffered_stats_tiled, circle_offsets, radius_px)
    from air_health_gis_tools_spark.sources.geotiff import (
        geotiff_tile_table, read_geotiff, rowcol_of_xy)
    full, info = read_geotiff(TIF)
    pts = rds_to_pandas(f"{GRIDS}/NSW_points_1km.rds").iloc[::4096]
    rows, cols = rowcol_of_xy(info, pts["x"].to_numpy(),
                              pts["y"].to_numpy())
    ok = ((rows >= 16) & (rows < info.height - 16)
          & (cols >= 16) & (cols < info.width - 16))
    rows, cols = rows[ok], cols[ok]
    fids = pts["FID"].to_numpy()[ok]
    assert len(fids) > 300
    sdf = spark.createDataFrame(
        [(int(f), int(c) * 1000 + 500, int(r) * 1000 + 500)
         for f, r, c in zip(fids, rows, cols)],
        "doc_id long, x long, y long")
    tiles = geotiff_tile_table(spark, TIF)
    got = (buffered_stats_tiled(sdf, tiles, [700, 1000, 10000],
                                tile_px=128, height=info.height,
                                width=info.width, xres=1000)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    order = np.argsort(fids, kind="stable")
    rows, cols = rows[order], cols[order]
    assert np.array_equal(got["doc_id"].to_numpy(), np.sort(fids))
    for b in (700, 1000, 10000):
        dr, dc = circle_offsets(radius_px(b))
        vals = full[rows[:, None] + dr[None, :],
                    cols[:, None] + dc[None, :]]
        valid = ~np.isnan(vals)
        cnt = valid.sum(axis=1)
        assert np.array_equal(got[f"n_valid_{b}"].to_numpy(), cnt), b
        s = np.where(valid, vals, 0.0).sum(axis=1)
        want = np.where(cnt > 0, s / np.maximum(cnt, 1), np.nan)
        g = got[f"mean_{b}"].to_numpy()
        assert np.array_equal(np.isnan(g), np.isnan(want)), b
        m = ~np.isnan(want)
        assert np.allclose(g[m], want[m], rtol=1e-9, atol=0), b
