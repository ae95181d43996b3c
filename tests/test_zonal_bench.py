"""Micro-benches of the zonal disc kernel on one Arrow batch.

``_disc_stats`` over a 1024² float64 raster with 25 % nodata, read
through the broadcast path's window lookup: one 2,048-point batch at the
engine's default radii (1 km pixels: r = 1 / 1 / 10) and one 256-point
batch at reference scale (113 m pixels: r = 7 / 9 / 89). Timings land in
pytest-benchmark's table; the assertions only check the output shape.
"""

from __future__ import annotations

import numpy as np
import pytest

from air_health_gis_tools_spark.operators import zonal

BUFFERS = [700, 1000, 10000]


@pytest.fixture(scope="module")
def raster():
    rng = np.random.default_rng(14)
    arr = rng.uniform(0, 4000, (1024, 1024))
    arr[rng.random(arr.shape) < 0.25] = np.nan
    return arr


@pytest.mark.parametrize("xres, n_points", [(1000, 2048), (113, 256)],
                         ids=["r10_2048pt", "r89_256pt"])
def test_disc_stats_batch(benchmark, raster, xres, n_points):
    rng = np.random.default_rng(xres)
    pr = rng.integers(0, raster.shape[0], n_points)
    pc = rng.integers(0, raster.shape[1], n_points)
    offsets = [zonal.buffer_offsets(b, "canonical", xres) for b in BUFFERS]
    value_at = zonal._window_lookup(raster)
    out = benchmark.pedantic(zonal._disc_stats, (pr, pc, offsets, value_at),
                             rounds=5, warmup_rounds=1)
    assert len(out) == len(BUFFERS)
    assert all(len(a) == n_points for stats in out for a in stats)
