"""Golden tests pinning the reference's exact quirky semantics
(SURVEY.md §5.1, §7.4 risks 1-2):

- A1  ``points_in_circle``/``coregRaster`` — intceil loop bounds, asymmetric
  pixel set, nansum/valid-count (Archived_scripts/utils.py:69-117)
- F8  ``create_buffer`` +1 radius-shrink quirk (extract_raster_buffer.py:94-102)
- A2  ``buffer_convolve`` — kernel-AREA division, NaN→0 fill, edge-extend
  (extract_raster_buffer.py:68-80), reproduced bit-for-bit by the
  distributed tile+halo convolution
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from air_health_gis_tools_spark import geo_synth as G
from air_health_gis_tools_spark.functions.ref_compat import (
    convolve_extend, ref_buffer_convolve, ref_circle_pixel_offsets,
    ref_coreg_raster, ref_create_buffer_mask)
from air_health_gis_tools_spark.operators.convolve import convolve_tiles
from air_health_gis_tools_spark.operators.zonal import buffered_stats
from air_health_gis_tools_spark.sources.raster import (materialize_raster,
                                                       synthetic_tile_table)


def test_ref_circle_offsets_match_literal_loop():
    """Pin the intceil generator semantics against a direct transcription."""
    for r in (1.0, 1.5, 3.0, 7.0, 10.0):
        want = []
        for i in range(math.ceil(-r), math.ceil(r)):
            ri = math.sqrt(r * r - i * i)
            for j in range(math.ceil(-ri), math.ceil(ri)):
                want.append((i, j))
        dr, dc = ref_circle_pixel_offsets(r)
        assert list(zip(dr.tolist(), dc.tolist())) == want, r


def test_ref_circle_is_asymmetric():
    """The quirks worth pinning for integer r (here 3):
    - row -r is EMPTY (chord width 0 → range(0,0)), row +r absent too;
    - within a row, col -r is included but +r is excluded (half-open range);
    - so the set is asymmetric: 26 pixels, not the 29 of d² ≤ 9."""
    s = set(zip(*(a.tolist() for a in ref_circle_pixel_offsets(3.0))))
    assert (-3, 0) not in s and (3, 0) not in s      # ±r rows both absent
    assert (0, -3) in s and (0, 3) not in s          # -r col in, +r col out
    assert (-2, -2) in s and (2, 2) in s             # chord ±sqrt(5)→±2 both
    assert len(s) == 26


def test_create_buffer_mask_quirk():
    """dist = true_dist + 1 ⇒ effective radius r-1 exactly."""
    for r in (3, 5, 10):
        mask = ref_create_buffer_mask(r)
        n = 2 * r - 1
        yy, xx = np.mgrid[0:n, 0:n]
        true_d = np.sqrt((xx - (r - 1)) ** 2 + (yy - (r - 1)) ** 2)
        assert np.array_equal(mask > 0, true_d <= r - 1), r
        assert mask[r - 1, 0] == 1.0   # leftmost: distance r-1 → included
        assert mask[0, 0] == 0.0       # corner: sqrt(2)(r-1) → excluded


def test_spark_ref_mode_matches_coreg_raster_oracle(spark):
    """Spark zonal kernel in mode='ref_loop' == scalar coregRaster replica
    on the materialized raster, point by point."""
    sub_h = sub_w = 256
    raster = materialize_raster(sub_h, sub_w)
    rng = np.random.default_rng(11)
    # points inside the subraster, interior enough for r=10 (margin 12 px)
    xs = rng.integers(12_000, (sub_w - 12) * 1000, 200)
    ys = rng.integers(12_000, (sub_h - 12) * 1000, 200)
    pdf = spark.createDataFrame(
        [(int(i), int(x), int(y)) for i, (x, y) in enumerate(zip(xs, ys))],
        "doc_id long, x long, y long")
    out = (buffered_stats(pdf, [10_000], mode="ref_loop")
           .orderBy("doc_id").toPandas())
    for i in range(len(xs)):
        i0 = ys[i] // 1000  # row
        j0 = xs[i] // 1000  # col
        want = ref_coreg_raster(int(i0), int(j0), raster, 10.0)
        got = out["mean_10000"].iloc[i]
        if math.isnan(want):
            assert math.isnan(got)
        else:
            assert got == want, i  # bit-identical (exact integer sums)


@pytest.mark.parametrize("tile_px,r", [(128, 10), (16, 22)])
def test_distributed_convolution_bit_identical_to_reference(spark, tile_px,
                                                            r):
    """Tile+halo convolve_tiles == whole-array ref_buffer_convolve,
    including raster-edge replication, bit for bit; also when the halo
    (21 px for the 43×43 mask of r = 22) is wider than a tile."""
    h = w = 512
    tiles = synthetic_tile_table(spark, tile_px=tile_px, height=h, width=w)
    out = convolve_tiles(tiles, ref_create_buffer_mask(r), tile_px,
                         height=h, width=w).toPandas()
    got = np.full((h, w), np.nan)
    for t in out.itertuples():
        got[t.row0:t.row0 + t.h, t.col0:t.col0 + t.w] = \
            np.asarray(t.data).reshape(t.h, t.w)
    want = ref_buffer_convolve(materialize_raster(h, w), r)
    assert np.array_equal(got, want)


def test_convolve_extend_known_values():
    """Hand-checkable 3x3 kernel case incl. NaN fill and edge extend."""
    arr = np.array([[1.0, 2.0], [np.nan, 4.0]])
    kernel = np.ones((3, 3))
    out = convolve_extend(arr, kernel)
    # padded (edge-replicated, NaN→0):
    # 1 1 2 2 / 1 1 2 2 / 0 0 4 4 / 0 0 4 4
    assert out[0, 0] == pytest.approx((1 + 1 + 2 + 1 + 1 + 2 + 0 + 0 + 4) / 9)
    assert out[1, 1] == pytest.approx((1 + 2 + 2 + 0 + 4 + 4 + 0 + 4 + 4) / 9)
