"""Real GeoTIFF ingestion (S1-S3 realism gap, VERDICT r1 missing #1).

The reference fixture data/apg18e_1_0_0_20210512.tif (LZW, tiled, float32,
nodata) is decoded by the pure-NumPy TIFF reader; the distributed tile
scan must bit-match the driver-side decode, and the flagship zonal
operator must match a coregRaster-style numpy oracle over the REAL raster
(not the synthetic formula)."""

from __future__ import annotations

import functools
import struct

import numpy as np
import pytest

from air_health_gis_tools_spark.operators.zonal import (buffered_stats,
                                                        buffered_stats_tiled,
                                                        circle_offsets,
                                                        radius_px)
from air_health_gis_tools_spark.sources.geotiff import (geotiff_tile_table,
                                                        read_geotiff,
                                                        read_ifd,
                                                        rowcol_of_xy)
from tests.conftest import TIF

OVR = TIF + ".ovr"

pytestmark = pytest.mark.reference_data(TIF)


@functools.lru_cache(maxsize=1)
def _read_real_raster():
    return read_geotiff(TIF)


@pytest.fixture
def real_raster(reference_data):
    return _read_real_raster()


def test_ifd_parse(real_raster):
    _, info = real_raster
    assert (info.width, info.height) == (7401, 4100)
    assert info.compression == 5 and info.tiled
    assert info.sample_format == 3 and info.bits == 32
    assert info.nodata is not None and info.nodata < -1e38
    # affine captured from the .tfw (pixel-edge origin, negative y-step)
    assert info.transform == (-3901000.0, 1000.0, -1000000.0, -1000.0)


@pytest.mark.reference_data(OVR)
def test_decode_cross_validates_against_overview(real_raster):
    """The .ovr pyramid is an INDEPENDENT decode path (deflate, not LZW):
    nearest 2x subsample of the full-res decode must agree almost
    everywhere bit-for-bit (residual is the overview's own resampling of
    mixed-validity blocks)."""
    full, _ = real_raster
    ovr, oi = read_geotiff(OVR)
    assert oi.compression == 8
    sub = full[0::2, 0::2][:oi.height, :oi.width]
    a = np.nan_to_num(sub, nan=-1.0)
    b = np.nan_to_num(ovr[:sub.shape[0], :sub.shape[1]], nan=-1.0)
    assert (a == b).mean() > 0.98
    # global stats in the ballpark of the (approximate) aux.xml numbers
    v = full[~np.isnan(full)]
    assert v.min() == 0.0
    assert 0.20 < len(v) / full.size < 0.30          # aux: 25.57 % valid


def test_rowcol_of_xy_roundtrip(real_raster):
    _, info = real_raster
    rng = np.random.default_rng(3)
    rows = rng.integers(0, info.height, 200)
    cols = rng.integers(0, info.width, 200)
    x0, xres, y0, yres = info.transform
    # any in-pixel offset must land back in the same pixel
    x = x0 + cols * xres + 0.25 * xres
    y = y0 + rows * yres + 0.75 * yres
    rr, cc = rowcol_of_xy(info, x, y)
    assert np.array_equal(rr, rows)
    assert np.array_equal(cc, cols)


def test_tile_table_bit_matches_driver_decode(spark, real_raster):
    full, info = real_raster
    tiles = geotiff_tile_table(spark, TIF).toPandas()
    assert len(tiles) == len(info.offsets)
    got = np.full_like(full, np.nan)
    for t in tiles.itertuples():
        got[t.row0:t.row0 + t.h, t.col0:t.col0 + t.w] = \
            np.asarray(t.data).reshape(t.h, t.w)
    assert np.array_equal(np.nan_to_num(got, nan=-1.0),
                          np.nan_to_num(full, nan=-1.0))


def test_lzw_roundtrip_properties():
    """decode(encode(x)) == x over adversarial byte strings: long runs
    (deep table chains), random bytes (fast table growth → width bumps at
    511/1023/2047), table-full reset (> 4k entries), and the classic
    KwKwK self-referential pattern."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from air_health_gis_tools_spark.sources.geotiff import (lzw_decode,
                                                            lzw_encode)
    rng = np.random.default_rng(17)
    cases = [
        b"",
        b"A",
        b"ABABABABABAB" * 50,            # KwKwK chains
        bytes(rng.integers(0, 256, 70000, dtype=np.uint8)),  # width bumps+reset
        bytes(1000 * [7]),               # single long run
        bytes(rng.integers(0, 4, 30000, dtype=np.uint8)),    # low-entropy
    ]
    for c in cases:
        assert lzw_decode(lzw_encode(c)) == c, len(c)

    @settings(max_examples=60, deadline=None)
    @given(st.binary(min_size=0, max_size=2000))
    def prop(data):
        assert lzw_decode(lzw_encode(data)) == data

    prop()


def test_geotiff_sink_roundtrip(spark, tmp_path):
    """S9-S11 raster sink: tile table → deflate-tiled GeoTIFF → reader
    restores the raster bit-exactly at float32 precision, incl. nodata→NaN
    and the affine."""
    from air_health_gis_tools_spark.sources.geotiff import write_geotiff
    from air_health_gis_tools_spark.sources.raster import (
        synthetic_tile_table)
    h = w = 300
    tiles = synthetic_tile_table(spark, tile_px=128, height=h, width=w)
    out = str(tmp_path / "out.tif")
    write_geotiff(tiles, out, height=h, width=w, tile_px=128,
                  transform=(-3901000.0, 1000.0, -1000000.0, -1000.0))
    back, info = read_geotiff(out)
    assert (info.width, info.height) == (w, h)
    assert info.compression == 8
    assert info.transform == (-3901000.0, 1000.0, -1000000.0, -1000.0)
    from air_health_gis_tools_spark.sources.raster import materialize_raster
    src = materialize_raster(h, w).astype(np.float32).astype(np.float64)
    assert np.array_equal(np.isnan(back), np.isnan(src))
    both = ~np.isnan(src)
    assert np.array_equal(back[both], src[both])


def test_geotiff_sink_single_tile_inline_tags(spark, tmp_path):
    """ADVICE r2: a single-tile raster (count==1 → tag size 4) must store
    tile offset/count INLINE in the IFD entry value field per TIFF 6.0 —
    a pointer there would be misread as the tile offset itself."""
    from air_health_gis_tools_spark.sources.geotiff import write_geotiff
    from air_health_gis_tools_spark.sources.raster import (
        materialize_raster, synthetic_tile_table)
    h, w = 100, 90
    tiles = synthetic_tile_table(spark, tile_px=128, height=h, width=w)
    out = str(tmp_path / "single.tif")
    write_geotiff(tiles, out, height=h, width=w, tile_px=128)
    back, info = read_geotiff(out)
    assert len(info.offsets) == 1
    src = materialize_raster(h, w).astype(np.float32).astype(np.float64)
    assert np.array_equal(np.isnan(back), np.isnan(src))
    both = ~np.isnan(src)
    assert np.array_equal(back[both], src[both])


def _write_stripped_tiff(path, arr, rows_per_strip):
    """``arr`` as an uncompressed little-endian float64 TIFF in strips of
    ``rows_per_strip`` rows (NaN stays NaN: no nodata tag)."""
    h, w = arr.shape
    strips = [arr[r:r + rows_per_strip].astype("<f8").tobytes()
              for r in range(0, h, rows_per_strip)]
    n = len(strips)
    tags = [(256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 64), (259, 3, 1, 1),
            (273, 4, n, None), (277, 3, 1, 1), (278, 4, 1, rows_per_strip),
            (279, 4, n, None), (339, 3, 1, 3)]
    offsets_at = 8 + 2 + 12 * len(tags) + 4
    counts_at = offsets_at + 4 * n
    data_at = counts_at + 4 * n
    with open(path, "wb") as f:
        f.write(b"II*\x00" + struct.pack("<IH", 8, len(tags)))
        for tag, typ, cnt, val in tags:
            if tag in (273, 279):
                val = offsets_at if tag == 273 else counts_at
            f.write(struct.pack("<HHI", tag, typ, cnt)
                    + struct.pack("<H" if typ == 3 else "<I", val)
                    .ljust(4, b"\x00"))
        f.write(struct.pack("<I", 0))
        f.write(struct.pack(f"<{n}I", *np.cumsum(
            [data_at] + [len(s) for s in strips[:-1]]).tolist()))
        f.write(struct.pack(f"<{n}I", *[len(s) for s in strips]))
        f.write(b"".join(strips))


def test_geotiff_scan_tiled_and_stripped_without_exchange(spark, tmp_path):
    """The distributed GeoTIFF scan reads a tiled file (partial edge
    tiles, nodata) and a stripped one (a grid of one tile column) into the
    raster the driver-side decode gives, one row per block, over a range
    split into its partitions with no Exchange."""
    from air_health_gis_tools_spark.sources.geotiff import write_geotiff
    from air_health_gis_tools_spark.sources.raster import (
        tile_table_from_array, tile_table_to_array)
    rng = np.random.default_rng(11)
    arr = rng.integers(0, 1000, size=(45, 37)).astype(np.float64)
    arr[rng.random(arr.shape) < 0.2] = np.nan
    tiled, stripped = str(tmp_path / "t.tif"), str(tmp_path / "s.tif")
    write_geotiff(tile_table_from_array(spark, arr, tile_px=16), tiled,
                  height=45, width=37, tile_px=16)
    _write_stripped_tiff(stripped, arr, rows_per_strip=7)
    for path, n_blocks in ((tiled, 9), (stripped, 7)):
        tiles = geotiff_tile_table(spark, path, n_partitions=4)
        plan = tiles._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert tiles.rdd.getNumPartitions() == 4
        assert tiles.count() == n_blocks
        want, _ = read_geotiff(path)
        assert np.array_equal(tile_table_to_array(tiles), want,
                              equal_nan=True)
        assert np.array_equal(want, arr, equal_nan=True)


def _probe_points(info, n=300):
    """Deterministic interior points in the engine's positive planar frame
    (row = y // 1000): ≥ 16 px from every edge so all buffers fit."""
    ids = np.arange(n, dtype=np.int64)
    rows = 16 + (ids * 16807 + 23) % (info.height - 32)
    cols = 16 + (ids * 48271 + 11) % (info.width - 32)
    x = cols * 1000 + 137
    y = rows * 1000 + 500
    return ids, rows, cols, x, y


def _np_zonal_oracle(arr, rows, cols, buffers):
    """coregRaster semantics (utils.py:89-117): nan-aware mean/min/max/
    count over the circle — the same vectorized expressions as the Spark
    kernel so float sums are ORDER-IDENTICAL (bit parity for the
    broadcast path)."""
    out = {}
    for b in buffers:
        dr, dc = circle_offsets(radius_px(b))
        vals = arr[rows[:, None] + dr[None, :], cols[:, None] + dc[None, :]]
        valid = ~np.isnan(vals)
        cnt = valid.sum(axis=1)
        s = np.where(valid, vals, 0.0).sum(axis=1)
        has = cnt > 0
        out[f"mean_{b}"] = np.where(has, s / np.maximum(cnt, 1), np.nan)
        out[f"min_{b}"] = np.where(valid, vals, np.inf).min(axis=1)
        out[f"max_{b}"] = np.where(valid, vals, -np.inf).max(axis=1)
        out[f"min_{b}"] = np.where(has, out[f"min_{b}"], np.nan)
        out[f"max_{b}"] = np.where(has, out[f"max_{b}"], np.nan)
        out[f"n_valid_{b}"] = cnt
    return out


BUFFERS = [700, 1000, 10000]


def test_real_raster_zonal_broadcast_bit_parity(spark, real_raster):
    """q01-style zonal over the REAL raster: broadcast-raster kernel ==
    numpy oracle, bit for bit (identical vectorized expressions)."""
    full, info = real_raster
    ids, rows, cols, x, y = _probe_points(info)
    pts = spark.createDataFrame(
        [(int(i), int(a), int(b)) for i, a, b in zip(ids, x, y)],
        "doc_id long, x long, y long")
    got = (buffered_stats(pts, BUFFERS, raster=full)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    want = _np_zonal_oracle(full, rows, cols, BUFFERS)
    for b in BUFFERS:
        for stat in ("mean", "min", "max", "n_valid"):
            g = got[f"{stat}_{b}"].to_numpy()
            w = want[f"{stat}_{b}"]
            assert np.array_equal(np.nan_to_num(g, nan=-1.0),
                                  np.nan_to_num(w, nan=-1.0)), (stat, b)


def test_real_raster_zonal_tiled_parity(spark, real_raster):
    """Scale path over the real raster: tile-cogroup zonal == oracle.
    count/min/max exact; means to 1e-9 relative (per-tile partial sums
    reorder float32-origin additions — integer-exactness is a property of
    the synthetic corpus, not of arbitrary rasters)."""
    full, info = real_raster
    ids, rows, cols, x, y = _probe_points(info)
    pts = spark.createDataFrame(
        [(int(i), int(a), int(b)) for i, a, b in zip(ids, x, y)],
        "doc_id long, x long, y long")
    tiles = geotiff_tile_table(spark, TIF)
    got = (buffered_stats_tiled(pts, tiles, BUFFERS, tile_px=128,
                                height=info.height, width=info.width,
                                xres=1000)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    assert len(got) == len(ids)
    want = _np_zonal_oracle(full, rows, cols, BUFFERS)
    for b in BUFFERS:
        assert np.array_equal(got[f"n_valid_{b}"].to_numpy(),
                              want[f"n_valid_{b}"]), b
        for stat in ("min", "max"):
            g = got[f"{stat}_{b}"].to_numpy()
            assert np.array_equal(np.nan_to_num(g, nan=-1.0),
                                  np.nan_to_num(want[f"{stat}_{b}"],
                                                nan=-1.0)), (stat, b)
        g = got[f"mean_{b}"].to_numpy()
        w = want[f"mean_{b}"]
        both = ~np.isnan(w)
        assert np.array_equal(np.isnan(g), np.isnan(w)), b
        assert np.allclose(g[both], w[both], rtol=1e-9, atol=0), b
