"""Cross-strategy equivalence tests: every operator's scale-path physical
strategy must produce bit-identical results to its oracle-verified default
(SURVEY.md §5 items 2 and 4)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from air_health_gis_tools_spark import geo_synth as G
from air_health_gis_tools_spark.functions.cells import hex_assign_np
from air_health_gis_tools_spark.functions.geocode import with_xy
from air_health_gis_tools_spark.operators.convolve import (
    convolve_sum_count_tiles, convolve_tiles)
from air_health_gis_tools_spark.operators.knn import (knn_broadcast_np,
                                                      knn_cell_join)
from air_health_gis_tools_spark.operators.warp import (
    resample_tiles_bilinear, resample_tiles_lanczos, resample_tiles_nearest)
from air_health_gis_tools_spark.operators.zonal import (
    buffered_mean_convolve_all, buffered_stats, buffered_stats_tiled)
from air_health_gis_tools_spark.sources.raster import synthetic_tile_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def pts(spark):
    df = with_xy(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    return df.select("doc_id", "x", "y").cache()


def _sorted_pdf(df):
    pdf = df.toPandas()
    return pdf.sort_values("doc_id").reset_index(drop=True)


def test_tiled_zonal_equals_formula_kernel(spark, pts):
    """Scale path (tile table + cogroup partial/final agg) == broadcast/
    formula kernel, bit for bit."""
    tiles = synthetic_tile_table(spark, tile_px=256)
    a = _sorted_pdf(buffered_stats_tiled(pts, tiles, list(G.BUFFERS_M), 256))
    b = _sorted_pdf(buffered_stats(pts, list(G.BUFFERS_M))
                    .select(a.columns.tolist()))
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            assert np.array_equal(np.nan_to_num(av, nan=-1.0),
                                  np.nan_to_num(bv, nan=-1.0)), c
        else:
            assert np.array_equal(av, bv), c


def test_tiled_zonal_salting_is_transparent(spark, pts):
    """Force the hot-tile path (tiny hot_group_rows → every tile salted,
    several salt groups each): outputs must be bit-identical — salting only
    regroups (point, tile) partials, it never splits one."""
    tiles = synthetic_tile_table(spark, tile_px=256)
    a = _sorted_pdf(buffered_stats_tiled(pts, tiles, list(G.BUFFERS_M), 256,
                                         hot_group_rows=8, max_salt=4))
    b = _sorted_pdf(buffered_stats_tiled(pts, tiles, list(G.BUFFERS_M), 256))
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            assert np.array_equal(np.nan_to_num(av, nan=-1.0),
                                  np.nan_to_num(bv, nan=-1.0)), c
        else:
            assert np.array_equal(av, bv), c


def test_tiled_zonal_keeps_points_outside_coverage(spark, pts):
    """A point whose buffers fall entirely on missing tiles (out-of-coverage
    raster) must still appear in the output with n_valid = 0 and NULL stats
    — row-count parity with the broadcast-kernel strategy."""
    tiles = synthetic_tile_table(spark, tile_px=256)
    # drop the tiles under the first point's neighborhood
    one = pts.orderBy("doc_id").limit(1).collect()[0]
    tr = (one["y"] // G.XRES) // 256
    tc = (one["x"] // G.XRES) // 256
    drop = [int((tr + i) * (1 << 32) + (tc + j))
            for i in (-1, 0, 1) for j in (-1, 0, 1)]
    holey = tiles.filter(~F.col("tile_id").isin(drop))
    out = _sorted_pdf(
        buffered_stats_tiled(pts, holey, list(G.BUFFERS_M), 256))
    assert len(out) == pts.count(), "every point keeps a row"
    row = out[out["doc_id"] == one["doc_id"]].iloc[0]
    assert row["n_valid_10000"] == 0 or np.isfinite(row["mean_10000"])


def test_tiled_zonal_double_coordinates(spark, pts):
    """The tiled operator accepts double-typed x/y with the same result as
    BIGINT coordinates (test_zonal_parity checks fractional ones against
    the oracle)."""
    tiles = synthetic_tile_table(spark, tile_px=256)
    dbl = pts.select("doc_id", F.col("x").cast("double").alias("x"),
                     F.col("y").cast("double").alias("y"))
    a = _sorted_pdf(buffered_stats_tiled(dbl, tiles, list(G.BUFFERS_M), 256))
    b = _sorted_pdf(buffered_stats_tiled(pts, tiles, list(G.BUFFERS_M), 256))
    pd.testing.assert_frame_equal(a, b, check_exact=True)


@pytest.mark.parametrize("op", ["tiled", "convolve_all"])
def test_zonal_salt_accepts_any_bigint_id(spark, pts, op):
    """The salt hash takes any BIGINT id: ids near ±2⁶² and negative ones
    (a multiplicative hash overflowed under ANSI for |id| > 3.47·10⁹,
    even in unsalted groups) give the same rows as small ids."""
    tiles = synthetic_tile_table(spark, tile_px=256)
    small = pts.orderBy("doc_id").limit(400).toPandas()
    odd = small["doc_id"] % 2 == 1
    big = small.assign(doc_id=np.where(odd, small["doc_id"] - (1 << 62),
                                       (1 << 62) - 1 - small["doc_id"]))
    if op == "tiled":
        run = lambda df: buffered_stats_tiled(  # noqa: E731
            df, tiles, list(G.BUFFERS_M), 256, hot_group_rows=4, max_salt=4)
    else:
        run = lambda df: buffered_mean_convolve_all(  # noqa: E731
            df, tiles, list(G.BUFFERS_M), 256)
    a = _sorted_pdf(run(spark.createDataFrame(small)))
    b = run(spark.createDataFrame(big)).toPandas()
    b["doc_id"] = b["doc_id"].map(dict(zip(big["doc_id"], small["doc_id"])))
    b = b.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=True)


_HALO_OPS = {
    "convolve_tiles": lambda t, pts, n: convolve_tiles(
        t, np.ones((3, 3)), 128, height=n, width=n),
    "convolve_sum_count_tiles": lambda t, pts, n: convolve_sum_count_tiles(
        t, {"k": np.ones((3, 3))}, 128, height=n, width=n),
    "buffered_mean_convolve_all": lambda t, pts, n:
        buffered_mean_convolve_all(pts, t, list(G.BUFFERS_M), 128,
                                   height=n, width=n),
    "resample_tiles_nearest": lambda t, pts, n: resample_tiles_nearest(
        t, 2, 128, height=n, width=n),
    "resample_tiles_bilinear": lambda t, pts, n: resample_tiles_bilinear(
        t, 2, 128, height=n, width=n),
    "resample_tiles_lanczos": lambda t, pts, n: resample_tiles_lanczos(
        t, 2, 128, height=n, width=n),
}


@pytest.mark.parametrize("row0", [G.RASTER_H + 3000, -3000])
@pytest.mark.parametrize("op", sorted(_HALO_OPS))
def test_convolve_all_rejects_tile_outside_raster(spark, pts, op, row0):
    """A tile row outside the raster belongs to no output group (lo > hi
    in ``halo_groups``); every tiled raster operator must fail the job,
    not drop the tile or fan it out over a descending sequence."""
    n = 512
    tiles = synthetic_tile_table(spark, tile_px=128, height=n, width=n)
    bad = tiles.withColumn(
        "row0", F.when(F.col("tile_id") == 0, F.lit(row0))
        .otherwise(F.col("row0")))
    out = _HALO_OPS[op](bad, pts, n)
    with pytest.raises(Exception, match="tile row0=-?[0-9]+ lies outside"):
        out.collect()


@pytest.mark.parametrize("group_px,before,after", [(128, 10, 10),
                                                    (100, 0, 1),
                                                    (64, 70, 3)])
def test_halo_groups_ships_window_strips(spark, group_px, before, after):
    """``halo_groups`` ships, per (tile, group), exactly the pixels of the
    tile inside the group's padded window: the shipped area equals the
    sum of window ∩ tile areas, every piece holds the raster's pixels at
    its origin, and pasting a group's pieces rebuilds its window."""
    from air_health_gis_tools_spark.sources.raster import (
        fill_window, halo_groups, materialize_raster, tile_table_from_array)
    h, w, tile = 300, 340, 96
    arr = materialize_raster(h, w)
    got = halo_groups(tile_table_from_array(spark, arr, tile), group_px,
                      before, after, h, w).toPandas()

    def cut(g, lo, n):
        return (max(g * group_px - before, lo),
                min((g + 1) * group_px + after, lo + n))

    want = {}
    for tr in range(-(-h // tile)):
        for tc in range(-(-w // tile)):
            th, tw = min(tile, h - tr * tile), min(tile, w - tc * tile)
            for gr in range(-(-h // group_px)):
                for gc in range(-(-w // group_px)):
                    r0, r1 = cut(gr, tr * tile, th)
                    c0, c1 = cut(gc, tc * tile, tw)
                    if r0 < r1 and c0 < c1:
                        want[(tr * (1 << 32) + tc, gr * (1 << 32) + gc)] = (
                            r0, c0, r1 - r0, c1 - c0)
    assert sorted(zip(got["tile_id"], got["group_id"])) == sorted(want)
    assert (got["data"].map(len).sum()
            == sum(a * b for _, _, a, b in want.values()))
    for t in got.itertuples():
        assert (t.row0, t.col0, t.h, t.w) == want[(t.tile_id, t.group_id)]
        assert np.array_equal(np.asarray(t.data).reshape(t.h, t.w),
                              arr[t.row0:t.row0 + t.h, t.col0:t.col0 + t.w],
                              equal_nan=True)
    padded = np.pad(arr, max(before, after) + group_px,
                    constant_values=np.nan)
    off = max(before, after) + group_px
    for g, pdf in got.groupby("group_id"):
        wr0 = (g >> 32) * group_px - before
        wc0 = (g & 0xFFFFFFFF) * group_px - before
        n = group_px + before + after
        assert np.array_equal(
            fill_window(pdf, wr0, wc0, n, n),
            padded[off + wr0:off + wr0 + n, off + wc0:off + wc0 + n],
            equal_nan=True)


def test_pip_counts_points_at_negative_coordinates(spark):
    """Both sides of the PIP cell join floor-divide: a point at negative
    coordinates keys to a cell its circle's cover lists, so it is
    counted (truncation put (-22000, -30000) in cell x = 0, outside the
    cover x ∈ {-2, -1} of the circle centred at x = -30000)."""
    from air_health_gis_tools_spark.operators.pip import pip_circle_counts
    polys = spark.createDataFrame(
        [(0, -30_000, -30_000, 10_000), (1, 30_000, 30_000, 10_000)],
        "poly_id long, cx long, cy long, r long")
    pts = spark.createDataFrame(
        [(0, -22_000, -30_000), (1, -30_000, -30_000), (2, 30_000, 30_000)],
        "doc_id long, x long, y long")
    got = sorted(tuple(r) for r in pip_circle_counts(pts, polys).collect())
    assert got == [(0, 2), (1, 1)]


def test_knn_cell_join_equals_broadcast(spark, pts):
    ids = np.arange(G.N_MONITORS, dtype=np.int64)
    mx, my = G.monitor_xy_np(ids)
    from air_health_gis_tools_spark.plans.queries import monitors_df
    a = _sorted_pdf(knn_cell_join(pts, monitors_df(spark), G.KNN_BOUND_M)
                    .select("doc_id", "monitor_id", "dist_m"))
    b = _sorted_pdf(knn_broadcast_np(pts, (mx, my, ids), G.KNN_BOUND_M)
                    .select("doc_id", "monitor_id", "dist_m"))
    pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                  obj="cell_join vs broadcast")


def test_radius_kernel_equals_cell_join(spark, pts):
    from air_health_gis_tools_spark.operators.pip import (radius_count,
                                                          radius_count_np)
    from air_health_gis_tools_spark.plans.queries import monitors_df
    ids = np.arange(G.N_MONITORS, dtype=np.int64)
    mx, my = G.monitor_xy_np(ids)
    a = _sorted_pdf(radius_count(pts, monitors_df(spark), 25_000))
    b = _sorted_pdf(radius_count_np(pts, (mx, my), 25_000))
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


@pytest.mark.parametrize("kernel", ["cell_join", "broadcast"])
def test_knn_nearest_across_cell_border(spark, kernel):
    """A monitor just across a cell border must beat a same-cell hit
    (SURVEY §7.4.6): the point sits 10 m left of the border, monitor 10 is
    in its cell ~50 km away, monitor 20 is in the next cell 510 m away."""
    cell = 50_000
    px, py = 2 * cell - 10, cell // 2
    ax, ay = cell + 5, cell // 2
    bx, by = 2 * cell + 500, cell // 2
    pts1 = spark.createDataFrame([(1, px, py)], "doc_id long, x long, y long")
    if kernel == "cell_join":
        mons = spark.createDataFrame([(10, ax, ay), (20, bx, by)],
                                     "monitor_id long, mx long, my long")
        out = knn_cell_join(pts1, mons, bound_m=cell)
    else:
        out = knn_broadcast_np(pts1, (np.array([ax, bx]), np.array([ay, by]),
                                      np.array([10, 20])), bound_m=cell)
    row = out.toPandas().iloc[0]
    assert row["monitor_id"] == 20
    assert row["dist_m"] == pytest.approx(510.0)


def _knn_radius(spark, points, monitors, bound):
    """(kNN rows, radius counts) of ``knn_cell_join`` and ``radius_count``
    over the same ``(doc_id, x, y)`` / ``(monitor_id, mx, my)`` tuples."""
    from air_health_gis_tools_spark.operators.pip import radius_count
    pts = spark.createDataFrame(points, "doc_id long, x long, y long")
    mons = spark.createDataFrame(monitors,
                                 "monitor_id long, mx long, my long")
    knn = {r["doc_id"]: (r["monitor_id"], r["dist_m"])
           for r in knn_cell_join(pts, mons, bound).collect()}
    cnt = {r["doc_id"]: r["n_in_radius"]
           for r in radius_count(pts, mons, bound).collect()}
    return knn, cnt


def test_knn_and_radius_equal_brute_force_across_axes(spark):
    """Points and monitors on both sides of x = 0 and y = 0, on a coarse
    grid so exact-bound distances and equal-d² ties are common: kNN and
    radius equal a numpy brute force with the (d², monitor_id) order."""
    rng = np.random.default_rng(7)
    bound = 50_000
    px, py = (rng.integers(-30, 31, 300) * 5_000 for _ in range(2))
    mx, my = (rng.integers(-60, 61, 25) * 5_000 for _ in range(2))
    mids = rng.permutation(25) + 100
    knn, cnt = _knn_radius(
        spark, [(i, int(a), int(b)) for i, (a, b) in enumerate(zip(px, py))],
        [(int(m), int(a), int(b)) for m, a, b in zip(mids, mx, my)], bound)
    d2 = (px[:, None] - mx[None, :]) ** 2 + (py[:, None] - my[None, :]) ** 2
    within = d2 <= bound * bound
    for i in range(len(px)):
        hits = sorted(zip(d2[i][within[i]], mids[within[i]]))
        want = ((int(hits[0][1]), float(np.sqrt(hits[0][0]))) if hits
                else (None, None))
        assert knn[i] == want, i
        assert cnt[i] == len(hits), i
    assert 0 < sum(within.any(axis=1)) < len(px)


def test_knn_and_radius_equal_d2_tie_takes_lower_id(spark):
    """Two monitors at the same d², in different cells: kNN resolves to
    the lower monitor_id, radius counts both."""
    knn, cnt = _knn_radius(spark, [(1, 0, 0)],
                           [(7, 1_000, 0), (3, -1_000, 0)], 50_000)
    assert knn[1] == (3, 1_000.0)
    assert cnt[1] == 2


def test_knn_and_radius_count_target_at_bound(spark):
    """The comparison is d² ≤ bound²: a monitor exactly at the bound is
    found and counted, one metre further is not."""
    bound = 50_000
    knn, cnt = _knn_radius(spark, [(1, 0, 0), (2, 0, 200_000)],
                           [(5, bound, 0), (6, 0, 200_000 + bound + 1)],
                           bound)
    assert knn == {1: (5, float(bound)), 2: (None, None)}
    assert cnt == {1: 1, 2: 0}


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_knn_and_radius_point_with_no_index_row(spark, ansi):
    """A point whose cell has no index row: kNN NULL/NULL and radius 0,
    with ANSI mode on or off (size(NULL) is -1 when it is off)."""
    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        knn, cnt = _knn_radius(spark, [(1, 5, 5)],
                               [(1, 10_000_000, 10_000_000)], 1_000)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)
    assert knn == {1: (None, None)}
    assert cnt == {1: 0}


def test_gather_point_values_outside_tiles_is_null(spark):
    """A point left of the raster gathers NULL: the tile key floors, as
    the pixel index does (truncation put (-500, 10 500) on tile 0 at
    column -1, which numpy wrapped to pixel (10, 255) = 2815). So does a
    point past the edge of a partial tile."""
    from air_health_gis_tools_spark.operators.convolve import (
        gather_point_values)
    from air_health_gis_tools_spark.sources.raster import (
        tile_table_from_array)
    arr = np.arange(256 * 256, dtype=np.float64).reshape(256, 256)
    pts = spark.createDataFrame(
        [(0, -500, 10_500), (1, 255_500, 10_500), (2, 210_500, 10_500)],
        "doc_id long, x long, y long")

    def gather(raster):
        tiles = tile_table_from_array(spark, raster, tile_px=256)
        return {r["doc_id"]: r["value"]
                for r in gather_point_values(pts, tiles).collect()}

    assert gather(arr) == {0: None, 1: 2815.0, 2: 2770.0}
    assert gather(arr[:, :200]) == {0: None, 1: None, 2: None}


def test_hex_expr_equals_kernel(spark, pts):
    """The Catalyst-expression hex assignment (whole-stage codegen, the
    100 TB path) must equal the Arrow kernel bit-for-bit at every res."""
    from pyspark.sql import functions as F2
    from air_health_gis_tools_spark.functions.cells import (hex_cell_expr,
                                                            hex_cell_udf)
    for res in (7, 8, 9):
        bad = (pts.withColumn("a", hex_cell_udf(res)(F2.col("x"),
                                                     F2.col("y")))
               .withColumn("b", hex_cell_expr(res))
               .filter(F2.col("a") != F2.col("b")).count())
        assert bad == 0, res


def test_hex_expr_equals_kernel_negative_coords(spark):
    """ADVICE r2: Spark DIV truncates toward zero while the Arrow kernel
    floors — the expression must floor too, so negative-quadrant frames
    (a reprojected CRS can go negative) agree bit-for-bit."""
    from pyspark.sql import functions as F2
    from air_health_gis_tools_spark.functions.cells import (hex_cell_expr,
                                                            hex_cell_udf)
    rng = np.random.default_rng(11)
    rows = [(int(a), int(b)) for a, b in zip(
        rng.integers(-500_000, 500_000, 2000),
        rng.integers(-500_000, 500_000, 2000))]
    df = spark.createDataFrame(rows, "x long, y long")
    for res in (7, 8, 9):
        bad = (df.withColumn("a", hex_cell_udf(res)(F2.col("x"),
                                                    F2.col("y")))
               .withColumn("b", hex_cell_expr(res))
               .filter(F2.col("a") != F2.col("b")).count())
        assert bad == 0, res


def test_hex_expr_exact_ties(spark):
    """Points equidistant from two lattice centres: ``(i+1)·w, j·h + dy``
    lies on the bisector of the even centres ``(i, j)`` and ``(i+2, j)``,
    which are its two nearest for |dy| ≤ h/3. Both paths must break the
    tie to the smaller (i, j) and agree bit-for-bit at every res."""
    from air_health_gis_tools_spark.functions.cells import hex_cell_expr
    for res, (w, h) in G.HEX_PITCH.items():
        pts = [((i + 1) * w, j * h + dy)
               for i in range(-3, 40, 7) for j in range(-2, 30, 5)
               if (i + j) % 2 == 0 for dy in (-(h // 3), -1, 0, 7, h // 3)]
        x = np.array([p[0] for p in pts], dtype=np.int64)
        y = np.array([p[1] for p in pts], dtype=np.int64)
        want = hex_assign_np(x, y, res)
        i = (x // w) - 1
        j = (y + h // 2) // h
        assert np.array_equal(want, (np.int64(res) << G.HEX_RES_SHIFT)
                              + (i << G.HEX_I_SHIFT) + j), res
        df = spark.createDataFrame(list(zip(x.tolist(), y.tolist())),
                                   "x long, y long")
        got = df.select(hex_cell_expr(res).alias("c")).toPandas()["c"]
        assert np.array_equal(got.to_numpy(), want), res


def test_hex_assignment_is_true_nearest_center():
    """Voronoi property: the chosen center is the argmin over a wide brute-
    force neighborhood (not just the 16-candidate window)."""
    rng = np.random.default_rng(3)
    x = rng.integers(50_000, 200_000, 300).astype(np.int64)
    y = rng.integers(50_000, 200_000, 300).astype(np.int64)
    for res, (w, h) in G.HEX_PITCH.items():
        cell = hex_assign_np(x, y, res)
        i = (cell >> G.HEX_I_SHIFT) & ((1 << G.HEX_I_SHIFT) - 1)
        j = cell & ((1 << G.HEX_I_SHIFT) - 1)
        d_best = (x - i * w) ** 2 + (y - j * h) ** 2
        # brute force over a 9x9 center neighborhood
        i0 = x // w
        j0 = y // h
        best = np.full(len(x), np.iinfo(np.int64).max)
        for di in range(-4, 5):
            for dj in range(-4, 5):
                ii, jj = i0 + di, j0 + dj
                ok = (ii + jj) % 2 == 0
                d = (x - ii * w) ** 2 + (y - jj * h) ** 2
                best = np.where(ok & (d < best), d, best)
        assert np.array_equal(d_best, best), f"res {res}"


def test_zonal_deterministic_across_partitionings(spark, pts):
    outs = []
    for n in (1, 8):
        df = buffered_stats(pts.repartition(n), list(G.BUFFERS_M))
        outs.append(_sorted_pdf(df.select("doc_id", "mean_10000",
                                          "n_valid_10000")))
    pd.testing.assert_frame_equal(outs[0], outs[1])


@pytest.mark.parametrize("tile_px,b", [(128, 10_000), (16, 20_000)])
def test_convolve_plane_variant_matches_zonal_means(spark, tile_px, b):
    """convolve_sum_count_tiles (the plane-materializing Method-1 half,
    used when the focal raster itself is the product) must agree with the
    broadcast zonal kernel at interior pixels: mean = s/c, count = c;
    also when the halo (20 px) is wider than a tile."""
    from air_health_gis_tools_spark.operators.convolve import (
        convolve_sum_count_tiles)
    from air_health_gis_tools_spark.operators.zonal import (circle_offsets,
                                                            radius_px)
    from air_health_gis_tools_spark.sources.raster import (
        materialize_raster, synthetic_tile_table)
    h = w = 512
    rpx = radius_px(b)
    tiles = synthetic_tile_table(spark, tile_px=tile_px, height=h, width=w)
    rng = np.arange(-rpx, rpx + 1)
    kr, kc = np.meshgrid(rng, rng, indexing="ij")
    kern = (kr * kr + kc * kc <= rpx * rpx).astype(np.float64)
    conv = convolve_sum_count_tiles(tiles, {str(b): kern}, tile_px,
                                    height=h, width=w).toPandas()
    s_plane = np.full((h, w), np.nan)
    c_plane = np.zeros((h, w), dtype=np.int64)
    for t in conv.itertuples():
        s_plane[t.row0:t.row0 + t.h, t.col0:t.col0 + t.w] = \
            np.asarray(getattr(t, f"s_{b}")).reshape(t.h, t.w)
        c_plane[t.row0:t.row0 + t.h, t.col0:t.col0 + t.w] = \
            np.asarray(getattr(t, f"c_{b}")).reshape(t.h, t.w)
    src = materialize_raster(h, w)
    dr, dc = circle_offsets(rpx)
    rs = np.arange(rpx, h - rpx, 37)
    cs = np.arange(rpx, w - rpx, 41)
    rr, cc = np.meshgrid(rs, cs, indexing="ij")
    rr, cc = rr.ravel(), cc.ravel()
    vals = src[rr[:, None] + dr[None, :], cc[:, None] + dc[None, :]]
    valid = ~np.isnan(vals)
    want_c = valid.sum(axis=1)
    want_s = np.where(valid, vals, 0.0).sum(axis=1)
    assert np.array_equal(c_plane[rr, cc], want_c)
    assert np.allclose(s_plane[rr, cc], want_s, rtol=0, atol=0)


def test_operators_leave_no_cached_data(spark, pts):
    """Operators that reuse an intermediate own it with an
    invocation-scoped ``localCheckpoint``, so after they run Spark's
    CacheManager holds nothing (a ``persist`` would stay cached for the
    session and feed later identical plans from stale storage)."""
    from air_health_gis_tools_spark.operators.graph import triangle_counts
    from air_health_gis_tools_spark.operators.semdedup import (
        semantic_neardup_edges_np)
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    tiles = synthetic_tile_table(spark, tile_px=256)
    buffered_stats_tiled(pts, tiles, list(G.BUFFERS_M), 256).collect()
    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.uniform(-1, 1, 8)]) for i in range(60)],
        "vec_id long, embedding array<float>")
    semantic_neardup_edges_np(emb, n_lists=4, max_cluster=8).collect()
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    tri = triangle_counts(spark.createDataFrame(k4, "id1 long, id2 long"))
    assert {r["node"]: r["n_triangles"] for r in tri.collect()} == {
        0: 3, 1: 3, 2: 3, 3: 3}
    assert cache.isEmpty()
