"""Buffered (circular) zonal statistics — the reference's flagship operator.

Re-expresses the numba point-in-circle loop (``coregRaster``,
Archived_scripts/utils.py:89-117: ``nansum(pts)/count_nonzero(~isnan(pts))``
over pixels in a circle) as batched Arrow kernels: each evaluates ALL
buffer radii for a whole Arrow batch of points at once
(compute-once reuse across buffers — the reference's O3 optimization,
extract_raster_buffer.py:39-41 — generalized).

Canonical membership rule (engine-canonical; the reference's two historic
variants — the ``+1``-shrunk ``create_buffer`` mask of
extract_raster_buffer.py:94-102 and the ``intceil`` chord loop of
utils.py:69-87 — are reproduced separately in tests/test_reference_parity.py):

    pixel (r, c) ∈ buffer(B) of point p  ⇔  (r-r0)² + (c-c0)² ≤ rpx²,
    rpx = ceil(B / xres)  (with the v2 ``max(…,1)`` guard,
                           srg-dev/calculate_focal_mean.py:95)

where (r0, c0) is p's containing pixel (truncation assignment,
utils.py:47-67). Pure integer math ⇒ exactly replicable by the DuckDB oracle.

Aggregation per point per buffer: nan-aware sum / count / min / max; mean =
sum/count (NULL when count = 0). Values are exact-integer-valued doubles, so
the sums are order-independent and bit-identical across engines.

Three physical strategies:
- ``buffered_stats`` — functional-raster / broadcast-raster path: a
  ``pandas_udf`` evaluates pixel values directly (no shuffle at all; the
  raster is a deterministic function or a broadcast ndarray). Right when
  the raster fits one executor (the reference's regime: ~100 M px ≈
  800 MB).
- ``buffered_stats_tiled`` (scale path) — raster as a parquet tile table.
  The point window pass ``sources/raster.map_point_windows`` keys each
  point to ONE home group (the tile-sized cell holding its pixel, clamped
  into the extent) and hands each group its rmax-padded window; the disc
  kernel computes each point's final row there, like the reference's one
  resident window per point. The shuffle moves the points once and about
  (1 + 2·rmax/tile_px)² of the raster, never a per-(point, tile)
  partial. This is the plan that survives a 100 TB raster.
- ``buffered_mean_convolve_all`` — the reference's convolve-once Method 1:
  chord prefix sums over superblock windows (the same window pass, on
  superblocks); mean and n_valid only. Its discs clip at the raster edge
  like the other strategies'.

The first two share one disc kernel, ``_disc_stats``: one radius rule
(``radius_px``) and one gather over the union of the buffers' offsets,
reading a broadcast array, a tile window or the formula raster. Every
disc is summed in one place in the same order, so both match the
per-buffer gather bit for bit on any raster.
"""

from __future__ import annotations

import math
from typing import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..geo_synth import RASTER_H, RASTER_W, XRES, raster_value_np
from ..sources.raster import MAX_SALT, map_point_windows


def radius_px(buffer_m: int, xres: int = XRES) -> int:
    """F7 semantics: ceil(buff/xres) with the v2 max(…,1) guard
    (extract_raster_buffer.py:227; calculate_focal_mean.py:95)."""
    return max(math.ceil(buffer_m / xres), 1)


def disc_chords(rpx: int) -> tuple[np.ndarray, np.ndarray]:
    """The disc dr²+dc² ≤ rpx², the one membership rule, as chords: row
    dr ∈ [−rpx, rpx] spans columns [−half, half], half = isqrt(rpx² − dr²)."""
    dr = np.arange(-rpx, rpx + 1, dtype=np.int64)
    return dr, np.array([math.isqrt(rpx * rpx - d * d) for d in dr.tolist()],
                        dtype=np.int64)


def circle_offsets(rpx: int) -> tuple[np.ndarray, np.ndarray]:
    """(dr, dc) offsets of the ``disc_chords`` disc, row-major order."""
    rng, half = disc_chords(rpx)
    dr, dc = np.meshgrid(rng, rng, indexing="ij")
    m = np.abs(dc) <= half[:, None]
    return dr[m], dc[m]


def buffer_offsets(buffer_m: int, mode: str, xres: int = XRES
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Membership pixel set for one buffer.

    mode='canonical' — engine rule d² ≤ ceil(B/xres)² (oracle-replicable).
    mode='ref_loop'  — the reference's exact ``points_in_circle`` set
                       (Archived_scripts/utils.py:69-87 intceil bounds,
                       asymmetric), radius in float pixel units B/xres.
    """
    if mode == "canonical":
        return circle_offsets(radius_px(buffer_m, xres))
    if mode == "ref_loop":
        from ..functions.ref_compat import ref_circle_pixel_offsets
        return ref_circle_pixel_offsets(buffer_m / xres)
    raise ValueError(mode)


def _stats_schema(buffers_m: Sequence[int]) -> T.StructType:
    fields = []
    for b in buffers_m:
        fields += [
            T.StructField(f"mean_{b}", T.DoubleType()),
            T.StructField(f"min_{b}", T.DoubleType()),
            T.StructField(f"max_{b}", T.DoubleType()),
            T.StructField(f"n_valid_{b}", T.LongType()),
        ]
    return T.StructType(fields)


_CHUNK = 2048  # rows per kernel slice: all per-buffer temporaries fit the
               # per-worker L2/L3 share (measured: 2048 beats 8192 by ~25%
               # single-core and degrades only 1.2x under 8 workers)


def _batch_stats_formula_fast(x: np.ndarray, y: np.ndarray,
                              buffers_m: Sequence[int],
                              mode: str = "canonical"
                              ) -> dict[str, np.ndarray]:
    """Specialized kernel for the synthetic *formula* raster.

    Exploits linearity of the pixel formula: v(r0+dr, c0+dc) =
    (base(r0,c0) + off(dr,dc)) mod 10000, so each pixel visit is one int32
    add + conditional subtract instead of two int64 multiplies + mod — and
    each buffer evaluates ONLY its circle offsets (no bounding-square
    waste). ~5× the generic path; bit-identical results (integer math).

    Falls back (by raising) if any window touches the raster edge; callers
    route edge chunks through the generic path.
    """
    from ..geo_synth import VALUE_MOD, NODATA_MOD
    all_offs = {b: buffer_offsets(b, mode) for b in buffers_m}
    rmax = max(int(max(abs(dr).max(), abs(dc).max()))
               for dr, dc in all_offs.values())
    r0 = y.astype(np.int64) // XRES
    c0 = x.astype(np.int64) // XRES
    if (r0.min() < rmax or c0.min() < rmax
            or r0.max() >= RASTER_H - rmax or c0.max() >= RASTER_W - rmax):
        raise ValueError("edge window; use generic path")

    base_v = ((r0 * 7919 + c0 * 104729) % VALUE_MOD).astype(np.int16)
    base_n = ((r0 * 31 + c0 * 17) % NODATA_MOD).astype(np.int8)

    offs = {}
    for b in buffers_m:
        dr, dc = all_offs[b]
        ov = ((dr * 7919 + dc * 104729) % VALUE_MOD).astype(np.int16)
        on = ((dr * 31 + dc * 17) % NODATA_MOD).astype(np.int8)
        offs[b] = (ov, on)

    n = len(x)
    out: dict[str, np.ndarray] = {}
    for b in buffers_m:
        out[f"mean_{b}"] = np.empty(n)
        out[f"min_{b}"] = np.empty(n)
        out[f"max_{b}"] = np.empty(n)
        out[f"n_valid_{b}"] = np.empty(n, dtype=np.int64)

    for s0 in range(0, n, _CHUNK):
        s1 = min(s0 + _CHUNK, n)
        bv = base_v[s0:s1]
        bn = base_n[s0:s1]
        for b in buffers_m:
            ov, on = offs[b]
            # int16 lattice (values < 2*VALUE_MOD < 2^15): halves the DRAM
            # traffic of the bandwidth-bound inner loop; mask-multiply for
            # the sum and np.where for min/max are the SIMD-friendly forms
            # (np.ufunc.reduce(where=...) falls off the vector path)
            vr = bv[:, None] + ov[None, :]
            np.subtract(vr, np.int16(VALUE_MOD), out=vr,
                        where=vr >= VALUE_MOD)
            ok = ((bn[:, None] + on[None, :]) & (NODATA_MOD - 1)) != 0
            cnt = ok.sum(axis=1)
            s = (vr * ok).sum(axis=1, dtype=np.int64)
            mn = np.where(ok, vr, np.int16(VALUE_MOD)).min(axis=1)
            mx = np.where(ok, vr, np.int16(-1)).max(axis=1)
            has = cnt > 0
            out[f"mean_{b}"][s0:s1] = np.where(
                has, s / np.maximum(cnt, 1), np.nan)
            out[f"min_{b}"][s0:s1] = np.where(has, mn, np.nan)
            out[f"max_{b}"][s0:s1] = np.where(has, mx, np.nan)
            out[f"n_valid_{b}"][s0:s1] = cnt
    return out


def _disc_stats(pr: np.ndarray, pc: np.ndarray,
                offsets: Sequence[tuple[np.ndarray, np.ndarray]],
                value_at: Callable[..., np.ndarray]
                ) -> list[tuple[np.ndarray, ...]]:
    """The disc kernel: nan-aware (sum, count, min, max) of each buffer's
    disc around the pixels ``(pr, pc)`` — one tuple per ``offsets`` entry
    (a buffer's (dr, dc) table); min/max are ±inf for an empty disc.

    ``value_at(pr, pc, dr, dc)`` returns the (len(pr), len(dr)) values of
    the pixels (pr + dr, pc + dc), NaN at nodata and outside the raster.
    Per ``_CHUNK`` points it is called ONCE, over the union of the
    buffers' offsets (compute-once reuse across buffers); each buffer then
    takes its own columns in its own offset order, so every disc sums the
    same values in the same order as a gather of that buffer alone would.
    """
    rmax = int(np.abs(np.concatenate(
        [d for dr_dc in offsets for d in dr_dc])).max(initial=0))
    span = 2 * rmax + 1
    keys = [dr * span + (dc + rmax) for dr, dc in offsets]
    union = np.unique(np.concatenate(keys))   # row-major (dr, dc) order
    udr, udc = union // span, union % span - rmax
    sels = [np.searchsorted(union, k) for k in keys]
    # a buffer that IS the union (the largest canonical disc) reads the
    # chunk's blocks in place — no (chunk × |disc|) column copy
    whole = [np.array_equal(sel, np.arange(len(union))) for sel in sels]

    n = len(pr)
    out = [(np.empty(n), np.empty(n, dtype=np.int64), np.empty(n),
            np.empty(n)) for _ in offsets]
    for s0 in range(0, n, _CHUNK):
        s1 = min(s0 + _CHUNK, n)
        vals = value_at(pr[s0:s1], pc[s0:s1], udr, udc)
        valid_all = ~np.isnan(vals)
        for (s, cnt, mn, mx), sel, w in zip(out, sels, whole):
            v = vals if w else vals[:, sel]
            valid = valid_all if w else valid_all[:, sel]
            cnt[s0:s1] = valid.sum(axis=1)
            s[s0:s1] = np.where(valid, v, 0.0).sum(axis=1)
            # ±inf sentinels (NOT NaN: Spark max prefers NaN over reals);
            # callers null them via count > 0
            mn[s0:s1] = np.where(valid, v, np.inf).min(axis=1)
            mx[s0:s1] = np.where(valid, v, -np.inf).max(axis=1)
    return out


def _window_lookup(arr: np.ndarray, row0: int = 0, col0: int = 0
                   ) -> Callable[..., np.ndarray]:
    """``value_at`` over the 2-D window ``arr`` whose [0, 0] pixel is
    (row0, col0): NaN outside it (the reference clips the circle at array
    edges — utils.py:82-84 bounds). A chunk whose discs all lie inside the
    window skips the clip + mask + where pass (three (chunk × |disc|)
    temporaries of pure memory traffic)."""
    h, w = arr.shape

    def value_at(pr, pc, dr, dc):
        rows = (pr - row0)[:, None] + dr
        cols = (pc - col0)[:, None] + dc
        if (pr.min() - row0 + dr.min() >= 0 and pr.max() - row0 + dr.max() < h
                and pc.min() - col0 + dc.min() >= 0
                and pc.max() - col0 + dc.max() < w):
            return arr[rows, cols]
        inside = (rows >= 0) & (rows < h) & (cols >= 0) & (cols < w)
        vals = arr[np.clip(rows, 0, h - 1), np.clip(cols, 0, w - 1)]
        return np.where(inside, vals, np.nan)
    return value_at


def _formula_lookup(pr, pc, dr, dc) -> np.ndarray:
    """``value_at`` of the synthetic formula raster, NaN off its extent."""
    rows = pr[:, None] + dr
    cols = pc[:, None] + dc
    vals = raster_value_np(rows, cols)
    vals[(rows < 0) | (rows >= RASTER_H) | (cols < 0) | (cols >= RASTER_W)
         ] = np.nan
    return vals


def _stats(xs: np.ndarray, ys: np.ndarray, xres: int,
           buffers_m: Sequence[int],
           offsets: Sequence[tuple[np.ndarray, np.ndarray]], value_at
           ) -> dict[str, np.ndarray]:
    """Per-buffer mean/min/max/n_valid columns of the discs around the
    ``(xs, ys)`` points' pixels (coordinates truncated to integers, then
    floor-divided by ``xres``): NULL stats on an empty disc."""
    res = _disc_stats(ys.astype(np.int64) // xres,
                      xs.astype(np.int64) // xres, offsets, value_at)
    out: dict[str, np.ndarray] = {}
    for b, (s, cnt, mn, mx) in zip(buffers_m, res):
        has = cnt > 0
        out[f"mean_{b}"] = np.where(has, s / np.maximum(cnt, 1), np.nan)
        out[f"min_{b}"] = np.where(has, mn, np.nan)
        out[f"max_{b}"] = np.where(has, mx, np.nan)
        out[f"n_valid_{b}"] = cnt
    return out


def buffered_stats(df: DataFrame, buffers_m: Sequence[int],
                   raster: np.ndarray | None = None,
                   mode: str = "canonical", xres: int = XRES) -> DataFrame:
    """Append per-buffer zonal stats columns (struct-expanded) to ``df``
    around its ``(x, y)`` points, ``xres`` metres per pixel.

    Values come from the synthetic functional raster; pass ``raster``
    (2-D ndarray, NaN = nodata) to sample a broadcast in-memory raster
    instead (the reference's whole-raster-resident regime,
    README.md:88-92). The raster's extent is its shape.
    """
    buffers_m = list(buffers_m)
    schema = _stats_schema(buffers_m)
    if raster is None and xres != XRES:
        raise ValueError(f"the formula raster has {XRES} m pixels, "
                         f"not xres={xres}")
    offsets = [buffer_offsets(b, mode, xres) for b in buffers_m]

    if raster is not None:
        bc = df.sparkSession.sparkContext.broadcast(raster)

        @F.pandas_udf(schema)
        def _kernel(x: pd.Series, y: pd.Series) -> pd.DataFrame:
            return pd.DataFrame(_stats(x.to_numpy(), y.to_numpy(), xres,
                                       buffers_m, offsets,
                                       _window_lookup(bc.value)))
    else:
        @F.pandas_udf(schema)
        def _kernel(x: pd.Series, y: pd.Series) -> pd.DataFrame:
            xs, ys = x.to_numpy(), y.to_numpy()
            try:
                return pd.DataFrame(
                    _batch_stats_formula_fast(xs, ys, buffers_m, mode))
            except ValueError:  # edge window → generic (clipping) path
                return pd.DataFrame(_stats(xs, ys, xres, buffers_m, offsets,
                                           _formula_lookup))

    return (df.withColumn("_z", _kernel(F.col("x"), F.col("y")))
            .select(*df.columns, "_z.*"))


# --------------------------------------------------------------------------
# scale path: raster tile table, one halo window per group of points
# --------------------------------------------------------------------------

# buffered_mean_convolve_all salts superblocks past CONVOLVE_HOT_GROUP_ROWS
# points
CONVOLVE_HOT_GROUP_ROWS = 262_144


def buffered_stats_tiled(points: DataFrame, tiles: DataFrame,
                         buffers_m: Sequence[int], tile_px: int,
                         id_col: str = "doc_id",
                         hot_group_rows: int = 8192,
                         max_salt: int = MAX_SALT,
                         height: int = RASTER_H, width: int = RASTER_W,
                         xres: int = XRES) -> DataFrame:
    """Zonal stats of the ``(id_col, x, y)`` points over a raster *tile
    table* (``sources/raster.TILE_SCHEMA``; nodata arrives as NaN).

    Plan (``sources/raster.map_point_windows``): each point keys to its
    home group, a ``tile_px``-square cell of the raster, whose
    ``rmax``-padded window the disc kernel reads once per point. Every
    disc lies in its home window, so each point gets
    its final row in one pass — no per-tile partials, no combine — and
    sums the oracle's values in the oracle's order (bit-identical to
    ``buffered_stats`` on any raster). Points off the raster or under
    missing tiles read NaN and keep a zero-count row.

    Urban-cluster skew (north_rule): a hot group can hold 100k+ points —
    one cogroup group, one core, the job's straggler. Defense is ADAPTIVE
    SALTING (in the window pass): a cheap pre-count finds hot groups,
    each splits into ceil(count / hot_group_rows) salt groups and the
    window replicates only into its own salts. Cold groups pay nothing.
    """
    buffers_m = list(buffers_m)
    offsets = [buffer_offsets(b, "canonical", xres) for b in buffers_m]
    schema = T.StructType([T.StructField(id_col, T.LongType())]
                          + _stats_schema(buffers_m).fields)

    def _window_stats(pts: pd.DataFrame, win: np.ndarray, wr0: int,
                      wc0: int) -> pd.DataFrame:
        return pd.DataFrame({
            id_col: pts[id_col].to_numpy(),
            **_stats(pts["x"].to_numpy(), pts["y"].to_numpy(), xres,
                     buffers_m, offsets, _window_lookup(win, wr0, wc0))})

    return map_point_windows(
        points, tiles, id_col, tile_px,
        max(radius_px(b, xres) for b in buffers_m), height, width, xres,
        hot_group_rows, max_salt, _window_stats, schema)


def buffered_mean_convolve_all(points: DataFrame, tiles: DataFrame,
                               buffers_m: Sequence[int], tile_px: int,
                               id_col: str = "doc_id",
                               height: int = RASTER_H, width: int = RASTER_W
                               ) -> DataFrame:
    """Third physical strategy — the reference's Method 1 ('convolve once,
    gather many', extract_raster_buffer.py:220-245), distributed.

    ONE cogroup on SUPERBLOCK keys (``sb_tiles``×``sb_tiles`` tiles per
    task) fuses convolution and gather over the ``(id_col, x, y)`` points,
    with no result plane materialized or shuffled. Each
    task assembles its superblock window + rmax halo, takes one
    row-prefix-sum pass, and evaluates every point's buffer sums directly
    from the prefix table via chord subtraction (2r+1 ops per point per
    buffer). Identical A1 semantics (sum/valid-count over the disc
    clipped to the raster, NaN outside coverage); exact for
    integer-valued rasters (prefix sums < 2^53 — the chord-decomposition
    invariant documented in convolve.py).

    Why this shape survives 100 TB: the point window pass
    (``sources/raster.map_point_windows``) sends each superblock the part
    of every tile inside its rmax-padded window (about 1.15× the raster
    on the 4096² raster at sb_tiles = 1), points shuffle once to their
    home superblock, and only per-point rows leave the task; per-task
    compute is one cumsum of the superblock (cache-resident) plus
    O(points·r) gathers. min/max are not convolution-expressible; like
    the reference's Method 1 this strategy emits mean + n_valid.
    """
    buffers_m = list(buffers_m)
    rmax = max(radius_px(b) for b in buffers_m)
    # Adaptive superblock sizing — a DATA-dependent rule (never
    # parallelism-dependent, so the same input yields the same plan at
    # every cluster size): the smallest power-of-2 superblock whose
    # padded window's area (1 + 2·rmax/sb_px)² is ≤ 2× the superblock's,
    # i.e. at most ~2× the prefix-sum work per output pixel (so sb_px ≥
    # 4.83·rmax). Smaller superblocks mean MORE tasks (a 4096² raster
    # gets 256 groups instead of 16 — the difference between starving and
    # saturating the stage).
    sb_tiles = 1
    while (1 + 2 * rmax / (sb_tiles * tile_px)) ** 2 > 2.0:
        sb_tiles *= 2
    sb_px = sb_tiles * tile_px
    n = sb_px + 2 * rmax   # window side

    chords = {b: disc_chords(radius_px(b)) for b in buffers_m}

    fields = [T.StructField(id_col, T.LongType())]
    for b in buffers_m:
        fields += [T.StructField(f"mean_{b}", T.DoubleType()),
                   T.StructField(f"n_valid_{b}", T.LongType())]
    schema = T.StructType(fields)

    def _conv_gather(pdf_points: pd.DataFrame, win: np.ndarray, wr0: int,
                     wc0: int) -> pd.DataFrame:
        ids = pdf_points[id_col].to_numpy()
        out = {id_col: ids}
        # row prefix sums; row n stays zero, so a chord row off the window
        # (clipped to -1, which wraps to n, or to n) sums to nothing
        valid = ~np.isnan(win)
        pf = np.zeros((n + 1, n + 1))
        pf[:n, 1:] = np.cumsum(np.where(valid, win, 0.0), axis=1)
        pv = np.zeros((n + 1, n + 1), dtype=np.int64)
        pv[:n, 1:] = np.cumsum(valid, axis=1, dtype=np.int64)
        wr = pdf_points["y"].to_numpy().astype(np.int64) // XRES - wr0
        wc = pdf_points["x"].to_numpy().astype(np.int64) // XRES - wc0
        # Chunked + row-sorted gather. The whole-batch form materialized
        # (n_points × (2r+1)) index/value temporaries — ~400 MB per buffer
        # at 260k-point groups — and its thread-scaling was memory-bus
        # bound (~0.5 eff N→4N). Sorting by window row makes consecutive
        # points hit overlapping prefix-table rows; _CHUNK-point chunks
        # keep every chord temporary L2-resident.
        n_pts = len(ids)
        order = np.argsort(wr * (n + 1) + wc, kind="stable")
        wr_s, wc_s = wr[order], wc[order]
        res = {b: (np.empty(n_pts), np.empty(n_pts, dtype=np.int64))
               for b in buffers_m}
        for i0 in range(0, n_pts, _CHUNK):
            sl = slice(i0, min(i0 + _CHUNK, n_pts))
            wrc = wr_s[sl][:, None]
            wcc = wc_s[sl][:, None]
            for b in buffers_m:
                # the disc clipped to the window, which holds every raster
                # pixel within rmax of the point: discs clip at the
                # raster edge, as in the other strategies
                dr, half = chords[b]
                rows = np.clip(wrc + dr, -1, n)
                c0 = np.clip(wcc - half, 0, n)
                c1 = np.clip(wcc + half + 1, 0, n)
                res[b][0][sl] = (pf[rows, c1] - pf[rows, c0]).sum(axis=1)
                res[b][1][sl] = (pv[rows, c1] - pv[rows, c0]).sum(axis=1)
        inv = np.empty(n_pts, dtype=np.int64)
        inv[order] = np.arange(n_pts)
        for b in buffers_m:
            s, cnt = res[b][0][inv], res[b][1][inv]
            out[f"mean_{b}"] = np.where(cnt > 0,
                                        s / np.maximum(cnt, 1), np.nan)
            out[f"n_valid_{b}"] = cnt
        return pd.DataFrame(out)

    # urban clusters pile millions of points into one superblock group —
    # the 4N-leg straggler; each salt group assembles the same window and
    # serves disjoint points
    return map_point_windows(points, tiles, id_col, sb_px, rmax, height,
                             width, XRES, CONVOLVE_HOT_GROUP_ROWS, MAX_SALT,
                             _conv_gather, schema)
