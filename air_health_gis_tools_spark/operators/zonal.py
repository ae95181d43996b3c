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
  Each point keys to ONE home group (the tile-sized cell holding its
  pixel, clamped into the extent); ``sources/raster.halo_groups`` sends
  each group the strips of tiles inside its rmax-padded window; one
  cogroup pastes that window (``fill_window``) and computes each point's
  final row there, like the reference's one resident window per point.
  The shuffle moves the points once and about (1 + 2·rmax/tile_px)² of
  the raster, never a per-(point, tile) partial. This is the plan that
  survives a 100 TB raster.
- ``buffered_mean_convolve_all`` — the reference's convolve-once Method 1:
  chord prefix sums over superblock windows (the same home-group and
  halo routing); mean and n_valid only.

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
from ..sources.raster import fill_window, halo_groups


def radius_px(buffer_m: int, xres: int = XRES) -> int:
    """F7 semantics: ceil(buff/xres) with the v2 max(…,1) guard
    (extract_raster_buffer.py:227; calculate_focal_mean.py:95)."""
    return max(math.ceil(buffer_m / xres), 1)


def circle_offsets(rpx: int) -> tuple[np.ndarray, np.ndarray]:
    """(dr, dc) offsets with dr²+dc² ≤ rpx², row-major order."""
    rng = np.arange(-rpx, rpx + 1, dtype=np.int64)
    dr, dc = np.meshgrid(rng, rng, indexing="ij")
    m = dr * dr + dc * dc <= rpx * rpx
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

def _home_group(group_px: int, height: int, width: int, xres: int):
    """``group_id`` of each ``(x, y)`` point's home group: the group of
    ``group_px``-square cells holding its pixel (truncated coordinates,
    floor-divided) clamped into the ``height × width`` extent. Every
    raster pixel within ``rmax`` of the point lies in that group's
    ``halo_groups(…, rmax, rmax, …)`` window.

    Truncating ``DIV`` gives the clamped floor: the two differ only below
    pixel 0, which the clamp maps to 0 either way. Each coordinate appears
    once, so the filters Catalyst infers from the cogroup key stay small
    when they inline an upstream coordinate expression."""
    def cell(coord: str, n: int) -> str:
        return (f"(least(greatest(CAST({coord} AS BIGINT) DIV {xres}, 0L), "
                f"{n - 1}L) DIV {group_px})")
    return F.expr(f"{cell('y', height)} * {1 << 32}L + {cell('x', width)}")


# adaptive salting: a hot group splits into at most MAX_SALT salt groups;
# buffered_mean_convolve_all salts superblocks past CONVOLVE_HOT_GROUP_ROWS
# points
MAX_SALT = 32
CONVOLVE_HOT_GROUP_ROWS = 262_144


def _salt_hot_groups(points: DataFrame, tiles: DataFrame, key: str,
                     id_col: str, hot_group_rows: int, max_salt: int
                     ) -> tuple[DataFrame, DataFrame]:
    """Adaptive salting of a (points, tiles) cogroup on ``key``: adds the
    cogroup key ``gkey = key·64 + salt`` to both sides.

    A group holding more than ``hot_group_rows`` points splits into
    ceil(count / hot_group_rows) ≤ ``max_salt`` salt groups: points pick
    their salt by id hash, the group's tile rows (the small side)
    replicate into each salt. Cold groups take salt 0 via the left-join
    default and pay nothing. Output is unchanged: each salt group sees
    every tile row of its group and a disjoint share of its points. Fully
    distributed — the hot map is a broadcast-joined DataFrame bounded by
    n_points / hot_group_rows, never a driver collect.
    """
    hot = (points.groupBy(key).count()
           .filter(F.col("count") > hot_group_rows)
           .select(key,
                   F.least(F.ceil(F.col("count") / hot_group_rows),
                           F.lit(max_salt)).cast("long").alias("salt_k")))
    # xxhash64 of the id picks the salt (no arithmetic on the id, so any
    # BIGINT id is safe under ANSI overflow checks)
    points = (points.join(F.broadcast(hot), key, "left")
              .withColumn(
                  "gkey",
                  F.col(key) * 64
                  + F.pmod(F.xxhash64(F.col(id_col)),
                           F.coalesce(F.col("salt_k"), F.lit(1))))
              .drop("salt_k"))
    tiles = (tiles.join(F.broadcast(hot), key, "left")
             .withColumn(
                 "_salt",
                 F.explode(F.sequence(
                     F.lit(0).cast("long"),
                     F.coalesce(F.col("salt_k"), F.lit(1)) - 1)))
             .withColumn("gkey", F.col(key) * 64 + F.col("_salt"))
             .drop("salt_k", "_salt"))
    return points, tiles


def buffered_stats_tiled(points: DataFrame, tiles: DataFrame,
                         buffers_m: Sequence[int], tile_px: int,
                         id_col: str = "doc_id",
                         hot_group_rows: int = 8192,
                         max_salt: int = MAX_SALT,
                         height: int = RASTER_H, width: int = RASTER_W,
                         xres: int = XRES) -> DataFrame:
    """Zonal stats of the ``(id_col, x, y)`` points over a raster *tile
    table* (``sources/raster.TILE_SCHEMA``; nodata arrives as NaN).

    Plan: each point keys to its home group (``_home_group``: a
    ``tile_px``-square cell of the raster); ``halo_groups`` routes to each
    group the part of every tile inside its ``rmax``-padded window; one
    cogroup pastes the window (``fill_window``) and runs the disc kernel
    once per point. Every disc lies in its home window, so each point gets
    its final row in one pass — no per-tile partials, no combine — and
    sums the oracle's values in the oracle's order (bit-identical to
    ``buffered_stats`` on any raster). Points off the raster or under
    missing tiles read NaN and keep a zero-count row.

    Urban-cluster skew (north_rule): a hot group can hold 100k+ points —
    one cogroup group, one core, the job's straggler. Defense is ADAPTIVE
    SALTING (``_salt_hot_groups``): a cheap pre-count finds hot groups,
    each splits into ceil(count / hot_group_rows) salt groups and the
    window replicates only into its own salts. Cold groups pay nothing.
    """
    buffers_m = list(buffers_m)
    rmax = max(radius_px(b, xres) for b in buffers_m)
    offsets = [buffer_offsets(b, "canonical", xres) for b in buffers_m]
    pts = points.select(id_col, "x", "y").withColumn(
        "group_id", _home_group(tile_px, height, width, xres))
    win_tiles = halo_groups(tiles, tile_px, rmax, rmax, height, width)
    pts, win_tiles = _salt_hot_groups(pts, win_tiles, "group_id", id_col,
                                      hot_group_rows, max_salt)
    schema = T.StructType([T.StructField(id_col, T.LongType())]
                          + _stats_schema(buffers_m).fields)

    def _window_stats(key, pdf_points: pd.DataFrame,
                      pdf_tiles: pd.DataFrame) -> pd.DataFrame:
        if pdf_points.empty:
            return pd.DataFrame({f.name: pd.Series(dtype="float64")
                                 for f in schema})
        g = int(key[0]) // 64
        wr0 = (g >> 32) * tile_px - rmax
        wc0 = (g & 0xFFFFFFFF) * tile_px - rmax
        win = fill_window(pdf_tiles, wr0, wc0, tile_px + 2 * rmax,
                          tile_px + 2 * rmax)
        return pd.DataFrame({
            id_col: pdf_points[id_col].to_numpy(),
            **_stats(pdf_points["x"].to_numpy(), pdf_points["y"].to_numpy(),
                     xres, buffers_m, offsets,
                     _window_lookup(win, wr0, wc0))})

    return (pts.groupBy("gkey")
            .cogroup(win_tiles.groupBy("gkey"))
            .applyInPandas(_window_stats, schema))


def buffered_mean_convolve_all(points: DataFrame, tiles: DataFrame,
                               buffers_m: Sequence[int], tile_px: int,
                               id_col: str = "doc_id",
                               height: int = RASTER_H, width: int = RASTER_W
                               ) -> DataFrame:
    """Third physical strategy — the reference's Method 1 ('convolve once,
    gather many', extract_raster_buffer.py:220-245), distributed.

    r3 plan (replaces the two-stage convolve-planes-then-gather): ONE
    cogroup on SUPERBLOCK keys (``sb_tiles``×``sb_tiles`` tiles per task)
    fuses convolution and gather over the ``(id_col, x, y)`` points. Each
    task assembles its superblock window + rmax halo, takes one
    row-prefix-sum pass, and evaluates every point's buffer sums directly
    from the prefix table via chord subtraction (2r+1 ops per point per
    buffer). Identical A1 semantics
    (sum/valid-count, NaN outside coverage); exact for integer-valued
    rasters (prefix sums < 2^53 — the chord-decomposition invariant
    documented in convolve.py).

    Why this shape survives 100 TB: the r2 plan shuffled the raster 9×
    (full halo fan-out), materialized 6 result planes per tile (48 B/px)
    and shuffled THEM again into the gather cogroup — ~25 GB of movement
    per 201 M px. Here each superblock receives the part of every tile
    inside its rmax-padded window (``halo_groups``: about 1.15× the
    raster on the 4096² raster at sb_tiles = 1), points shuffle once to
    their home superblock (``_home_group``), no plane is materialized, and
    only per-point rows leave the task; per-task
    compute is one cumsum of the superblock (cache-resident) plus
    O(points·r) gathers. min/max are not convolution-expressible; like
    the reference's Method 1 this strategy emits mean + n_valid.
    """
    buffers_m = list(buffers_m)
    rmax = max(radius_px(b) for b in buffers_m)
    # Adaptive superblock sizing — a DATA-dependent rule (never
    # parallelism-dependent, so the same input yields the same plan at
    # every cluster size): the smallest power-of-2 superblock that
    # (a) contains the halo and (b) keeps the padded window's area
    # (1 + 2·rmax/sb_px)² ≤ 2× the superblock's, i.e. at most ~2× the
    # prefix-sum work per output pixel. Smaller superblocks mean MORE
    # tasks (a 4096² raster gets 256 groups instead of 16 — the
    # difference between starving and saturating the stage).
    sb_tiles = 1
    while (sb_tiles * tile_px < rmax
           or (1 + 2 * rmax / (sb_tiles * tile_px)) ** 2 > 2.0):
        sb_tiles *= 2
    sb_px = sb_tiles * tile_px
    assert rmax <= sb_px, "halo larger than superblock"

    # chord tables per buffer: kernel row di in 0..2r -> [lo, hi] columns
    chords = {}
    for b in buffers_m:
        rpx = radius_px(b)
        dr = np.arange(-rpx, rpx + 1, dtype=np.int64)
        half = np.floor(np.sqrt((rpx * rpx - dr * dr).astype(np.float64))
                        ).astype(np.int64)
        chords[b] = (rpx, rpx - half, rpx + half)   # (rpx, lo[di], hi[di])

    contrib = halo_groups(tiles, sb_px, rmax, rmax, height, width)
    pts = points.select(id_col, "x", "y").withColumn(
        "group_id", _home_group(sb_px, height, width, XRES))
    # urban clusters pile millions of points into one superblock group —
    # the 4N-leg straggler; each salt group assembles the same window and
    # serves disjoint points
    pts, contrib = _salt_hot_groups(pts, contrib, "group_id", id_col,
                                    CONVOLVE_HOT_GROUP_ROWS, MAX_SALT)

    fields = [T.StructField(id_col, T.LongType())]
    for b in buffers_m:
        fields += [T.StructField(f"mean_{b}", T.DoubleType()),
                   T.StructField(f"n_valid_{b}", T.LongType())]
    schema = T.StructType(fields)

    def _conv_gather(key, pdf_points: pd.DataFrame, pdf_tiles: pd.DataFrame
                     ) -> pd.DataFrame:
        if pdf_points.empty:
            return pd.DataFrame({f.name: pd.Series(
                dtype="int64" if f.name == id_col or f.name.startswith("n_")
                else "float64") for f in schema.fields})
        ids = pdf_points[id_col].to_numpy()
        out = {id_col: ids}
        sb = int(key[0]) // 64
        sbr, sbc = sb >> 32, sb & 0xFFFFFFFF
        sb_h = min(sb_px, height - sbr * sb_px)
        sb_w = min(sb_px, width - sbc * sb_px)
        wr0 = sbr * sb_px - rmax
        wc0 = sbc * sb_px - rmax
        win = fill_window(pdf_tiles, wr0, wc0,
                          sb_h + 2 * rmax, sb_w + 2 * rmax)
        valid = ~np.isnan(win)
        filled = np.where(valid, win, 0.0)
        pf = np.concatenate(
            [np.zeros((filled.shape[0], 1)),
             np.cumsum(filled, axis=1)], axis=1)
        pv = np.concatenate(
            [np.zeros((valid.shape[0], 1), dtype=np.int64),
             np.cumsum(valid, axis=1, dtype=np.int64)], axis=1)
        pr = pdf_points["y"].to_numpy().astype(np.int64) // XRES
        pc = pdf_points["x"].to_numpy().astype(np.int64) // XRES
        # points whose own pixel is outside the raster extent return
        # 0-count/NULL from this strategy (documented: Method 1 serves
        # in-extent points; the kernel strategies clip partial circles) —
        # masked here so chord indexing stays in-window for edge
        # superblocks whose sb_h < sb_px
        far = (pr < 0) | (pr >= height) | (pc < 0) | (pc >= width)
        wr = np.where(far, rmax, pr - wr0)
        wc = np.where(far, rmax, pc - wc0)
        # Chunked + row-sorted gather. The whole-batch form materialized
        # (n_points × (2r+1)) index/value temporaries — ~400 MB per buffer
        # at 260k-point groups — and its thread-scaling was memory-bus
        # bound (~0.5 eff N→4N). Sorting by window row makes consecutive
        # points hit overlapping prefix-table rows; 2048-point chunks keep
        # every chord temporary L2-resident (same constant as _CHUNK).
        n = len(ids)
        order = np.argsort(wr * (sb_w + 2 * rmax + 1) + wc, kind="stable")
        wr_s, wc_s = wr[order], wc[order]
        aranges = {b: np.arange(-chords[b][0], chords[b][0] + 1)
                   for b in buffers_m}
        res = {b: (np.empty(n), np.empty(n, dtype=np.int64))
               for b in buffers_m}
        CH = 2048
        for i0 in range(0, n, CH):
            sl = slice(i0, min(i0 + CH, n))
            wrc = wr_s[sl][:, None]
            wcc = wc_s[sl][:, None]
            for b in buffers_m:
                rpx, lo, hi = chords[b]
                rows = wrc + aranges[b][None, :]
                s = (pf[rows, wcc + (hi - rpx + 1)[None, :]]
                     - pf[rows, wcc + (lo - rpx)[None, :]]).sum(axis=1)
                cnt = (pv[rows, wcc + (hi - rpx + 1)[None, :]]
                       - pv[rows, wcc + (lo - rpx)[None, :]]).sum(axis=1)
                res[b][0][sl] = s
                res[b][1][sl] = cnt
        inv = np.empty(n, dtype=np.int64)
        inv[order] = np.arange(n)
        for b in buffers_m:
            s, cnt = res[b][0][inv], res[b][1][inv]
            cnt = np.where(far, 0, cnt)
            out[f"mean_{b}"] = np.where(cnt > 0,
                                        s / np.maximum(cnt, 1), np.nan)
            out[f"n_valid_{b}"] = cnt
        return pd.DataFrame(out)

    return (pts.groupBy("gkey")
            .cogroup(contrib.groupBy("gkey"))
            .applyInPandas(_conv_gather, schema))
