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
- ``buffered_stats_tiled`` (scale path) — raster as a parquet tile table,
  points cogrouped with tiles on tile_id (``cogroup.applyInPandas``), partial
  (sum, cnt, min, max) per (point, tile), final combine via ``groupBy(point)``
  — classic partial/final aggregation; no tile array is ever replicated per
  point, and the shuffle moves only points + partial aggregates, never the
  raster. This is the plan that survives a 100 TB raster.
- ``buffered_mean_convolve_all`` — the reference's convolve-once Method 1:
  chord prefix sums over superblock windows; mean and n_valid only.

The first two share one disc kernel, ``_disc_stats``: one radius rule
(``radius_px``) and one gather over the union of the buffers' offsets,
reading a broadcast array, a tile or the formula raster.
"""

from __future__ import annotations

import math
from typing import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..geo_synth import RASTER_H, RASTER_W, XRES, raster_value_np
from ..sources.raster import fdiv, fill_window, halo_groups, tile_id_of


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


def _absent_lookup(pr, pc, dr, dc) -> np.ndarray:
    """``value_at`` of a tile missing from the tile table: all nodata."""
    return np.full((len(pr), len(dr)), np.nan)


def _formula_lookup(pr, pc, dr, dc) -> np.ndarray:
    """``value_at`` of the synthetic formula raster, NaN off its extent."""
    rows = pr[:, None] + dr
    cols = pc[:, None] + dc
    vals = raster_value_np(rows, cols)
    vals[(rows < 0) | (rows >= RASTER_H) | (cols < 0) | (cols >= RASTER_W)
         ] = np.nan
    return vals


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

    def _stats(xs: np.ndarray, ys: np.ndarray, value_at) -> pd.DataFrame:
        res = _disc_stats(ys.astype(np.int64) // xres,
                          xs.astype(np.int64) // xres, offsets, value_at)
        out: dict[str, np.ndarray] = {}
        for b, (s, cnt, mn, mx) in zip(buffers_m, res):
            has = cnt > 0
            out[f"mean_{b}"] = np.where(has, s / np.maximum(cnt, 1), np.nan)
            out[f"min_{b}"] = np.where(has, mn, np.nan)
            out[f"max_{b}"] = np.where(has, mx, np.nan)
            out[f"n_valid_{b}"] = cnt
        return pd.DataFrame(out)

    if raster is not None:
        bc = df.sparkSession.sparkContext.broadcast(raster)

        @F.pandas_udf(schema)
        def _kernel(x: pd.Series, y: pd.Series) -> pd.DataFrame:
            return _stats(x.to_numpy(), y.to_numpy(),
                          _window_lookup(bc.value))
    else:
        @F.pandas_udf(schema)
        def _kernel(x: pd.Series, y: pd.Series) -> pd.DataFrame:
            xs, ys = x.to_numpy(), y.to_numpy()
            try:
                return pd.DataFrame(
                    _batch_stats_formula_fast(xs, ys, buffers_m, mode))
            except ValueError:  # edge window → generic (clipping) path
                return _stats(xs, ys, _formula_lookup)

    return (df.withColumn("_z", _kernel(F.col("x"), F.col("y")))
            .select(*df.columns, "_z.*"))


# --------------------------------------------------------------------------
# scale path: raster tile table + cogroup partial/final aggregation
# --------------------------------------------------------------------------

def point_tile_ids(df: DataFrame, rmax_px: int, tile_px: int,
                   height: int = RASTER_H, width: int = RASTER_W,
                   xres: int = XRES) -> DataFrame:
    """Explode each ``(x, y)`` point to the tile ids its max-buffer square
    touches.

    Tile key: tile_id = (row0/tile_px) * 2^32 + (col0/tile_px). A 10 km
    buffer at 1 km pixels touches ≤ 4 tiles of 256 px — bounded fan-out.

    Pure Catalyst (r6, guide §4.1/§4.4): the r5 Arrow kernel here was the
    tiled plan's hidden cost — explode's implicit ``size(...) > 0`` filter
    is pushed below the ingest repartition, and a filter on a UDF-computed
    column makes the optimizer evaluate the UDF BOTH below the exchange
    (on the unparallelized scan task) and above it — two ArrowEvalPython
    nodes per subtree, four per action since the plan reads the point side
    twice (hot-tile count + cogroup). Integer ``least/greatest`` + one
    4-element ``array`` keep the whole derivation in whole-stage codegen;
    the emitted (_tids, single, tile_id) values are bit-identical (same
    candidate order into the same ``array_distinct``). Coordinates are
    cast to BIGINT first (the kernels' ``astype(np.int64)``: any numeric
    type, fractions truncated), then floor-divided via the pmod form,
    which preserves the kernels' numpy ``//`` semantics for negative
    frames.
    """
    assert 2 * rmax_px + 1 <= tile_px, "window spans >2 tiles per axis"
    ntx = 1 << 32

    r0 = fdiv("CAST(y AS BIGINT)", xres)
    c0 = fdiv("CAST(x AS BIGINT)", xres)
    tr_lo = fdiv(f"greatest({r0} - {rmax_px}, 0L)", tile_px)
    tr_hi = fdiv(f"least({r0} + {rmax_px}, {height - 1}L)", tile_px)
    tc_lo = fdiv(f"greatest({c0} - {rmax_px}, 0L)", tile_px)
    tc_hi = fdiv(f"least({c0} + {rmax_px}, {width - 1}L)", tile_px)
    # window ≤ tile ⇒ at most the 4 corner tiles (same candidate order as
    # the r5 kernel: lo/lo, lo/hi, hi/lo, hi/hi)
    arr = F.array_distinct(F.expr(
        f"array({tr_lo} * {ntx}L + {tc_lo}, {tr_lo} * {ntx}L + {tc_hi}, "
        f"{tr_hi} * {ntx}L + {tc_lo}, {tr_hi} * {ntx}L + {tc_hi})"))
    # `single` marks points whose whole (clipped) window lies in ONE tile —
    # their (point, tile) partial IS the final answer, so they can bypass
    # the final combine shuffle entirely (the common case: fraction
    # ≈ (1 - 2·rmax/tile_px)², ~85 % at rmax 10 / tile 256).
    # explode_OUTER, deliberately: the candidate array is never empty (4
    # corners → ≥ 1 distinct id), so the rows are identical to explode's —
    # but a plain explode makes InferFiltersFromGenerate add a
    # ``size(_tids) > 0`` filter that filter-pushdown then copies BELOW
    # the ingest exchange, re-inlining the whole ~2000-node tile-id
    # expression into one interpreted (too big for codegen) per-row
    # predicate on the unparallelized scan task (guide §4.4's duplication
    # pathology, expression-flavored). Outer generate infers no filter.
    return (df.withColumn("_tids", arr)
            .withColumn("single", F.size("_tids") == 1)
            .withColumn("tile_id", F.explode_outer("_tids"))
            .drop("_tids"))


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
    # Knuth multiplicative hash of the id picks the salt
    points = (points.join(F.broadcast(hot), key, "left")
              .withColumn("_k", F.coalesce(F.col("salt_k"), F.lit(1)))
              .withColumn(
                  "gkey",
                  F.col(key) * 64
                  + F.pmod(F.pmod(F.col(id_col) * F.lit(2654435761),
                                  F.lit(1 << 31)), F.col("_k")))
              .drop("salt_k", "_k"))
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
    """Partial/final zonal stats of the ``(id_col, x, y)`` points over a
    raster *tile table*.

    ``tiles``: (tile_id:long, row0:int, col0:int, h:int, w:int,
    data:array<double>) — NaN encoded as NULL inside the array is not needed;
    nodata arrives already as NaN doubles.

    Plan: points exploded to touched tiles → cogroup(points, tiles) on
    tile_id (one shuffle of the small side each; the tile table is read
    once) → Arrow kernel emits per-(point, buffer) PARTIAL (sum, cnt, min,
    max) → groupBy(point) FINAL combine. Mirrors Spark's own partial/final
    HashAggregate; no tile pixel ever crosses the final shuffle.

    Urban-cluster skew (north_rule): a hot tile can hold 100k+ points —
    one cogroup group, one core, the job's straggler. Defense is ADAPTIVE
    SALTING: a cheap pre-count finds hot tiles, each is split into
    ceil(count / hot_group_rows) salt groups (points pick their salt by id
    hash; the tile row replicates only into its own salts). Cold tiles pay
    nothing. This is the same mechanism AQE's skew-join split applies to
    sort-merge joins, applied to the cogroup.
    """
    buffers_m = list(buffers_m)
    rmax = max(radius_px(b, xres) for b in buffers_m)
    pts = point_tile_ids(
        points.select(id_col, "x", "y"), rmax, tile_px,
        height=height, width=width, xres=xres)
    # NOTE (r6, considered and rejected): persisting the exploded point
    # side here would serve both the hot-tile pre-count and the cogroup
    # from one computation — but the persist's logical plan is invariant
    # across repeated invocations on the same input, so Spark's
    # CacheManager would feed every later invocation (including a bench's
    # timed reps) from the first run's cache, silently excluding the
    # ingest from what is measured. The double computation is the honest
    # price of the pre-count salting pattern; it is two narrow codegen
    # passes since the r6 Catalyst tile-id rewrite.
    from pyspark import StorageLevel

    # urban-cluster skew: hot tiles split into salt groups
    pts, tiles = _salt_hot_groups(pts, tiles, "tile_id", id_col,
                                  hot_group_rows, max_salt)

    # one WIDE partial row per (point, tile): no per-buffer row blowup and
    # no pivot stage in the final combine
    pfields = [T.StructField(id_col, T.LongType()),
               T.StructField("single", T.BooleanType())]
    for b in buffers_m:
        pfields += [T.StructField(f"s_{b}", T.DoubleType()),
                    T.StructField(f"cnt_{b}", T.LongType()),
                    T.StructField(f"mn_{b}", T.DoubleType()),
                    T.StructField(f"mx_{b}", T.DoubleType())]
    partial_schema = T.StructType(pfields)

    offsets = [buffer_offsets(b, "canonical", xres) for b in buffers_m]

    def _partial(key, pdf_points: pd.DataFrame, pdf_tiles: pd.DataFrame
                 ) -> pd.DataFrame:
        if pdf_points.empty:
            return pd.DataFrame(
                {f.name: pd.Series(dtype="float64") for f in partial_schema})
        ids = pdf_points[id_col].to_numpy()
        singles = pdf_points["single"].to_numpy()
        pr = pdf_points["y"].to_numpy().astype(np.int64) // xres
        pc = pdf_points["x"].to_numpy().astype(np.int64) // xres
        # home tile: the tile holding the point's pixel clamped into the
        # raster extent — always one of its point_tile_ids candidates, so
        # every point keeps exactly one guaranteed partial row, even at
        # zero count (row-count parity with buffered_stats for points off
        # the raster, on nodata, or under a tile missing from the table)
        home = tile_id_of(np.clip(pr, 0, height - 1) // tile_px,
                          np.clip(pc, 0, width - 1) // tile_px
                          ) == int(key[0]) // 64
        if pdf_tiles.empty:
            value_at = _absent_lookup
        else:
            t = pdf_tiles.iloc[0]
            th, tw = int(t["h"]), int(t["w"])
            row0, col0 = int(t["row0"]), int(t["col0"])
            value_at = _window_lookup(
                np.asarray(t["data"], dtype=np.float64).reshape(th, tw),
                row0, col0)
            # ~(1 - 2·rmax/tile_px)² of points have their whole window
            # inside this tile (the `single` fraction): order them first so
            # the kernel's chunks stay homogeneous and take the lookup's
            # in-window path (emitted row order is free — the combine
            # groups by point id and the driver hash is order-insensitive)
            interior = ((pr - rmax >= row0) & (pr + rmax < row0 + th)
                        & (pc - rmax >= col0) & (pc + rmax < col0 + tw))
            if interior.any() and not interior.all():
                ordr = np.argsort(~interior, kind="stable")
                ids, singles, pr, pc, home = (
                    ids[ordr], singles[ordr], pr[ordr], pc[ordr], home[ordr])
        cols_out = {id_col: ids, "single": singles}
        any_cnt = np.zeros(len(ids), dtype=np.int64)
        for b, (s, cnt, mn, mx) in zip(
                buffers_m, _disc_stats(pr, pc, offsets, value_at)):
            cols_out[f"s_{b}"] = s
            cols_out[f"cnt_{b}"] = cnt
            cols_out[f"mn_{b}"] = mn
            cols_out[f"mx_{b}"] = mx
            any_cnt += cnt
        df_out = pd.DataFrame(cols_out)
        return df_out[(any_cnt > 0) | home]

    partial = (pts.groupBy("gkey")
               .cogroup(tiles.groupBy("gkey"))
               .applyInPandas(_partial, partial_schema))
    # the partial table feeds BOTH branches below; without materialization
    # Spark plans the cogroup kernel twice (one per union branch — verified
    # via explain: two FlatMapCoGroupsInPandas nodes). Partials are
    # points-scale (14 numbers per (point, tile)) — persisting them is the
    # cheap side, never the raster.
    partial = partial.persist(StorageLevel.MEMORY_AND_DISK)

    def _finalize(df_):
        cols = [F.col(id_col)]
        for b in buffers_m:
            has = F.col(f"cnt_{b}") > 0
            cols += [
                F.when(has, F.col(f"s_{b}") / F.col(f"cnt_{b}"))
                .alias(f"mean_{b}"),
                F.when(has, F.col(f"mn_{b}")).alias(f"min_{b}"),
                F.when(has, F.col(f"mx_{b}")).alias(f"max_{b}"),
                F.coalesce(F.col(f"cnt_{b}"), F.lit(0))
                .alias(f"n_valid_{b}"),
            ]
        return df_.select(cols)

    # single-tile points: the one partial row IS the final row — project it
    # straight through; only multi-tile partials pay the combine shuffle
    # (bit-identical: combining one row is the identity)
    direct = _finalize(partial.filter(F.col("single")))
    aggs = []
    for b in buffers_m:
        aggs += [F.sum(f"s_{b}").alias(f"s_{b}"),
                 F.sum(f"cnt_{b}").alias(f"cnt_{b}"),
                 F.min(f"mn_{b}").alias(f"mn_{b}"),
                 F.max(f"mx_{b}").alias(f"mx_{b}")]
    combined = _finalize(
        partial.filter(~F.col("single")).groupBy(id_col).agg(*aggs))
    return direct.unionByName(combined)


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
    per 201 M px. Here whole tiles go to every superblock whose
    rmax-padded window they touch (``halo_groups``: 8.27 groups per tile
    on the 4096² raster at sb_tiles = 1), points shuffle once, no plane
    is materialized, and only per-point rows leave the task; per-task
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
        "group_id",
        ((F.col("y") / XRES).cast("long") / sb_px).cast("long")
        * F.lit(1 << 32)
        + ((F.col("x") / XRES).cast("long") / sb_px).cast("long"))
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
        if sb_h <= 0 or sb_w <= 0 or pdf_tiles.empty:
            # superblock entirely outside coverage: NaN stats, 0 counts
            # (row parity with the other zonal strategies)
            for b in buffers_m:
                out[f"mean_{b}"] = np.full(len(ids), np.nan)
                out[f"n_valid_{b}"] = np.zeros(len(ids), dtype=np.int64)
            return pd.DataFrame(out)
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
