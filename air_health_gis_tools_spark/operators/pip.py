"""Point-in-polygon join + count — the reference's Active-Fires operator.

Reference semantics (``Generate Codes for Artemis - Active Fires.R:27-42``):
for each buffer polygon, count the contained points, per group attribute
(``acq_date`` there; ``lang`` in our driver query). Containment is strict
interior-or-boundary via ``st_contains``; our circular polygons use the exact
integer predicate ``dx² + dy² ≤ r²`` (boundary included, engine-canonical and
bit-replicable by the relational oracle).

Physical plan (north_star's "prepared-geometry broadcast + cell-prefix hash
join"): polygons — a small dim — explode to the square cells their bbox
covers; points are keyed by the same cell grid (a computed column, no
shuffle on the fact side); broadcast hash equi-join on cell; exact
containment predicate; then partial/final ``groupBy(poly).count()``. At
10^12 documents only the polygon dim and the final counts ever shuffle.

``radius_count`` is the same cell equi-join shape for the ball query;
``radius_count_np`` is its broadcast-kernel twin, timed by ``bench.py``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

# square cell pitch of the polygon cover / point key equi-join
CELL_M = 25_000


def _cell_sql(e: str) -> str:
    """floor(e / CELL_M) of the BIGINT value of ``e`` — the one cell key of
    both join sides. Floor (the pmod form), not truncation: a negative
    coordinate must land in the cell its polygon's cover lists."""
    v = f"CAST({e} AS BIGINT)"
    return f"(({v} - pmod({v}, {CELL_M})) DIV {CELL_M})"


def polygon_cover_cells(polys: DataFrame) -> DataFrame:
    """Explode each ``(cx, cy, r)`` circle polygon to the cells its bbox
    covers.

    (The rasterize-vector analogue of the reference's
    ``arcpy.conversion.PolygonToRaster``, 1-Burnt Area ArcGIS - 25km.py:30 —
    polygon → covering-cell set as an equi-join key.)

    Pure Catalyst (r3): ``sequence``+``explode`` replaces the r2 Arrow
    kernel — the dim prep no longer pays a Python-worker round-trip inside
    every job that builds the broadcast (and stays in whole-stage
    codegen).
    """
    ci = _cell_sql("cx - r"), _cell_sql("cx + r")
    cj = _cell_sql("cy - r"), _cell_sql("cy + r")
    return (polys
            .withColumn("_ci", F.explode(F.expr(
                f"sequence({ci[0]}, {ci[1]})")))
            .withColumn("_cj", F.explode(F.expr(
                f"sequence({cj[0]}, {cj[1]})")))
            .withColumn("cell",
                        F.col("_ci") * F.lit(1 << 32) + F.col("_cj"))
            .drop("_ci", "_cj"))


def pip_circle_counts(points: DataFrame, polys: DataFrame,
                      group_cols: list[str] | None = None) -> DataFrame:
    """Count ``(x, y)`` points inside each circular polygon (per optional
    group cols).

    Exact semantics: dx² + dy² ≤ r² (integer). Returns
    (poly_id, *group_cols, n_points) including zero rows for empty polygons
    (the reference's rowSums yields 0 counts too, Active Fires.R:33-35) —
    zero-fill is per polygon (cross of observed group values) only when
    group_cols is empty; grouped variants return observed combinations.
    """
    group_cols = group_cols or []
    covered = polygon_cover_cells(polys)
    pts = points.withColumn("cell", F.expr(
        f"{_cell_sql('x')} * {1 << 32}L + {_cell_sql('y')}"))

    dx = F.col("x") - F.col("cx")
    dy = F.col("y") - F.col("cy")
    inside = (dx * dx + dy * dy) <= (F.col("r") * F.col("r"))
    hits = (pts.join(F.broadcast(covered), "cell")
            .filter(inside)
            .groupBy("poly_id", *group_cols)
            .agg(F.count(F.lit(1)).alias("n_points")))
    if group_cols:
        return hits
    # zero-fill empty polygons (left join back to the dim). ``hits`` has
    # ≤ |polys| rows (one per non-empty polygon) and the dim is small by
    # this operator's contract — hint the broadcast so the initial plan
    # is a BroadcastHashJoin instead of a sort-merge join whose aggregate
    # side has no size estimate (r6, guide §3.1; AQE usually rewrites it
    # at runtime anyway, the hint makes it unconditional).
    return (polys.select("poly_id")
            .join(F.broadcast(hits), "poly_id", "left")
            .select("poly_id",
                    F.coalesce(F.col("n_points"), F.lit(0)).alias("n_points")))


def radius_count(points: DataFrame, targets: DataFrame, radius_m: int
                 ) -> DataFrame:
    """Ball/radius join count — the reference's ``find_nn_kd_by_tree``
    ``query_ball_tree`` (Archived_scripts/exploration.ipynb): for every
    ``(doc_id, x, y)`` point, how many ``(mx, my)`` targets lie within
    ``radius_m``. Distance-band range join realized as cell equi-join +
    exact θ post-filter (SURVEY.md J5)."""
    cell_m = radius_m
    offs = [(di, dj) for di in (-1, 0, 1) for dj in (-1, 0, 1)]
    off_col = F.array(*[F.struct(F.lit(a).alias("di"), F.lit(b).alias("dj"))
                        for a, b in offs])
    pts = (points.select("doc_id", "x", "y")
           .withColumn("_o", F.explode(off_col))
           .withColumn("cell",
                       ((F.col("x") / cell_m).cast("long") + F.col("_o.di"))
                       * F.lit(1 << 32)
                       + ((F.col("y") / cell_m).cast("long")
                          + F.col("_o.dj")))
           .drop("_o"))
    tg = targets.select(
        "mx", "my",
        ((F.col("mx") / cell_m).cast("long") * F.lit(1 << 32)
         + (F.col("my") / cell_m).cast("long")).alias("cell"))
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    hits = (pts.join(F.broadcast(tg), "cell")
            .filter((dx * dx + dy * dy) <= F.lit(radius_m) ** 2)
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_in_radius")))
    return (points.select("doc_id")
            .join(hits, "doc_id", "left")
            .select("doc_id", F.coalesce("n_in_radius", F.lit(0))
                    .alias("n_in_radius")))


def radius_count_np(points: DataFrame, target_xy: tuple[np.ndarray, np.ndarray],
                    radius_m: int) -> DataFrame:
    """Broadcast-kernel variant of ``radius_count`` for small target dims:
    the chunked numpy distance matrix replaces the 9-cell explode join —
    far less row amplification, scales with cores like the zonal kernel.
    The cell-join variant remains the plan for large target tables."""
    txs, tys = (np.asarray(a, dtype=np.int64) for a in target_xy)
    r2 = radius_m * radius_m

    @F.pandas_udf(T.LongType())
    def _cnt(x: pd.Series, y: pd.Series) -> pd.Series:
        xs = x.to_numpy().astype(np.int64)
        ys = y.to_numpy().astype(np.int64)
        out = np.empty(len(xs), dtype=np.int64)
        for s in range(0, len(xs), 1024):
            e = min(s + 1024, len(xs))
            dx = xs[s:e, None] - txs[None, :]
            dy = ys[s:e, None] - tys[None, :]
            out[s:e] = ((dx * dx + dy * dy) <= r2).sum(axis=1)
        return pd.Series(out)

    return points.select("doc_id", "x", "y").withColumn(
        "n_in_radius", _cnt(F.col("x"), F.col("y"))) \
        .select("doc_id", "n_in_radius")
