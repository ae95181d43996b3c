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

``radius_count`` (the ball query) and ``knn.knn_cell_join`` probe one
broadcast candidate index, ``_near_targets``: each target is copied to the
3×3 cells of pitch = radius around its own, grouped to one row per cell,
and every point reads the single row of its own cell — a hash lookup per
point, no explode of the fact side, no group-by and no shuffle. The exact
predicate then runs as a Catalyst higher-order function over that row.
``radius_count_np`` is its broadcast-kernel twin, timed by ``bench.py``.
All three joins key cells with one floor rule, ``_cell_sql``, packed by
``functions/cells`` (its ``fdiv`` and ``pack_key``, the package's own).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..functions.cells import fdiv, pack_key

# square cell pitch of the polygon cover / point key equi-join
CELL_M = 25_000


def _cell_sql(e: str, cell_m: int = CELL_M) -> str:
    """floor(e / cell_m) of the BIGINT value of ``e`` — the one cell key of
    both sides of every cell join here. Floor, not truncation: a negative
    coordinate must land in the cell its polygon's cover, or its target's
    3×3 ring, lists."""
    return fdiv(f"CAST({e} AS BIGINT)", cell_m)


def _cell_key(x: str, y: str, cell_m: int = CELL_M):
    """The packed (column, row) cell key of the point ``(x, y)``."""
    return pack_key(F.expr(_cell_sql(x, cell_m)),
                    F.expr(_cell_sql(y, cell_m)))


def _near_targets(points: DataFrame, targets: DataFrame, cell_m: int
                  ) -> DataFrame:
    """``points`` plus ``cands``: the rows of ``targets`` (each a struct of
    all its columns, ``mx``/``my`` among them) whose cell of pitch
    ``cell_m`` lies in the 3×3 ring around the point's cell. Any target
    within ``cell_m`` of the point is in that ring, so ``cands`` is a
    complete candidate set for a bounded search; NULL when the ring is
    empty.

    Build side: each target is copied to its 9 neighbour cells and grouped
    to one row per cell (9·|targets| entries). It is grouped on one
    partition — a single partition already satisfies the group-by's
    clustering, so the build adds no Exchange — and broadcast. Probe side:
    one LEFT hash lookup per point on its own cell, so points with no
    candidate stay in the flow."""
    ring = F.explode(F.array(*[F.lit(d) for d in (-1, 0, 1)]))
    index = (targets.coalesce(1)
             .select(F.struct(*targets.columns).alias("t"),
                     F.expr(_cell_sql("mx", cell_m)).alias("ci"),
                     F.expr(_cell_sql("my", cell_m)).alias("cj"))
             .select("*", ring.alias("di"), ring.alias("dj"))
             .groupBy(pack_key(F.col("ci") + F.col("di"),
                               F.col("cj") + F.col("dj")).alias("cell"))
             .agg(F.collect_list("t").alias("cands")))
    return (points.withColumn("cell", _cell_key("x", "y", cell_m))
            .join(F.broadcast(index), "cell", "left").drop("cell"))


def polygon_cover_cells(polys: DataFrame) -> DataFrame:
    """Explode each ``(cx, cy, r)`` circle polygon to the cells its bbox
    covers.

    (The rasterize-vector analogue of the reference's
    ``arcpy.conversion.PolygonToRaster``, 1-Burnt Area ArcGIS - 25km.py:30 —
    polygon → covering-cell set as an equi-join key.)

    Pure Catalyst (``sequence`` + ``explode``): building the broadcast
    runs no Python worker and stays in whole-stage codegen.
    """
    ci = _cell_sql("cx - r"), _cell_sql("cx + r")
    cj = _cell_sql("cy - r"), _cell_sql("cy + r")
    return (polys
            .select("*",
                    F.explode(F.expr(f"sequence({ci[0]}, {ci[1]})")
                              ).alias("_ci"),
                    F.explode(F.expr(f"sequence({cj[0]}, {cj[1]})")
                              ).alias("_cj"))
            .select(*polys.columns,
                    pack_key(F.col("_ci"), F.col("_cj")).alias("cell")))


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
    pts = points.withColumn("cell", _cell_key("x", "y"))

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
    ``radius_m`` (boundary included). Distance-band range join realized as
    one probe of the cell index + exact θ filter over the candidates
    (SURVEY.md J5)."""
    near = _near_targets(points.select("doc_id", "x", "y"),
                         targets.select("mx", "my"), radius_m)
    # coalesce the ARRAY, not the size: size(NULL) is -1 with ANSI off
    n = F.expr(f"size(filter(coalesce(cands, array()), m -> "
               f"(x - m.mx) * (x - m.mx) + (y - m.my) * (y - m.my) "
               f"<= {radius_m * radius_m}L))")
    return near.select("doc_id", n.cast("long").alias("n_in_radius"))


def radius_count_np(points: DataFrame, target_xy: tuple[np.ndarray, np.ndarray],
                    radius_m: int) -> DataFrame:
    """Broadcast-kernel variant of ``radius_count``: a chunked numpy
    distance matrix against every target, in an Arrow UDF (timed by
    ``bench.py``; ``radius_count`` is the plan queries run)."""
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
