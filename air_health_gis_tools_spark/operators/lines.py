"""Lines-in-buffer extraction — the capability the reference declared but
never built (``Archived_scripts/extract_lines_in_buffer.py:1-8``: "Load GIS
lines file … calculate length of lines in buffer … #####TOOOODOOOO######").

For each point and radius R: how many line segments intersect the open disk,
and the total intersected length. Closed form per (point, segment): with
segment p(t) = a + t·(b−a), t∈[0,1], the disk crossing solves the quadratic
A t² + B t + C ≤ 0 where A = |b−a|², B = 2(a−p)·(b−a), C = |a−p|² − R².
Lengths are quantized to integer micrometers before summation so the sum is
order-independent and bit-identical to the relational oracle (the engine's
float-determinism rule, geo_synth docstring).

Physical strategy mirrors kNN: broadcast the (small) segment dim into a
chunked NumPy kernel; a cell-join variant is the path for large line tables
(segments explode to the cells their bbox covers — same machinery as
operators/pip.polygon_cover_cells).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T


def seg_circle_length_np(px, py, ax, ay, bx, by, radius):
    """Vectorized (points × segments) intersected length (float64) and hit
    mask. Operand order matches the SQL oracle expression exactly."""
    dx = (bx - ax).astype(np.float64)[None, :]
    dy = (by - ay).astype(np.float64)[None, :]
    fx = (ax[None, :] - px[:, None]).astype(np.float64)
    fy = (ay[None, :] - py[:, None]).astype(np.float64)
    A = dx * dx + dy * dy
    B = 2.0 * (fx * dx + fy * dy)
    C = fx * fx + fy * fy - float(radius) * float(radius)
    disc = B * B - 4.0 * A * C
    hit = disc > 0
    sq = np.sqrt(np.where(hit, disc, 0.0))
    t1 = (-B - sq) / (2.0 * A)
    t2 = (-B + sq) / (2.0 * A)
    t1c = np.maximum(t1, 0.0)
    t2c = np.minimum(t2, 1.0)
    span = np.maximum(t2c - t1c, 0.0)
    length = span * np.sqrt(A)
    hit = hit & (span > 0)
    return np.where(hit, length, 0.0), hit


def lines_in_radius(points: DataFrame,
                    seg_xy: tuple[np.ndarray, np.ndarray,
                                  np.ndarray, np.ndarray],
                    radius_m: int) -> DataFrame:
    """(doc_id, n_lines, total_len_um): segments crossing the R-disk of
    each ``(doc_id, x, y)`` point and their total intersected length in
    integer micrometers."""
    ax, ay, bx, by = (np.asarray(a, dtype=np.int64) for a in seg_xy)
    schema = T.StructType([T.StructField("n_lines", T.LongType()),
                           T.StructField("total_len_um", T.LongType())])

    @F.pandas_udf(schema)
    def _lines(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        xs = x.to_numpy(np.int64)
        ys = y.to_numpy(np.int64)
        n_out = np.empty(len(xs), dtype=np.int64)
        l_out = np.empty(len(xs), dtype=np.int64)
        for s in range(0, len(xs), 1024):
            e = min(s + 1024, len(xs))
            length, hit = seg_circle_length_np(
                xs[s:e], ys[s:e], ax, ay, bx, by, radius_m)
            n_out[s:e] = hit.sum(axis=1)
            l_out[s:e] = np.floor(length * 1e6 + 0.5).astype(np.int64) \
                .sum(axis=1)
        return pd.DataFrame({"n_lines": n_out, "total_len_um": l_out})

    out = points.select("doc_id", "x", "y").withColumn(
        "_l", _lines(F.col("x"), F.col("y")))
    return out.select("doc_id", F.col("_l.n_lines").alias("n_lines"),
                      F.col("_l.total_len_um").alias("total_len_um"))


def lines_sql(radius_m: int, pts_cte: str, lines_cte: str) -> str:
    """DuckDB oracle with the identical operand-order formula."""
    r2 = float(radius_m) * float(radius_m)
    return f"""
WITH pts AS ({pts_cte}),
segs AS ({lines_cte}),
q AS (
  SELECT p.doc_id,
         CAST(s.bx - s.ax AS DOUBLE) AS dx, CAST(s.by - s.ay AS DOUBLE) AS dy,
         CAST(s.ax - p.x AS DOUBLE) AS fx, CAST(s.ay - p.y AS DOUBLE) AS fy
  FROM pts p CROSS JOIN segs s
),
m AS (
  SELECT doc_id, dx * dx + dy * dy AS A,
         2.0 * (fx * dx + fy * dy) AS B,
         fx * fx + fy * fy - {r2} AS C
  FROM q
),
d AS (
  SELECT doc_id, A, B, B * B - 4.0 * A * C AS disc FROM m
),
t AS (
  SELECT doc_id, A, disc,
         greatest((-B - sqrt(CASE WHEN disc > 0 THEN disc ELSE 0.0 END))
                  / (2.0 * A), 0.0) AS t1c,
         least((-B + sqrt(CASE WHEN disc > 0 THEN disc ELSE 0.0 END))
               / (2.0 * A), 1.0) AS t2c
  FROM d
),
seglen AS (
  SELECT doc_id,
         CASE WHEN disc > 0 AND greatest(t2c - t1c, 0.0) > 0
              THEN greatest(t2c - t1c, 0.0) * sqrt(A) ELSE 0.0 END AS len,
         CASE WHEN disc > 0 AND greatest(t2c - t1c, 0.0) > 0
              THEN 1 ELSE 0 END AS hit
  FROM t
)
SELECT doc_id, CAST(sum(hit) AS BIGINT) AS n_lines,
       CAST(sum(CAST(floor(len * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_len_um
FROM seglen GROUP BY doc_id
"""
