"""Query registry: every implemented operator as (spark_fn, duckdb_oracle_sql).

The driver executes each Spark plan at sf=0.01 and the paired ANSI-SQL on
DuckDB over the same parquet tables, then compares row counts, schemas and
order-insensitive value hashes. Column names are aliased identically on both
sides. All floating outputs are engineered to be bit-identical across
engines: integer-exact sums, single-rounded sqrt/divisions (see geo_synth).

SURVEY.md §2 coverage is annotated per query (S/P/J/A/F numbers).
"""

from __future__ import annotations

import os
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import geo_synth as G
from ..functions import text as TXT
from ..functions.cells import hex_cell_expr, square_cell_sql
from ..functions.geocode import with_xy
from ..operators import dedup as DD
from ..operators import similarity as SIM
from ..operators.knn import knn_cell_join, near_monitors
from ..operators.pip import pip_circle_counts, radius_count
from ..operators.zonal import buffered_stats, radius_px

BUFFERS = list(G.BUFFERS_M)


# --------------------------------------------------------------------------
# shared loaders / CTE fragments
# --------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def docs_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + geocoded (x, y) — the Catalyst geocode (F11)."""
    return with_xy(_docs(spark, sf_dir))


def monitors_df(spark: SparkSession) -> DataFrame:
    mx, my = G.monitor_xy_sql("id", "spark")
    return spark.range(G.N_MONITORS).select(
        F.col("id").alias("monitor_id"),
        F.expr(mx).alias("mx"), F.expr(my).alias("my"))


def polys_df(spark: SparkSession, n: int = G.N_POLYS) -> DataFrame:
    cx, cy, r = G.poly_circle_sql("id", "spark")
    return spark.range(n).select(
        F.col("id").alias("poly_id"),
        F.expr(cx).alias("cx"), F.expr(cy).alias("cy"), F.expr(r).alias("r"))


def polys_big_df(spark: SparkSession) -> DataFrame:
    cx, cy, r = G.poly_circle_big_sql("id", "spark")
    return spark.range(G.N_POLYS).select(
        F.col("id").alias("poly_id"),
        F.expr(cx).alias("cx"), F.expr(cy).alias("cy"), F.expr(r).alias("r"))


def _pts_cte(dialect: str) -> str:
    x, y = G.point_xy_sql("doc_id", dialect)
    return f"SELECT doc_id, {x} AS x, {y} AS y FROM documents"


def _mons_cte(dialect: str) -> str:
    mx, my = G.monitor_xy_sql("r.id", dialect)
    if dialect == "duckdb":
        return (f"SELECT r.range AS monitor_id, {mx.replace('r.id', 'r.range')} AS mx, "
                f"{my.replace('r.id', 'r.range')} AS my "
                f"FROM range({G.N_MONITORS}) r")
    raise ValueError(dialect)


def _polys_cte_duckdb() -> str:
    cx, cy, r = G.poly_circle_sql("p.range", "duckdb")
    return (f"SELECT p.range AS poly_id, {cx} AS cx, {cy} AS cy, {r} AS r "
            f"FROM range({G.N_POLYS}) p")


# --------------------------------------------------------------------------
# q01 flagship: buffered zonal statistics (A1 + O3 + F7; J1 assignment)
# --------------------------------------------------------------------------

def q01_buffered_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = docs_xy(spark, sf_dir)
    out = buffered_stats(pts, BUFFERS)
    cols = [F.col("doc_id")]
    for b in BUFFERS:
        for stat in ("mean", "min", "max"):
            c = F.col(f"{stat}_{b}")
            cols.append(F.when(F.isnan(c), None).otherwise(c)
                        .alias(f"{stat}_{b}"))
        cols.append(F.col(f"n_valid_{b}"))
    return out.select(cols)


def q01_sql() -> str:
    rmax = max(radius_px(b) for b in BUFFERS)
    val = G.raster_value_sql("(p.y // 1000) + o.dr", "(p.x // 1000) + o.dc")
    per_buf = []
    for b in BUFFERS:
        r2 = radius_px(b) ** 2
        per_buf.append(
            f"  CASE WHEN count(CASE WHEN d2 <= {r2} THEN v END) > 0 THEN "
            f"sum(CASE WHEN d2 <= {r2} THEN v END) "
            f"/ count(CASE WHEN d2 <= {r2} THEN v END) END AS mean_{b},\n"
            f"  min(CASE WHEN d2 <= {r2} THEN v END) AS min_{b},\n"
            f"  max(CASE WHEN d2 <= {r2} THEN v END) AS max_{b},\n"
            f"  count(CASE WHEN d2 <= {r2} THEN v END) AS n_valid_{b}")
    return f"""
WITH pts AS ({_pts_cte('duckdb')}),
offs AS (
  SELECT a.range AS dr, b.range AS dc
  FROM range(-{rmax}, {rmax + 1}) a, range(-{rmax}, {rmax + 1}) b
),
px AS (
  SELECT p.doc_id, o.dr * o.dr + o.dc * o.dc AS d2, {val} AS v
  FROM pts p CROSS JOIN offs o
)
SELECT doc_id,
{",".join(per_buf)}
FROM px GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# q02 hex cell assignment (F12 hex; the tiling join key)
# --------------------------------------------------------------------------

def q02_hex_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Catalyst-expression hex assignment (whole-stage codegen, no Arrow);
    # bit-identical to the hex_cell_udf kernel (test_operators pins it)
    pts = docs_xy(spark, sf_dir)
    for res in (7, 8, 9):
        pts = pts.withColumn(f"cell_hex_{res}", hex_cell_expr(res))
    return pts.select("doc_id", "cell_hex_7", "cell_hex_8", "cell_hex_9")


def _hex_rank_cte(res: int) -> str:
    w, h = G.HEX_PITCH[res]
    enc = G.hex_cell_id_sql_encode(res, "i", "j")
    return f"""
cand{res} AS (
  SELECT p.doc_id,
         (p.x // {w}) + t.di AS i, (p.y // {h}) + t.dj AS j,
         (p.x - ((p.x // {w}) + t.di) * {w}) * (p.x - ((p.x // {w}) + t.di) * {w})
       + (p.y - ((p.y // {h}) + t.dj) * {h}) * (p.y - ((p.y // {h}) + t.dj) * {h}) AS d2
  FROM pts p CROSS JOIN {G.hex_candidates_values_sql()} t(di, dj)
),
best{res} AS (
  SELECT doc_id, {enc} AS cell_hex_{res},
         row_number() OVER (PARTITION BY doc_id ORDER BY d2, i, j) AS rn
  FROM cand{res} WHERE (i + j) % 2 = 0
)"""


def q02_sql() -> str:
    ctes = ",".join(_hex_rank_cte(r) for r in (7, 8, 9))
    return f"""
WITH pts AS ({_pts_cte('duckdb')}),{ctes}
SELECT b7.doc_id, b7.cell_hex_7, b8.cell_hex_8, b9.cell_hex_9
FROM (SELECT * FROM best7 WHERE rn = 1) b7
JOIN (SELECT * FROM best8 WHERE rn = 1) b8 USING (doc_id)
JOIN (SELECT * FROM best9 WHERE rn = 1) b9 USING (doc_id)
"""


# --------------------------------------------------------------------------
# q03 square cells + pixel assignment, both rounding modes (J1, J3)
# --------------------------------------------------------------------------

def _q03_cols(dialect: str) -> list[tuple[str, str]]:
    row_f, col_f = G.pixel_of_point_sql("x", "y", dialect, "floor")
    row_n, col_n = G.pixel_of_point_sql("x", "y", dialect, "nearest")
    return [
        ("cell_sq_25k", square_cell_sql("x", "y", 25_000, dialect)),
        ("cell_sq_5k", square_cell_sql("x", "y", 5_000, dialect)),
        ("pix_row", row_f), ("pix_col", col_f),
        ("pix_row_nearest", row_n), ("pix_col_nearest", col_n),
    ]


def q03_square_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = docs_xy(spark, sf_dir)
    for name, expr in _q03_cols("spark"):
        pts = pts.withColumn(name, F.expr(expr))
    return pts.select("doc_id", *[n for n, _ in _q03_cols("spark")])


def q03_sql() -> str:
    cols = ",\n  ".join(f"{e} AS {n}" for n, e in _q03_cols("duckdb"))
    return f"WITH pts AS ({_pts_cte('duckdb')})\nSELECT doc_id,\n  {cols}\nFROM pts"


# --------------------------------------------------------------------------
# q04/q05 point sampling (J2 gather; J3 nearest)
# --------------------------------------------------------------------------

def _sample_sql_expr(dialect: str, mode: str) -> str:
    row, col = G.pixel_of_point_sql("x", "y", dialect, mode)
    return G.raster_value_sql(row, col)


def q04_point_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = docs_xy(spark, sf_dir)
    return pts.select(
        "doc_id", F.expr(_sample_sql_expr("spark", "floor")).alias("v"))


def q04_sql() -> str:
    return (f"WITH pts AS ({_pts_cte('duckdb')}) SELECT doc_id, "
            f"{_sample_sql_expr('duckdb', 'floor')} AS v FROM pts")


def q05_point_sample_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = docs_xy(spark, sf_dir)
    return pts.select(
        "doc_id", F.expr(_sample_sql_expr("spark", "nearest")).alias("v"))


def q05_sql() -> str:
    return (f"WITH pts AS ({_pts_cte('duckdb')}) SELECT doc_id, "
            f"{_sample_sql_expr('duckdb', 'nearest')} AS v FROM pts")


# --------------------------------------------------------------------------
# q06 bounded kNN (J4): cell join vs brute-force oracle
# --------------------------------------------------------------------------

def q06_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = docs_xy(spark, sf_dir)
    out = knn_cell_join(pts, monitors_df(spark), G.KNN_BOUND_M)
    return out.select("doc_id", "monitor_id", "dist_m")


def q06_sql() -> str:
    b2 = G.KNN_BOUND_M ** 2
    return f"""
WITH pts AS ({_pts_cte('duckdb')}),
mons AS ({_mons_cte('duckdb')}),
cand AS (
  SELECT p.doc_id, m.monitor_id,
         (p.x - m.mx) * (p.x - m.mx) + (p.y - m.my) * (p.y - m.my) AS d2
  FROM pts p CROSS JOIN mons m
),
best AS (
  SELECT doc_id, monitor_id, d2,
         row_number() OVER (PARTITION BY doc_id ORDER BY d2, monitor_id) rn
  FROM cand WHERE d2 <= {b2}
)
SELECT p.doc_id, b.monitor_id, sqrt(CAST(b.d2 AS DOUBLE)) AS dist_m
FROM pts p LEFT JOIN best b ON p.doc_id = b.doc_id AND b.rn = 1
"""


# --------------------------------------------------------------------------
# q07/q08 point-in-polygon counts (J6, A8)
# --------------------------------------------------------------------------

def q07_pip_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pip_circle_counts(docs_xy(spark, sf_dir), polys_df(spark))


def q07_sql() -> str:
    return f"""
WITH pts AS ({_pts_cte('duckdb')}),
polys AS ({_polys_cte_duckdb()}),
hits AS (
  SELECT g.poly_id, count(*) AS n
  FROM polys g JOIN pts p
    ON (p.x - g.cx) * (p.x - g.cx) + (p.y - g.cy) * (p.y - g.cy) <= g.r * g.r
  GROUP BY g.poly_id
)
SELECT g.poly_id, COALESCE(h.n, 0) AS n_points
FROM polys g LEFT JOIN hits h USING (poly_id)
"""


def q08_pip_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped PIP over the LARGE polygon fixture (50-250 km circles) so the
    sf0.01 driver check returns non-empty groups — see poly_circle_big_sql."""
    return pip_circle_counts(docs_xy(spark, sf_dir), polys_big_df(spark),
                             group_cols=["lang"])


def _polys_big_cte_duckdb() -> str:
    cx, cy, r = G.poly_circle_big_sql("p.range", "duckdb")
    return (f"SELECT p.range AS poly_id, {cx} AS cx, {cy} AS cy, {r} AS r "
            f"FROM range({G.N_POLYS}) p")


def q08_sql() -> str:
    return f"""
WITH pts AS (SELECT d.doc_id, d.lang, p.x, p.y
             FROM documents d JOIN ({_pts_cte('duckdb')}) p USING (doc_id)),
polys AS ({_polys_big_cte_duckdb()})
SELECT g.poly_id, p.lang, count(*) AS n_points
FROM polys g JOIN pts p
  ON (p.x - g.cx) * (p.x - g.cx) + (p.y - g.cy) * (p.y - g.cy) <= g.r * g.r
GROUP BY g.poly_id, p.lang
"""


# --------------------------------------------------------------------------
# q09 radius-band join count (J5)
# --------------------------------------------------------------------------

RADIUS_M = 25_000


def q09_radius_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return radius_count(docs_xy(spark, sf_dir), monitors_df(spark), RADIUS_M)


def q09_sql() -> str:
    return f"""
WITH pts AS ({_pts_cte('duckdb')}),
mons AS ({_mons_cte('duckdb')}),
hits AS (
  SELECT p.doc_id, count(*) AS n
  FROM pts p JOIN mons m
    ON (p.x - m.mx) * (p.x - m.mx) + (p.y - m.my) * (p.y - m.my)
       <= {RADIUS_M * RADIUS_M}
  GROUP BY p.doc_id
)
SELECT p.doc_id, COALESCE(h.n, 0) AS n_in_radius
FROM pts p LEFT JOIN hits h USING (doc_id)
"""


# --------------------------------------------------------------------------
# q10 attribute filter + agg (P3 + A8 relational shape)
# --------------------------------------------------------------------------

def q10_events_filter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (ev.filter(F.col("value") >= 30)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
                 .alias("sum_cents"),
                 F.min("value").alias("min_value"),
                 F.max("value").alias("max_value")))


def q10_sql() -> str:
    return """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       min(value) AS min_value, max(value) AS max_value
FROM events WHERE value >= 30 GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q11 wind-speed scalar (F3)
# --------------------------------------------------------------------------

def q11_wind_speed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.expr("sqrt(value * value + CAST((user_id % 50) * (user_id % 50) "
               "AS DOUBLE))").alias("speed"))


def q11_sql() -> str:
    return ("SELECT event_id, sqrt(value * value + CAST((user_id % 50) * "
            "(user_id % 50) AS DOUBLE)) AS speed FROM events")


# --------------------------------------------------------------------------
# q12 year regex extraction (F5/F6)
# --------------------------------------------------------------------------

def q12_year_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    year = F.concat(F.lit("20"),
                    F.lpad(F.regexp_extract(F.col("source"), r"(\d+)", 1),
                           2, "0"))
    return (d.select(year.alias("year"))
            .groupBy("year").agg(F.count(F.lit(1)).alias("n_docs")))


def q12_sql() -> str:
    return """
SELECT '20' || lpad(regexp_extract(source, '(\\d+)', 1), 2, '0') AS year,
       count(*) AS n_docs
FROM documents GROUP BY 1
"""


# --------------------------------------------------------------------------
# q13 linear codec after aggregation (F4; calculate_focal_mean.py:101-106)
# --------------------------------------------------------------------------

def q13_codec_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _lineitem(spark, sf_dir)
    agg = (li.groupBy("l_returnflag")
           .agg((F.sum("l_quantity") / F.count(F.lit(1))).alias("raw_mean")))
    return agg.select("l_returnflag",
                      (F.col("raw_mean") * 2.0 - 3.0).alias("adj_mean"))


def q13_sql() -> str:
    return """
SELECT l_returnflag, (sum(l_quantity) / count(*)) * 2.0 - 3.0 AS adj_mean
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# q14 exact dedup (hash-groupBy)
# --------------------------------------------------------------------------

def q14_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup_groups(_docs(spark, sf_dir))


def q14_sql() -> str:
    return ("SELECT md5(text) AS digest, count(*) AS n_docs, "
            "min(doc_id) AS keep_id FROM documents GROUP BY 1")


# --------------------------------------------------------------------------
# q15 token count + quality score
# --------------------------------------------------------------------------

def q15_token_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = TXT.token_count(F.col("text"))
    return d.select(
        "doc_id", toks.cast("long").alias("n_tokens"),
        (F.col("n_chars").cast("double") / toks.cast("double"))
        .alias("quality"))


def q15_sql() -> str:
    return """
SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(n_chars AS DOUBLE) / CAST(len(string_split(text, ' ')) AS DOUBLE)
       AS quality
FROM documents
"""


# --------------------------------------------------------------------------
# q16 MinHash signatures (dedup, verifiable construction)
# --------------------------------------------------------------------------

def q16_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.minhash_signature(_docs(spark, sf_dir), n=5, k=4)


def _minhash_mins_sql(k: int) -> str:
    return ",\n  ".join(
        f"min((h * {a} + {b}) % {DD.MINHASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(DD._mh_perm_consts(k)))


def _minhash_hv_cte() -> str:
    return f"""sh AS (
  SELECT doc_id, substr(text, CAST(p AS INTEGER), 5) AS shingle
  FROM documents,
       LATERAL (SELECT unnest(range(1, greatest(length(text) - 4, 1) + 1)) AS p) t
),
hv AS (SELECT doc_id, {DD.minhash_base_hash_sql_duckdb()} AS h FROM sh)"""


def q16_sql() -> str:
    return f"""
WITH {_minhash_hv_cte()}
SELECT doc_id,
  {_minhash_mins_sql(4)}
FROM hv GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# q17 LSH candidate pairs (bands over a k=8 signature, 4 hashes per band)
# --------------------------------------------------------------------------

def q17_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = DD.minhash_signature(_docs(spark, sf_dir), n=5, k=8)
    return DD.lsh_candidate_pairs(sig, bands=2)


def _band_val_sql(idx: list[int]) -> str:
    return " || '_' || ".join(f"CAST(mh_{i} AS VARCHAR)" for i in idx)


def q17_sql() -> str:
    return f"""
WITH {_minhash_hv_cte()},
sig AS (SELECT doc_id, {_minhash_mins_sql(8)} FROM hv GROUP BY doc_id),
banded AS (
  SELECT doc_id, 0 AS band, {_band_val_sql([0, 1, 2, 3])} AS val FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, {_band_val_sql([4, 5, 6, 7])} AS val FROM sig
)
SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
FROM banded a JOIN banded b
  ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
"""


# --------------------------------------------------------------------------
# q18 brute-force cosine top-k (exact quantized; similarity-search baseline)
# --------------------------------------------------------------------------

TOPK_QUERY_ID = 0
TOPK_K = 10


def q18_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    qvec = (emb.filter(F.col("vec_id") == TOPK_QUERY_ID)
            .select("embedding").head()[0])
    return SIM.cosine_topk(emb, list(qvec), k=TOPK_K)


def q18_sql() -> str:
    q = SIM._quant_expr("q.embedding").replace("transform", "list_transform")
    v = SIM._quant_expr("e.embedding").replace("transform", "list_transform")
    return f"""
WITH qv AS (SELECT {q} AS ql FROM embeddings q WHERE q.vec_id = {TOPK_QUERY_ID}),
scored AS (
  SELECT e.vec_id,
         CAST(list_dot_product({v}, qv.ql) AS DOUBLE) AS dot,
         CAST(list_dot_product({v}, {v}) AS DOUBLE) AS n2,
         CAST(list_dot_product(qv.ql, qv.ql) AS DOUBLE) AS qn2
  FROM embeddings e CROSS JOIN qv
)
SELECT vec_id,
       CASE WHEN n2 > 0 THEN dot / sqrt(n2) / sqrt(qn2) END AS cosine
FROM scored ORDER BY cosine DESC, vec_id LIMIT {TOPK_K}
"""


# --------------------------------------------------------------------------
# q19 TPC-H Q1-shaped aggregate (pushdown/partial-agg showcase, A-class)
# --------------------------------------------------------------------------

def q19_lineitem_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _lineitem(spark, sf_dir)
    return (li.filter(F.col("l_shipdate") <= F.lit("2001-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("l_quantity").alias("sum_qty"),
                 F.sum(F.expr(
                     "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"))
                 .alias("sum_price_cents")))


def q19_sql() -> str:
    return """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       sum(l_quantity) AS sum_qty,
       CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_price_cents
FROM lineitem WHERE l_shipdate <= DATE '2001-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# q20 tumbling-window event rollup (time bucketing)
# --------------------------------------------------------------------------

def q20_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"),
                       "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("value").alias("min_value"),
                 F.max("value").alias("max_value")))


def q20_sql() -> str:
    return """
SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
       min(value) AS min_value, max(value) AS max_value
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# q21 per-cell rollup (tiling aggregation; skew surface — urban clusters)
# --------------------------------------------------------------------------

def q21_hex_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = docs_xy(spark, sf_dir)
    cells = pts.withColumn("cell_hex_7", hex_cell_expr(7))
    return (cells.groupBy("cell_hex_7")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("min_doc_id")))


def q21_sql() -> str:
    return f"""
WITH pts AS ({_pts_cte('duckdb')}),{_hex_rank_cte(7)}
SELECT cell_hex_7, count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM best7 WHERE rn = 1 GROUP BY cell_hex_7
"""


# --------------------------------------------------------------------------
# q25 semi-join (P6 grid-extent-mask semantics: EXISTS)
# --------------------------------------------------------------------------

def q25_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = docs_xy(spark, sf_dir)
    mons = monitors_df(spark)
    near = radius_count(pts, mons, RADIUS_M).filter(F.col("n_in_radius") > 0)
    return (pts.join(near.select("doc_id"), "doc_id", "left_semi")
            .select("doc_id", "lang"))


def q25_sql() -> str:
    return f"""
WITH pts AS ({_pts_cte('duckdb')}),
mons AS ({_mons_cte('duckdb')})
SELECT d.doc_id, d.lang
FROM documents d JOIN pts p USING (doc_id)
WHERE EXISTS (
  SELECT 1 FROM mons m
  WHERE (p.x - m.mx) * (p.x - m.mx) + (p.y - m.my) * (p.y - m.my)
        <= {RADIUS_M * RADIUS_M})
"""


# --------------------------------------------------------------------------
# q26 anti-join (NOT EXISTS)
# --------------------------------------------------------------------------

def q26_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = docs_xy(spark, sf_dir)
    hit = (knn_cell_join(pts, monitors_df(spark), G.KNN_BOUND_M)
           .filter(F.col("monitor_id").isNotNull()).select("doc_id"))
    return (pts.join(hit, "doc_id", "left_anti")
            .select("doc_id", "x", "y"))


def q26_sql() -> str:
    b2 = G.KNN_BOUND_M ** 2
    return f"""
WITH pts AS ({_pts_cte('duckdb')}),
mons AS ({_mons_cte('duckdb')})
SELECT p.doc_id, p.x, p.y FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM mons m
  WHERE (p.x - m.mx) * (p.x - m.mx) + (p.y - m.my) * (p.y - m.my) <= {b2})
"""


# --------------------------------------------------------------------------
# q27 k-NN top-k over the kNN cell index (SURVEY §2.5 top-k)
# --------------------------------------------------------------------------

def q27_knn_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    near = near_monitors(docs_xy(spark, sf_dir), monitors_df(spark),
                         G.KNN_BOUND_M)
    # array_sort orders the (d2, monitor_id) structs lexicographically —
    # the oracle's ORDER BY d2, monitor_id — inside each point's row
    top = near.select("doc_id", F.posexplode(
        F.slice(F.array_sort("near"), 1, 3)).alias("pos", "c"))
    return top.select("doc_id", (F.col("pos") + 1).alias("rank"),
                      F.col("c.monitor_id").alias("monitor_id"),
                      F.sqrt(F.col("c.d2")).alias("dist_m"))


def q27_sql() -> str:
    b2 = G.KNN_BOUND_M ** 2
    return f"""
WITH pts AS ({_pts_cte('duckdb')}),
mons AS ({_mons_cte('duckdb')}),
cand AS (
  SELECT p.doc_id, m.monitor_id,
         (p.x - m.mx) * (p.x - m.mx) + (p.y - m.my) * (p.y - m.my) AS d2
  FROM pts p CROSS JOIN mons m
),
ranked AS (
  SELECT doc_id, monitor_id, d2,
         row_number() OVER (PARTITION BY doc_id ORDER BY d2, monitor_id)
           AS rank
  FROM cand WHERE d2 <= {b2}
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, monitor_id,
       sqrt(CAST(d2 AS DOUBLE)) AS dist_m
FROM ranked WHERE rank <= 3
"""


# --------------------------------------------------------------------------
# q28 sort + limit (top-k docs by quality; SURVEY §2.5 limit)
# --------------------------------------------------------------------------

def q28_topk_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (q15_token_quality(spark, sf_dir)
            .orderBy(F.col("quality").desc(), F.col("doc_id"))
            .limit(20))


def q28_sql() -> str:
    return q15_sql() + " ORDER BY quality DESC, doc_id LIMIT 20"


# --------------------------------------------------------------------------
# q29 union + distinct (SURVEY §2.5 set ops)
# --------------------------------------------------------------------------

def q29_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    a = ev.filter(F.col("value") >= 90).select("user_id")
    b = ev.filter(F.col("event_type") == "error").select("user_id")
    return (a.unionByName(b).distinct()
            .select("user_id").orderBy("user_id"))


def q29_sql() -> str:
    return """
SELECT DISTINCT user_id FROM (
  SELECT user_id FROM events WHERE value >= 90
  UNION ALL
  SELECT user_id FROM events WHERE event_type = 'error'
) ORDER BY user_id
"""


# --------------------------------------------------------------------------
# q32 exact n-gram Jaccard over LSH candidates (near-dup verification stage)
# --------------------------------------------------------------------------

def q32_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    sig = DD.minhash_signature(docs, n=5, k=8)
    pairs = DD.lsh_candidate_pairs(sig, bands=2)
    return DD.ngram_jaccard(docs, pairs, n=5)


def q32_sql() -> str:
    return f"""
WITH sh0 AS (
  SELECT doc_id, substr(text, CAST(p AS INTEGER), 5) AS shingle
  FROM documents,
       LATERAL (SELECT unnest(range(1, greatest(length(text) - 4, 1) + 1)) AS p) t
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
hv AS (SELECT doc_id, {DD.minhash_base_hash_sql_duckdb()} AS h
       FROM sh0),
sig AS (SELECT doc_id, {_minhash_mins_sql(8)} FROM hv GROUP BY doc_id),
banded AS (
  SELECT doc_id, 0 AS band, {_band_val_sql([0, 1, 2, 3])} AS val FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, {_band_val_sql([4, 5, 6, 7])} AS val FROM sig
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT p.id1, p.id2, count(*) AS n_inter
  FROM pairs p
  JOIN sh a ON a.doc_id = p.id1
  JOIN sh b ON b.doc_id = p.id2 AND b.shingle = a.shingle
  GROUP BY p.id1, p.id2
)
SELECT p.id1, p.id2,
       CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
         / CAST(s1.sz + s2.sz - COALESCE(i.n_inter, 0) AS DOUBLE) AS jaccard
FROM pairs p
LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
JOIN sizes s1 ON s1.doc_id = p.id1
JOIN sizes s2 ON s2.doc_id = p.id2
"""


# --------------------------------------------------------------------------
# q33 convolution-semantics gather (A2: kernel-area division, NaN→0,
# the reference's create_buffer mask incl. its +1 quirk)
# --------------------------------------------------------------------------

A2_RADIUS_PX = 10  # 10 km at 1 km pixels


def _a2_mask_offsets():
    from ..functions.ref_compat import ref_create_buffer_mask
    m = ref_create_buffer_mask(A2_RADIUS_PX)
    rr, cc = np.nonzero(m)
    return (rr - (A2_RADIUS_PX - 1), cc - (A2_RADIUS_PX - 1))


def q33_convolve_gather(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T
    from ..geo_synth import NODATA_MOD, VALUE_MOD, XRES
    dr, dc = _a2_mask_offsets()
    k = len(dr)
    ov = ((dr * 7919 + dc * 104729) % VALUE_MOD).astype(np.int64)
    on = ((dr * 31 + dc * 17) % NODATA_MOD).astype(np.int64)

    @F.pandas_udf(T.DoubleType())
    def _a2(x: pd.Series, y: pd.Series) -> pd.Series:
        r0 = y.to_numpy(np.int64) // XRES
        c0 = x.to_numpy(np.int64) // XRES
        bv = (r0 * 7919 + c0 * 104729) % VALUE_MOD
        bn = (r0 * 31 + c0 * 17) % NODATA_MOD
        vr = (bv[:, None] + ov[None, :]) % VALUE_MOD
        nod = ((bn[:, None] + on[None, :]) % NODATA_MOD) == 0
        s = np.where(nod, 0, vr).sum(axis=1)
        return pd.Series(s / float(k))

    pts = docs_xy(spark, sf_dir)
    return pts.select("doc_id", _a2(F.col("x"), F.col("y")).alias("focal_density"))


def q33_sql() -> str:
    dr, dc = _a2_mask_offsets()
    k = len(dr)
    vals = ",".join(f"({int(a)},{int(b)})" for a, b in zip(dr, dc))
    val = G.raster_value_sql("(p.y // 1000) + o.dr", "(p.x // 1000) + o.dc")
    return f"""
WITH pts AS ({_pts_cte('duckdb')}),
offs(dr, dc) AS (VALUES {vals})
SELECT p.doc_id,
       sum(COALESCE({val}, 0)) / CAST({k} AS DOUBLE) AS focal_density
FROM pts p CROSS JOIN offs o
GROUP BY p.doc_id
"""


# --------------------------------------------------------------------------
# q42 Method-1 'convolve once, gather many' (O1): the SAME A2 semantics as
# q33, but computed by the DISTRIBUTED tile convolution (halo exchange) and
# a per-point single-pixel gather — the plan the planner picks when
# points >> pixels. Oracle identical to q33's (bit-equal by integer math).
# --------------------------------------------------------------------------

def q42_convolve_all_gather(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.ref_compat import ref_create_buffer_mask
    from ..operators.convolve import convolve_tiles, gather_point_values
    from ..sources.raster import synthetic_tile_table
    kernel = ref_create_buffer_mask(A2_RADIUS_PX).astype(np.float64)
    tiles = synthetic_tile_table(spark, tile_px=256)
    conv = convolve_tiles(tiles, kernel, tile_px=256)
    pts = docs_xy(spark, sf_dir)
    return gather_point_values(pts, conv, out_col="focal_density",
                               tile_px=256)


def q42_sql() -> str:
    return q33_sql()


# --------------------------------------------------------------------------
# q34 polygon zonal statistics (J7 + A7: rasterstats zonal_stats with the
# custom 'sumna' aggregator — sum of positive pixels / polygon area km²,
# reference Examples/ExamplesOriginal/1 - Population Density.py:31-48)
# --------------------------------------------------------------------------

def q34_polygon_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T
    from ..geo_synth import NODATA_MOD, VALUE_MOD, XRES
    polys = polys_df(spark)

    schema = T.StructType([
        T.StructField("sum_pos", T.DoubleType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("density", T.DoubleType()),
    ])

    @F.pandas_udf(schema)
    def _zonal(cx: pd.Series, cy: pd.Series, r: pd.Series) -> pd.DataFrame:
        cxs = cx.to_numpy(np.int64)
        cys = cy.to_numpy(np.int64)
        rs = r.to_numpy(np.int64)
        sums = np.empty(len(cxs))
        npx = np.empty(len(cxs), dtype=np.int64)
        for i in range(len(cxs)):  # per polygon (a small dim), not per row
            rpx = int(rs[i]) // XRES + 1
            c0 = int(cxs[i]) // XRES
            r0 = int(cys[i]) // XRES
            rng = np.arange(-rpx, rpx + 1, dtype=np.int64)
            dr, dc = np.meshgrid(rng, rng, indexing="ij")
            rows = r0 + dr.ravel()
            cols = c0 + dc.ravel()
            # pixel-center-in-circle membership (exact ints)
            px_x = cols * XRES + XRES // 2
            px_y = rows * XRES + XRES // 2
            inside = ((px_x - cxs[i]) ** 2 + (px_y - cys[i]) ** 2
                      <= rs[i] * rs[i])
            rows, cols = rows[inside], cols[inside]
            v = ((rows * 7919 + cols * 104729) % VALUE_MOD).astype(np.float64)
            nod = ((rows * 31 + cols * 17) % NODATA_MOD) == 0
            pos = (~nod) & (v > 0)
            sums[i] = v[pos].sum()
            npx[i] = int(inside.sum())
        area_km2 = (rs * rs).astype(np.float64) * np.pi / 1e6
        return pd.DataFrame({"sum_pos": sums, "n_px": npx,
                             "density": sums / np.floor(area_km2)})

    out = polys.withColumn("_z", _zonal(F.col("cx"), F.col("cy"), F.col("r")))
    return out.select("poly_id", F.col("_z.sum_pos").alias("sum_pos"),
                      F.col("_z.n_px").alias("n_px"),
                      F.col("_z.density").alias("density"))


def q34_sql() -> str:
    # max rpx = 45000/1000+1 = 46 → offsets range(-46,47)
    val = G.raster_value_sql("(g.cy // 1000) + o.dr", "(g.cx // 1000) + o.dc")
    px_x = "(((g.cx // 1000) + o.dc) * 1000 + 500)"
    px_y = "(((g.cy // 1000) + o.dr) * 1000 + 500)"
    return f"""
WITH polys AS ({_polys_cte_duckdb()}),
offs AS (
  SELECT a.range AS dr, b.range AS dc
  FROM range(-46, 47) a, range(-46, 47) b
),
px AS (
  SELECT g.poly_id, g.r, {val} AS v
  FROM polys g CROSS JOIN offs o
  WHERE ({px_x} - g.cx) * ({px_x} - g.cx)
      + ({px_y} - g.cy) * ({px_y} - g.cy) <= g.r * g.r
)
SELECT poly_id,
       COALESCE(sum(CASE WHEN v > 0 THEN v END), 0.0) AS sum_pos,
       count(*) AS n_px,
       COALESCE(sum(CASE WHEN v > 0 THEN v END), 0.0)
         / floor(CAST(r * r AS DOUBLE) * pi() / 1000000.0) AS density
FROM px GROUP BY poly_id, r
"""



# --------------------------------------------------------------------------
# q35 lines-in-buffer (the reference's declared-but-unbuilt capability,
# Archived_scripts/extract_lines_in_buffer.py:1-8)
# --------------------------------------------------------------------------

LINES_RADIUS_M = 25_000


def q35_lines_in_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lines import lines_in_radius
    ids = np.arange(G.N_LINES, dtype=np.int64)
    segs = G.line_seg_np(ids)
    return lines_in_radius(docs_xy(spark, sf_dir), segs, LINES_RADIUS_M)


def q35_sql() -> str:
    from ..operators.lines import lines_sql
    ax, ay, bx, by = G.line_seg_sql("s.range", "duckdb")
    lines_cte = (f"SELECT s.range AS seg_id, {ax} AS ax, {ay} AS ay, "
                 f"{bx} AS bx, {by} AS by FROM range({G.N_LINES}) s")
    return lines_sql(LINES_RADIUS_M, _pts_cte("duckdb"), lines_cte)



# --------------------------------------------------------------------------
# q36 language-ID, expression form (marker n-gram counts via the
# length/replace trick — JVM-side in Spark, identical SQL in the oracle)
# --------------------------------------------------------------------------

_LANG_MARKERS_SQL = {
    "de": (" der ", " und ", " ist "),
    "en": (" the ", " and ", " of "),
    "es": (" el ", " los ", " es "),
    "fr": (" le ", " les ", " est "),
    "zh": ("\u4e00", "\u7684", "\u662f"),
}


def _lang_score_sql(lang: str) -> str:
    terms = []
    for m in _LANG_MARKERS_SQL[lang]:
        esc = m.replace("'", "''")
        terms.append(f"(length(t) - length(replace(t, '{esc}', '')))"
                     f" / {len(m)}")
    return "(" + " + ".join(terms) + ")"


def _lang_winner_sql() -> str:
    langs = sorted(_LANG_MARKERS_SQL)
    mx = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = f"CASE WHEN {mx} = 0 THEN 'und' "
    for l in langs:
        case += f"WHEN s_{l} = {mx} THEN '{l}' "
    return case + "END"


def q36_lang_id_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).withColumn("t", F.expr("' ' || text || ' '"))
    for lang in sorted(_LANG_MARKERS_SQL):
        d = d.withColumn(f"s_{lang}", F.expr(_lang_score_sql(lang)))
    d = d.withColumn("lang_guess", F.expr(_lang_winner_sql()))
    return (d.groupBy("lang", "lang_guess")
            .agg(F.count(F.lit(1)).alias("n")))


def q36_sql() -> str:
    langs = sorted(_LANG_MARKERS_SQL)
    scores = ",\n  ".join(f"{_lang_score_sql(l)} AS s_{l}" for l in langs)
    return f"""
WITH padded AS (SELECT lang, ' ' || text || ' ' AS t FROM documents),
scored AS (SELECT lang, {scores} FROM padded)
SELECT lang, {_lang_winner_sql()} AS lang_guess, count(*) AS n
FROM scored GROUP BY 1, 2
"""



# --------------------------------------------------------------------------
# q37 embedding-cosine near-dup pairs (exact all-pairs similarity join;
# the LSH-prefiltered approximate variant is q24)
# --------------------------------------------------------------------------

NEARDUP_COS = 0.45         # max pairwise cosine in the synthetic corpus is
                           # ~0.513 at sf0.01: 0.45 yields a small non-empty
                           # result (a 0-row hash match proves nothing)
NEARDUP_MAX_EXACT_ROWS = 100_000   # guard: the exact variant is O(n²)


def q37_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT all-pairs near-dup baseline — deliberately quadratic, guarded.

    This is the correctness baseline the approximate paths are measured
    against; at scale use sign-LSH (q24) or IVF (q41). The guard refuses
    inputs past NEARDUP_MAX_EXACT_ROWS so the O(n²) join can't be launched
    against a production-size table by accident.
    """
    emb = _emb(spark, sf_dir)
    n = emb.count()
    if n > NEARDUP_MAX_EXACT_ROWS:
        raise ValueError(
            f"exact near-dup is O(n²); {n} rows > "
            f"{NEARDUP_MAX_EXACT_ROWS}. Use ann_topk_lsh / ann_topk_ivf "
            f"(q24/q41) or raise NEARDUP_MAX_EXACT_ROWS explicitly.")
    q1 = SIM._quant_expr("emb1")
    q2 = SIM._quant_expr("emb2")
    a = emb.select(F.col("vec_id").alias("id1"),
                   F.col("embedding").alias("emb1"))
    b = emb.select(F.col("vec_id").alias("id2"),
                   F.col("embedding").alias("emb2"))
    dot = (f"aggregate(zip_with({q1}, {q2}, (x, y) -> x * y), 0L, "
           f"(acc, v) -> acc + v)")
    n1 = (f"aggregate(transform({q1}, e -> e * e), 0L, "
          f"(acc, v) -> acc + v)")
    n2 = (f"aggregate(transform({q2}, e -> e * e), 0L, "
          f"(acc, v) -> acc + v)")
    pairs = (a.join(b, F.col("id1") < F.col("id2"))
             .withColumn("dot", F.expr(dot))
             .withColumn("n1", F.expr(n1))
             .withColumn("n2", F.expr(n2))
             .withColumn("cosine",
                         F.col("dot") / F.sqrt(F.col("n1"))
                         / F.sqrt(F.col("n2")))
             .filter(F.col("cosine") >= NEARDUP_COS))
    return pairs.select("id1", "id2", "cosine")


def q37_sql() -> str:
    q1 = SIM._quant_expr("a.embedding").replace("transform", "list_transform")
    q2 = SIM._quant_expr("b.embedding").replace("transform", "list_transform")
    return f"""
WITH pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
         CAST(list_dot_product({q1}, {q2}) AS DOUBLE) AS dot,
         CAST(list_dot_product({q1}, {q1}) AS DOUBLE) AS n1,
         CAST(list_dot_product({q2}, {q2}) AS DOUBLE) AS n2
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT id1, id2, dot / sqrt(n1) / sqrt(n2) AS cosine
FROM pairs WHERE dot / sqrt(n1) / sqrt(n2) >= {NEARDUP_COS}
"""



# --------------------------------------------------------------------------
# q38 analytic window frame: running per-user totals ordered by time
# (frame = rows unbounded preceding; cents-quantized for exact sums)
# --------------------------------------------------------------------------

def q38_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    ev = _events(spark, sf_dir)
    cents = F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, 0))
    return ev.select(
        "event_id", "user_id",
        F.sum(cents).over(w).alias("running_cents"),
        F.row_number().over(
            W.partitionBy("user_id").orderBy("ts", "event_id"))
        .cast("long").alias("seq"))


def q38_sql() -> str:
    return """
SELECT event_id, user_id,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS running_cents,
       CAST(row_number() OVER (
         PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS seq
FROM events
"""



# --------------------------------------------------------------------------
# q39/q40 SimHash with a relational oracle: 60-bit signature from md5 token
# hashes (per-bit majority vote), then near-dup pairs by Hamming distance.
# The FNV-kernel variant stays as rows-only q23; this construction uses
# only engine-portable primitives (md5, hex-digit extraction, bit ops).
# --------------------------------------------------------------------------

SIMHASH_BITS = 60          # stay clear of the BIGINT sign bit
SIMHASH_HAM_MAX = 6        # pigeonhole-bandable (7 bands of 8-9 bits); at
                           # sf0.01 the corpus has ~140 pairs ≤ 6 — non-
                           # vacuous, and the near-dup regime this models


def _simhash_digit_exprs(dialect: str) -> list[str]:
    """16 hex digits of md5(token) as integers d0..d15."""
    out = []
    for i in range(15):
        c = f"substr(md5(tok), {i + 1}, 1)"
        if dialect == "spark":
            out.append(f"CAST(conv({c}, 16, 10) AS BIGINT)")
        else:
            out.append(f"CAST('0x' || {c} AS BIGINT)")
    return out


def _simhash_select(dialect: str) -> tuple[str, str]:
    """(digit select list, bit-vote aggregate list)."""
    digits = ",\n    ".join(f"{e} AS d{i}"
                            for i, e in enumerate(_simhash_digit_exprs(dialect)))
    votes = []
    for b in range(SIMHASH_BITS):
        d = b // 4
        sh = 3 - b % 4
        if dialect == "spark":
            bit = f"(shiftright(d{d}, {sh}) & 1)"
        else:
            bit = f"((d{d} >> {sh}) & 1)"
        votes.append(f"sum({bit}) AS v{b}")
    return digits, ",\n    ".join(votes)


def _simhash_assemble() -> str:
    terms = [f"(CASE WHEN 2 * v{b} > n THEN CAST({1 << b} AS BIGINT) "
             f"ELSE 0 END)" for b in range(SIMHASH_BITS)]
    return "(" + " + ".join(terms) + ")"


def q39_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id",
                    F.explode(F.split(F.col("text"), " ")).alias("tok"))
    digits, votes = _simhash_select("spark")
    dig = toks.selectExpr("doc_id", *[
        e + f" AS d{i}"
        for i, e in enumerate(_simhash_digit_exprs("spark"))])
    agg = dig.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.expr(f"sum((shiftright(d{b // 4}, {3 - b % 4}) & 1))")
          .alias(f"v{b}") for b in range(SIMHASH_BITS)])
    return agg.select("doc_id",
                      F.expr(_simhash_assemble()).alias("simhash"))


def q39_sql() -> str:
    digits, votes = _simhash_select("duckdb")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
dig AS (
  SELECT doc_id,
    {digits}
  FROM toks
),
agg AS (
  SELECT doc_id, count(*) AS n,
    {votes}
  FROM dig GROUP BY doc_id
)
SELECT doc_id, {_simhash_assemble()} AS simhash FROM agg
"""


def q40_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded (pigeonhole) SimHash near-dup join — NO cross product; the
    DuckDB oracle stays the brute-force form, results identical by the
    pigeonhole guarantee (dedup.simhash_banded_pairs)."""
    sig = q39_simhash_md5(spark, sf_dir)
    return DD.simhash_banded_pairs(sig, SIMHASH_BITS, SIMHASH_HAM_MAX)


def q40_sql() -> str:
    return f"""
WITH sig AS ({q39_sql()})
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAM_MAX}
"""


# --------------------------------------------------------------------------
# q43 A9 ring-sample approximate mean: the reference's
# extract_mean_from_buffer family (srg-dev/'optmise mean value
# extraction.ipynb': sample the buffer polygon's exterior-ring vertices at
# nearest pixels, mean the samples — 64 samples instead of ~317 pixel
# visits). Vertex offsets are integer literals computed ONCE here (shapely's
# default 64-segment circle approximation), so both engines evaluate
# identical integer arithmetic — no cross-engine trig.
# --------------------------------------------------------------------------

RING_BUFFER_M = 10_000
RING_K = 64


def _ring_offsets() -> list[tuple[int, int]]:
    ang = 2.0 * np.pi * np.arange(RING_K) / RING_K
    dx = np.floor(RING_BUFFER_M * np.cos(ang) + 0.5).astype(np.int64)
    dy = np.floor(RING_BUFFER_M * np.sin(ang) + 0.5).astype(np.int64)
    return [(int(a), int(b)) for a, b in zip(dx, dy)]


def _ring_cte(dialect: str) -> str:
    vals = ",".join(f"({dx},{dy})" for dx, dy in _ring_offsets())
    if dialect == "duckdb":
        return f"offs(dx, dy) AS (VALUES {vals})"
    return f"offs AS (SELECT * FROM (VALUES {vals}) AS t(dx, dy))"


def _ring_query_sql(dialect: str, pts_cte: str) -> str:
    row, col = G.pixel_of_point_sql("(p.x + o.dx)", "(p.y + o.dy)",
                                    dialect, "nearest")
    v = G.raster_value_sql(row, col)
    # ring_mean: v1/v2 semantics (xarray .mean() skipna); ring_mean_strict:
    # v3 semantics (np.mean over the diagonal gather — NaN if ANY vertex is
    # nodata), expressed relationally as NULL when any sample is NULL
    return f"""
WITH pts AS ({pts_cte}),
{_ring_cte(dialect)}
SELECT p.doc_id,
       sum({v}) / count({v}) AS ring_mean,
       CASE WHEN count({v}) = {RING_K}
            THEN sum({v}) / count({v}) END AS ring_mean_strict,
       count({v}) AS n_ring_valid
FROM pts p CROSS JOIN offs o
GROUP BY p.doc_id
"""


def q43_ring_sample_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: relational form — broadcast the 64-vertex offset dim, exact
    nearest-pixel sample, nan-skipping mean via count of non-NULLs. One
    map-side-combined groupBy; the offsets dim never shuffles."""
    docs_xy(spark, sf_dir).createOrReplaceTempView("_ring_pts")
    sql = _ring_query_sql(
        "spark", "SELECT doc_id, x, y FROM _ring_pts")
    return spark.sql(sql)


def q43_sql() -> str:
    return _ring_query_sql("duckdb", _pts_cte("duckdb"))


# --------------------------------------------------------------------------
# q45-q47: training-data pipeline stages beyond dedup — quality-rule
# filtering (Gopher-style), benchmark-contamination detection, and
# deterministic stratified sampling. All pure Catalyst expressions with
# exact integer/single-division arithmetic ⇒ fully oracle-paired.
# --------------------------------------------------------------------------

def _quality_cols(dialect: str) -> list[tuple[str, str]]:
    """Gopher-rule style signals (Rae et al. 2021 §A1.1 shape): word count,
    mean word length, symbol ratio, stopword presence — each engine-exact
    (integer counts; ratios are single divisions)."""
    n_words = "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)"
    # non-alphanumeric-non-space chars via regexp strip length diff
    sym = ("CAST(length(text) - length(regexp_replace(text, "
           "'[^a-zA-Z0-9 ]', '')) AS BIGINT)")
    stop = ("CAST((length(' ' || text || ' ') - length(replace("
            "' ' || text || ' ', ' the ', ''))) / 5 AS BIGINT)")
    return [
        ("n_words", n_words),
        ("mean_word_len",
         f"CAST(length(replace(text, ' ', '')) AS DOUBLE) / {n_words}"),
        ("symbol_ratio", f"CAST({sym} AS DOUBLE) / length(text)"),
        ("n_the", stop),
    ]


def _quality_pass_expr() -> str:
    return ("(n_words >= 5 AND mean_word_len >= 2.0 "
            "AND mean_word_len <= 12.0 AND symbol_ratio <= 0.05)")


def q45_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    for name, e in _quality_cols("spark"):
        d = d.withColumn(name, F.expr(e))
    d = d.withColumn("passes", F.expr(_quality_pass_expr()))
    return (d.groupBy("lang", "passes")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_words").alias("sum_words"),
                 F.min("doc_id").alias("min_doc_id")))


def q45_sql() -> str:
    cols = ",\n  ".join(f"{e} AS {n}" for n, e in _quality_cols("duckdb"))
    return f"""
WITH sig AS (SELECT doc_id, lang, {cols} FROM documents)
SELECT lang, {_quality_pass_expr()} AS passes, count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS sum_words,
       min(doc_id) AS min_doc_id
FROM sig GROUP BY 1, 2
"""


CONTAM_NGRAM = 13
CONTAM_PROBE_DOCS = 5       # doc_id < 5 plays the 'benchmark' set


def q46_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: which corpus documents share a
    13-gram (character n-gram here; token n-grams are the same plan) with
    the probe set. Plan: probe shingles are a tiny broadcast dim; the
    corpus explodes its shingles map-side and semi-aggregates — the
    standard decontamination join at 100 TB (probe side is always small).
    """
    d = _docs(spark, sf_dir)
    g = F.expr(
        f"transform(sequence(1, greatest(length(text) - {CONTAM_NGRAM - 1},"
        f" 1)), p -> substring(text, p, {CONTAM_NGRAM}))")
    sh = d.select("doc_id", F.explode(g).alias("shingle"))
    probe = (sh.filter(F.col("doc_id") < CONTAM_PROBE_DOCS)
             .select("shingle").distinct())
    hits = (sh.filter(F.col("doc_id") >= CONTAM_PROBE_DOCS)
            .join(F.broadcast(probe), "shingle")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_contaminated_shingles")))
    return hits


def q46_sql() -> str:
    return f"""
WITH sh AS (
  SELECT doc_id, substr(text, CAST(p AS INTEGER), {CONTAM_NGRAM}) AS shingle
  FROM documents,
       LATERAL (SELECT unnest(range(1, greatest(length(text) - {CONTAM_NGRAM - 1}, 1) + 1)) AS p) t
),
probe AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < {CONTAM_PROBE_DOCS})
SELECT s.doc_id, count(*) AS n_contaminated_shingles
FROM sh s JOIN probe p USING (shingle)
WHERE s.doc_id >= {CONTAM_PROBE_DOCS}
GROUP BY s.doc_id
"""


SAMPLE_RATES = {"en": 500, "de": 250, "fr": 250}   # per-mille; others 125


def _sample_keep_expr(dialect: str) -> str:
    """Deterministic per-stratum sampling: keep iff
    md5-hash(doc_id) mod 1000 < rate(lang). The SAME hash in both engines
    (md5 hex → int), so the sample is reproducible anywhere — the
    training-mix sampling primitive (seeded, restart-stable, no RNG
    state)."""
    if dialect == "spark":
        h = ("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), "
             "16, 10) AS BIGINT) % 1000")
    else:
        h = ("CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) "
             "AS BIGINT) % 1000")
    rate = "CASE " + " ".join(
        f"WHEN lang = '{l}' THEN {r}" for l, r in SAMPLE_RATES.items()) \
        + " ELSE 125 END"
    return f"(({h}) < ({rate}))"


def q47_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return (d.filter(F.expr(_sample_keep_expr("spark")))
            .select("doc_id", "lang"))


def q47_sql() -> str:
    return (f"SELECT doc_id, lang FROM documents "
            f"WHERE {_sample_keep_expr('duckdb')}")


# --------------------------------------------------------------------------
# rows-only queries (no SQL oracle; weaker driver check, pytest-verified)
# --------------------------------------------------------------------------

def q30_s2_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.s2 import s2_cell_udf
    pts = docs_xy(spark, sf_dir)
    return pts.select(
        "doc_id",
        s2_cell_udf(10)(F.col("x"), F.col("y")).alias("cell_s2_10"),
        s2_cell_udf(14)(F.col("x"), F.col("y")).alias("cell_s2_14"))


def q41_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN at the recall@10 ≥ 0.9 operating point for THIS corpus
    (n_lists=8, n_probe=6 — the fixture's embeddings are uniform-random,
    the worst case for any partition-pruned ANN; see
    tests/test_similarity.py for the measured recall/n_probe curve and the
    planted-cluster benchmark where pruning is far more selective)."""
    from ..operators.similarity import ann_topk_ivf
    emb = _emb(spark, sf_dir)
    qvec = (emb.filter(F.col("vec_id") == TOPK_QUERY_ID)
            .select("embedding").head()[0])
    return ann_topk_ivf(emb, list(qvec), k=TOPK_K, n_lists=8, n_probe=6)


def q31_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction with REAL PNG decode (r3: pure-NumPy
    codec, stub gone). ``sum_feat0`` folds the decoded pixel values into
    the output (quantized ×1024 → exact BIGINT), so the driver's hash
    oracle checks the decoder itself — the golden generator computes the
    same aggregate from the SOURCE pixel arrays without ever decoding
    (tools/make_golden.py)."""
    from ..operators.multimodal import extract_features, synthetic_media
    media = synthetic_media(spark, 200)
    return (extract_features(media)
            .withColumn("feat0_q",
                        F.expr("CAST(floor(CAST(element_at(feature, 1) AS "
                               "DOUBLE) * 1024 + 0.5) AS BIGINT)"))
            .groupBy("kind").agg(F.count(F.lit(1)).alias("n"),
                                 F.sum("n_bytes").alias("total_bytes"),
                                 F.sum("feat0_q").alias("sum_feat0")))

def q22_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    guess = TXT.lang_id_udf()
    return (d.select("doc_id", "lang", guess(F.col("text")).alias("lang_guess"))
            .groupBy("lang", "lang_guess")
            .agg(F.count(F.lit(1)).alias("n")))


def q23_simhash_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit FNV SimHash near-dups via the same pigeonhole banding as q40
    (9 bands for ham ≤ 8) — exact result set, no all-pairs join."""
    d = _docs(spark, sf_dir)
    sh = TXT.simhash_udf()
    f = d.select("doc_id", sh(F.col("text")).alias("fp"))
    return (DD.simhash_banded_pairs(f, bits=64, ham_max=8, sig_col="fp")
            .withColumnRenamed("hamming", "ham"))


def q44_real_raster_zonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship zonal over the reference's REAL GeoTIFF
    (data/apg18e_1_0_0_20210512.tif — LZW tiled float32), pure-NumPy TIFF
    decode, broadcast-raster kernel.

    r3: oracle-paired via a committed golden parquet (tools/make_golden.py
    computes the same stats with the independent numpy oracle expressions
    over the driver-decoded raster). The broadcast kernel is the strategy
    whose float sums are ORDER-IDENTICAL to the numpy oracle (bit parity
    proven in tests/test_geotiff.py); the tiled cogroup scale path on this
    raster reorders float32-origin partial sums (1e-9 relative) and stays
    pytest-verified (test_real_raster_zonal_tiled_parity) rather than
    hash-verified.
    """
    from ..operators.zonal import buffered_stats
    from ..sources.geotiff import read_geotiff
    tif = "/root/reference/data/apg18e_1_0_0_20210512.tif"
    full, info = read_geotiff(tif)
    d = _docs(spark, sf_dir)
    # deterministic interior probe points in the raster's pixel frame
    x = (F.lit(16) + F.pmod(F.col("doc_id") * 48271 + 11,
                            F.lit(info.width - 32))) * 1000 + 137
    y = (F.lit(16) + F.pmod(F.col("doc_id") * 16807 + 23,
                            F.lit(info.height - 32))) * 1000 + 500
    pts = d.select("doc_id", x.alias("x"), y.alias("y"))
    return buffered_stats(pts, [700, 1000, 10000], raster=full, xres=1000)


def q48_rds_point_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's most basic workflow on its OWN inputs: .rds point
    grid (pure-Python R-serialization reader) → affine inverse → per-point
    pixel gather from the real GeoTIFF tile table (J2 on real data).
    Rows-only for the driver; decode parity is pinned in test_rds.py /
    test_geotiff.py."""
    from ..operators.convolve import gather_point_values
    from ..sources.geotiff import geotiff_tile_table, read_ifd, rowcol_of_xy
    from ..sources.rds import rds_to_pandas
    tif = "/root/reference/data/apg18e_1_0_0_20210512.tif"
    info = read_ifd(tif)
    pts = rds_to_pandas("/root/reference/data/grids/testing_points.rds")
    rows, cols = rowcol_of_xy(info, pts["X"].to_numpy(),
                              pts["Y"].to_numpy())
    sdf = spark.createDataFrame(
        [(int(f), int(c) * 1000 + 500, int(r) * 1000 + 500)
         for f, r, c in zip(pts["FID"], rows, cols)
         if 0 <= r < info.height and 0 <= c < info.width],
        "doc_id long, x long, y long")
    tiles = geotiff_tile_table(spark, tif)
    return (gather_point_values(sdf, tiles, out_col="popdens",
                                tile_px=128)
            .withColumnRenamed("doc_id", "fid"))


def q49_h3_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 north_star surface: icosahedral H3-style cell assignment at res
    7-9 (functions/h3.py — derived 122-base-cell aperture-7 index, official
    64-bit layout) + the EXACT parent operator (digit truncation) applied
    in-plan: parent7 must equal a res-7 re-walk of the res-9 digits, so the
    oracle hash checks both the kernel and the bit ops."""
    from ..functions.h3 import cell_to_parent, h3_cell_udf
    import pandas as pd  # noqa: F401  (pandas_udf closure)
    pts = docs_xy(spark, sf_dir)
    out = pts.select(
        "doc_id",
        h3_cell_udf(7)(F.col("x"), F.col("y")).alias("cell_h3_7"),
        h3_cell_udf(8)(F.col("x"), F.col("y")).alias("cell_h3_8"),
        h3_cell_udf(9)(F.col("x"), F.col("y")).alias("cell_h3_9"))

    @F.pandas_udf("long")
    def _parent7(c: pd.Series) -> pd.Series:
        return pd.Series(cell_to_parent(c.to_numpy(), 7))

    return out.withColumn("parent7_of_9", _parent7(F.col("cell_h3_9")))


def q50_two_crs_focal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's canonical srg-dev run, end-to-end on its own data:
    a point grid in EPSG:9473 (GDA2020 Albers) crossed with EPSG:3577 data
    (srg-dev/README.md:23-26; calculate_focal_mean.py:64-99 — reproject
    grid to target 3577, nearest-select data pixels, focal mean with
    kernel radius max(ceil(700/1000),1) = 1).

    Grid: every 3510th point of the reference's NSW_points_1km.rds (1.75M
    pts, EPSG:3577), shifted into 9473 by the real Helmert+Albers chain to
    reconstruct the README's missing 9473 grid fixture. The 9473→3577
    inverse chain runs DISTRIBUTED in the Arrow kernel; stats come from
    the order-stable broadcast zonal kernel, so the golden oracle
    (tools/make_golden.py, same public equations driver-side) hash-matches
    bit for bit."""
    from ..functions.crs import epsg3577_to_epsg9473
    from ..operators.zonal import buffered_stats
    from ..sources.geotiff import read_geotiff
    from ..sources.rds import rds_to_pandas
    tif = "/root/reference/data/apg18e_1_0_0_20210512.tif"
    full, info = read_geotiff(tif)
    pts = rds_to_pandas(
        "/root/reference/data/grids/NSW_points_1km.rds").iloc[::3510]
    gx, gy = epsg3577_to_epsg9473(pts["x"].to_numpy(),
                                  pts["y"].to_numpy())
    grid = spark.createDataFrame(pd.DataFrame({
        "fid": pts["FID"].to_numpy(np.int64),
        "gx": gx, "gy": gy}))

    x0, xres, y0, yres = info.transform

    @F.pandas_udf("struct<row:bigint,col:bigint>")
    def _to_pixel(gx: pd.Series, gy: pd.Series) -> pd.DataFrame:
        from ..functions.crs import epsg9473_to_epsg3577
        x94, y94 = epsg9473_to_epsg3577(gx.to_numpy(), gy.to_numpy())
        col = np.floor((x94 - x0) / xres).astype(np.int64)
        row = np.floor((y94 - y0) / yres).astype(np.int64)
        return pd.DataFrame({"row": row, "col": col})

    px = (grid.withColumn("_p", _to_pixel(F.col("gx"), F.col("gy")))
          .select("fid", F.col("_p.row").alias("row"),
                  F.col("_p.col").alias("col"))
          .filter((F.col("row") >= 1) & (F.col("row") < info.height - 1)
                  & (F.col("col") >= 1) & (F.col("col") < info.width - 1))
          .withColumn("x", F.col("col") * 1000 + 500)
          .withColumn("y", F.col("row") * 1000 + 500))
    out = buffered_stats(px, [700], raster=full, xres=1000)
    return out.select("fid", "row", "col", "mean_700", "min_700",
                      "max_700", "n_valid_700")


def q51_geocode_crs_pixel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North_star chain end-to-end ON THE REAL RASTER: documents text →
    geocode Arrow UDF (F11) → lat/lng → real EPSG:3577 Albers forward
    (F1, Snyder equations) → affine inverse to the containing pixel (J1)
    → gather popdens (J2). Every stage distributed; the golden oracle
    replays the identical public-equation chain driver-side."""
    from ..sources.geotiff import read_geotiff
    tif = "/root/reference/data/apg18e_1_0_0_20210512.tif"
    full, info = read_geotiff(tif)
    bc = spark.sparkContext.broadcast(full)
    pts = docs_xy(spark, sf_dir)
    x0, xres, y0, yres = info.transform
    h, w = info.height, info.width

    @F.pandas_udf("struct<row:bigint,col:bigint,popdens:double>")
    def _chain(x: pd.Series, y: pd.Series) -> pd.DataFrame:
        from ..functions.crs import albers_forward
        from ..functions.s2 import planar_to_latlng
        lat, lng = planar_to_latlng(x.to_numpy(), y.to_numpy())
        # map the synthetic frame into the raster's lat band (NSW-ish)
        lat = -44.0 + (lat + 25.0) * 0.5
        lng = 140.0 + (lng + 25.0) * 0.25
        ax, ay = albers_forward(lat, lng)
        col = np.floor((ax - x0) / xres).astype(np.int64)
        row = np.floor((ay - y0) / yres).astype(np.int64)
        inb = (row >= 0) & (row < h) & (col >= 0) & (col < w)
        v = np.full(len(row), np.nan)
        arr = bc.value
        v[inb] = arr[row[inb], col[inb]]
        return pd.DataFrame({"row": row, "col": col, "popdens": v})

    return (pts.withColumn("_c", _chain(F.col("x"), F.col("y")))
            .select("doc_id", F.col("_c.row").alias("row"),
                    F.col("_c.col").alias("col"),
                    F.col("_c.popdens").alias("popdens")))


def q52_h3_kring_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-ring neighborhood aggregation on the icosahedral H3 grid (the
    north_star's 'cell-ring expansion' surface as an analytic op): per
    res-5 cell, own doc count + the disk(1)-smoothed count. Plan: count per
    cell (partial/final agg) → explode each distinct cell to its grid_disk
    members (Arrow kernel, one call per DISTINCT cell — cell cardinality
    is a property of the geography, not the row count) → hash join counts
    back on the member cell → final sum. Golden oracle replays the same
    kernels driver-side."""
    from ..functions.h3 import grid_disk, h3_cell_udf
    pts = docs_xy(spark, sf_dir)
    cells = pts.select(
        h3_cell_udf(5)(F.col("x"), F.col("y")).alias("cell_h3_5"))
    counts = cells.groupBy("cell_h3_5").agg(
        F.count(F.lit(1)).alias("n_docs"))

    @F.pandas_udf("array<long>")
    def _disk1(c: pd.Series) -> pd.Series:
        arr = c.to_numpy()
        uniq = {int(v): [int(x) for x in grid_disk(int(v), 1)]
                for v in np.unique(arr)}
        return pd.Series([uniq[int(v)] for v in arr])

    edges = (counts.select("cell_h3_5",
                           F.explode(_disk1(F.col("cell_h3_5")))
                           .alias("member")))
    nb = counts.select(F.col("cell_h3_5").alias("member"),
                       F.col("n_docs").alias("m_docs"))
    ring = (edges.join(nb, "member")
            .groupBy("cell_h3_5").agg(F.sum("m_docs").alias("n_ring")))
    return counts.join(ring, "cell_h3_5")


def q53_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data pipeline composition, one declarative plan end-to-end
    (the everyday shape of a 100 TB curation job): exact dedup keep-first
    (md5 groupBy) → token count + quality score → quality-rule filter →
    language heuristic → per-(lang, lang_guess) corpus stats. Pure
    Catalyst; the oracle is the same chain in ANSI SQL."""
    d = _docs(spark, sf_dir)
    keep = (d.groupBy(F.md5(F.col("text")).alias("dig"))
            .agg(F.min("doc_id").alias("doc_id")))
    dd = d.join(keep.select("doc_id"), "doc_id")
    scored = (dd.withColumn("tokens", F.size(F.split(F.col("text"), " ")))
              .withColumn("quality",
                          F.col("n_chars").cast("double")
                          / F.col("tokens").cast("double"))
              .filter((F.col("tokens") >= 5) & (F.col("quality") <= 8.0)))
    scored = scored.withColumn("t", F.expr("' ' || text || ' '"))
    for lang in sorted(_LANG_MARKERS_SQL):
        scored = scored.withColumn(f"s_{lang}",
                                   F.expr(_lang_score_sql(lang)))
    scored = scored.withColumn("lang_guess", F.expr(_lang_winner_sql()))
    return (scored.groupBy("lang", "lang_guess")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("tokens").alias("total_tokens"),
                 F.min("quality").alias("min_quality"),
                 F.max("quality").alias("max_quality")))


def q53_sql() -> str:
    langs = sorted(_LANG_MARKERS_SQL)
    scores = ",\n  ".join(f"{_lang_score_sql(l)} AS s_{l}" for l in langs)
    return f"""
WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
dd AS (SELECT d.* FROM documents d JOIN keep USING (doc_id)),
scored AS (
  SELECT lang, ' ' || text || ' ' AS t,
         len(string_split(text, ' ')) AS tokens,
         CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS quality
  FROM dd
  WHERE len(string_split(text, ' ')) >= 5
    AND CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) <= 8.0),
lng AS (SELECT lang, tokens, quality, {scores} FROM scored)
SELECT lang, {_lang_winner_sql()} AS lang_guess,
       count(*) AS n_docs,
       CAST(sum(tokens) AS BIGINT) AS total_tokens,
       min(quality) AS min_quality,
       max(quality) AS max_quality
FROM lng GROUP BY 1, 2
"""


N_PAGES_Q54 = 4096  # pages fixture rows (sf-independent; golden-pinned)


def q54_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north_star's webtext invariant as a first-class operator:
    HTML → text extraction (functions/html_text.py — regex tokenizer,
    WHATWG entity decode, block-tag separators, whitespace normalization)
    over the Common-Crawl-style pages fixture, asserting *byte-identical
    extracted text per url* against the fixture's own text column. The
    golden oracle re-extracts with a stdlib ``html.parser``-based
    implementation (a different tokenizer algorithm), so the hash match
    checks the extractor itself, not just the plumbing."""
    from ..functions.html_text import html_to_text_udf
    from ..sources.pages import page_id_expr_sql, synthetic_pages
    pages = synthetic_pages(spark, N_PAGES_Q54)
    ext = pages.withColumn("extracted", html_to_text_udf(F.col("html")))
    return ext.select(
        F.expr(page_id_expr_sql("spark")).alias("page_id"),
        "url",
        "extracted",
        (F.col("extracted") == F.col("text")).cast("int")
        .alias("byte_identical"),
        F.length("extracted").alias("n_chars"))


N_PAGES_Q55 = 2048
N_WARC_FILES_Q55 = 8
WARC_FIXTURE_DIR = "/tmp/spark_graft_warc_q55"


def q55_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-surface ingest edge for the webtext axis: Common-Crawl-style WARC
    files (ISO 28500, member-gzip) → pages table → HTML extraction, fully
    distributed (one task per file split; sources/warc.py). The golden
    oracle is built straight from the page GENERATOR — it never touches
    the WARC codec or either HTML tokenizer — so the hash verifies
    writer→gzip→reader→HTTP-split→extraction end-to-end."""
    from ..functions.html_text import html_to_text_udf
    from ..sources.pages import page_id_expr_sql
    from ..sources.warc import ensure_pages_warc, read_warc
    paths = ensure_pages_warc(WARC_FIXTURE_DIR, N_PAGES_Q55,
                              N_WARC_FILES_Q55)
    recs = read_warc(spark, paths, responses_only=True)
    return recs.select(
        F.expr(page_id_expr_sql("spark")).alias("page_id"),
        "url", "warc_ts", "http_status", "n_bytes",
        html_to_text_udf(F.col("html")).alias("extracted"))


def _q56_messy_sql() -> str:
    """Messy URL as a pure function of doc_id: four canonicalization
    classes (tracking params + dot segments + default port + case, an
    already-canonical row, percent-encoding normalization, and a
    root-overflowing ``..`` chain)."""
    k = "CAST(doc_id % 997 AS STRING)"
    i = "CAST(doc_id AS STRING)"
    return f"""CASE doc_id % 4
      WHEN 0 THEN CONCAT('HTTPS://WWW.SITE', {k},
        '.Example.com:443/a/./b/../c/page/', {i},
        '?utm_source=feed&id=', {i}, '&utm_campaign=x#sec')
      WHEN 1 THEN CONCAT('https://site', {k}, '.example.com/p/', {i})
      WHEN 2 THEN CONCAT('http://Site', {k}, '.example.com/%41b%7e/%2fq/',
        {i}, '?id=', {i}, '&')
      ELSE CONCAT('http://site', {k}, '.example.com:80/x/../../y/', {i},
        '#f') END"""


def q56_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL canonicalization (functions/url.py — RFC 3986
    §6.2.2 syntax normalization + tracking-param stripping) as an Arrow
    kernel. The oracle never normalizes: it CONSTRUCTS the expected
    canonical URL directly from doc_id, so the hash checks the algorithm
    against the spec rather than against a second copy of itself."""
    from ..functions.url import canonicalize_url_udf
    d = _docs(spark, sf_dir)
    out = d.select("doc_id", F.expr(_q56_messy_sql()).alias("url_raw"))
    return (out.withColumn("_c", canonicalize_url_udf(F.col("url_raw")))
            .select("doc_id",
                    F.col("_c.url_norm").alias("url_norm"),
                    F.col("_c.host").alias("host")))


def q56_sql() -> str:
    return """
SELECT doc_id,
  CASE doc_id % 4
    WHEN 0 THEN 'https://www.site' || k || '.example.com/a/c/page/' || i
                || '?id=' || i
    WHEN 1 THEN 'https://site' || k || '.example.com/p/' || i
    WHEN 2 THEN 'http://site' || k || '.example.com/Ab~/%2Fq/' || i
                || '?id=' || i
    ELSE 'http://site' || k || '.example.com/y/' || i END AS url_norm,
  CASE WHEN doc_id % 4 = 0 THEN 'www.site' || k || '.example.com'
       ELSE 'site' || k || '.example.com' END AS host
FROM (SELECT doc_id, CAST(doc_id % 997 AS VARCHAR) AS k,
             CAST(doc_id AS VARCHAR) AS i FROM documents)
"""


def q59_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/similarity.ann_topk_ivfpq): coarse prune →
    8-byte PQ codes → ADC shortlist → exact re-rank. Operating point
    n_lists=8, n_probe=6, m=8, ksub=16, refine=64; recall vs exact is
    floor-asserted in tests/test_similarity.py and the golden oracle is an
    independent numpy replay of the same published algorithm."""
    from ..operators.similarity import ann_topk_ivfpq
    emb = _emb(spark, sf_dir)
    qvec = (emb.filter(F.col("vec_id") == TOPK_QUERY_ID)
            .select("embedding").head()[0])
    return ann_topk_ivfpq(emb, list(qvec), k=TOPK_K, n_lists=8, n_probe=6,
                          m=8, ksub=16, refine=64)


_LATLNG_SQL = ("((y - 2000000.0) / 100000.0)",
               "((x - 2000000.0) / 100000.0)")   # linear planar→latlng
TILE_Z = 12


def q60_web_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Published-formula web-map tile ids (functions/webtiles.py): slippy
    xtile/ytile (OSM spec) + Bing quadkey at z=12 — closed-form
    arithmetic, pure Catalyst, and the oracle evaluates the IDENTICAL
    published expressions, so the hash pins spec conformance. These ids
    (unlike the engine-canonical hex lattice) interoperate with any
    mapping stack."""
    from ..functions.webtiles import quadkey_sql, tile_xy_sql
    lat, lng = _LATLNG_SQL
    xt, yt = tile_xy_sql(lat, lng, TILE_Z, "spark")
    qk = quadkey_sql("xtile", "ytile", TILE_Z, "spark")
    pts = docs_xy(spark, sf_dir)
    return (pts.select("doc_id",
                       F.expr(xt).alias("xtile"),
                       F.expr(yt).alias("ytile"))
            .withColumn("quadkey", F.expr(qk)))


def q60_sql() -> str:
    from ..functions.webtiles import quadkey_sql, tile_xy_sql
    lat, lng = _LATLNG_SQL
    xt, yt = tile_xy_sql(lat, lng, TILE_Z, "duckdb")
    qk = quadkey_sql("xtile", "ytile", TILE_Z, "duckdb")
    return f"""
WITH pts AS ({_pts_cte('duckdb')}),
tiles AS (SELECT doc_id, {xt} AS xtile, {yt} AS ytile FROM pts)
SELECT doc_id, xtile, ytile, {qk} AS quadkey FROM tiles
"""


def q61_geohash_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash assignment (functions/geohash.py — the public Niemeyer
    encoding, pinned by published vectors in tests/test_webtiles.py) at
    precisions 5 and 9, plus the prefix-containment property checked
    in-plan (p5 must prefix p9 — the hash verifies the hierarchy, not
    just the leaf)."""
    from ..functions.geohash import geohash_udf
    lat, lng = _LATLNG_SQL
    pts = docs_xy(spark, sf_dir).select(
        "doc_id", F.expr(lat).alias("lat"), F.expr(lng).alias("lng"))
    return (pts.withColumn("gh5", geohash_udf(5)(F.col("lat"),
                                                 F.col("lng")))
            .withColumn("gh9", geohash_udf(9)(F.col("lat"), F.col("lng")))
            .select("doc_id", "gh5", "gh9",
                    (F.col("gh9").substr(1, 5) == F.col("gh5"))
                    .cast("int").alias("is_prefix")))


TERMS_BM25 = ("spark", "join", "table")
BM25_K1, BM25_B, BM25_TOPK = 1.2, 0.75, 20


def _bm25_sql(dialect: str) -> str:
    arr = "string_split(text, ' ')" if dialect == "duckdb" \
        else "split(text, ' ')"
    flt = "list_filter" if dialect == "duckdb" else "filter"
    sz = "len" if dialect == "duckdb" else "size"
    tf_cols = ", ".join(
        f"CAST({sz}({flt}({arr}, w -> w = '{t}')) AS BIGINT) AS tf_{t}"
        for t in TERMS_BM25)
    dfs = ", ".join(
        f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS df_{t}" for t in TERMS_BM25)
    # float op order written ONCE, shared verbatim across engines
    score = " + ".join(
        f"ln((CAST(s.n_docs AS DOUBLE) - s.df_{t} + 0.5) / "
        f"(s.df_{t} + 0.5) + 1.0) * (b.tf_{t} * {BM25_K1 + 1.0}) / "
        f"(b.tf_{t} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * b.dl / "
        f"(CAST(s.sum_dl AS DOUBLE) / s.n_docs)))"
        for t in TERMS_BM25)
    return f"""
WITH base AS (
  SELECT doc_id, {tf_cols}, CAST({sz}({arr}) AS BIGINT) AS dl
  FROM documents),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS sum_dl, {dfs}
  FROM base),
scored AS (SELECT b.doc_id, {score} AS bm25
           FROM base b CROSS JOIN stats s)
SELECT doc_id, CAST(floor(bm25 * 1000000000.0 + 0.5) AS BIGINT) AS bm25_q
FROM scored
ORDER BY bm25_q DESC, doc_id LIMIT {BM25_TOPK}
"""


def q62_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 corpus scoring (Robertson/Spärck Jones; k1=1.2 b=0.75)
    for a fixed query term set — docfreq/avgdl corpus statistics as a
    1-row broadcast dim, per-doc term frequencies via array filters, one
    shared float expression evaluated verbatim on both engines. The
    emitted score is nano-quantized (×1e9 → BIGINT) because JVM Math.log
    and libm ln differ by 1 ulp — ordering and hashing use the quantized
    value so the oracle row is engine-exact. Top-k with id tie-break."""
    _docs(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(_bm25_sql("spark"))


SESSION_GAP_S = 1800


def _sessionize_sql(dialect: str) -> str:
    """Gap-based sessionization, identical semantics both engines: a new
    session starts when the gap to the user's previous event exceeds the
    threshold; session id = running count of session starts."""
    if dialect == "duckdb":
        gap = ("CAST(date_diff('second', lag(ts) OVER w, ts) "
               "AS BIGINT)")
    else:
        gap = ("CAST(unix_timestamp(ts) - unix_timestamp(lag(ts) "
               "OVER w) AS BIGINT)")
    return f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN {gap} IS NULL OR {gap} > {SESSION_GAP_S}
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts, value,
         CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM flagged)
SELECT user_id, session_id,
       CAST(count(*) AS BIGINT) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM sess GROUP BY user_id, session_id
"""


def q63_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the event stream (30-min inactivity
    boundary): lag + running-sum windows, one shuffle on user_id; the
    oracle runs the same two-window SQL on DuckDB. At 100 TB both
    windows share one partitioning — a single exchange, no join. The
    value sum is integer-cents (IEEE multiply is exactly specified, so
    the quantization is engine-identical; float SUMMATION order is
    not)."""
    spark.read.parquet(f"{sf_dir}/events.parquet") \
        .createOrReplaceTempView("events")
    return spark.sql(_sessionize_sql("spark"))


N_SALT_Q64 = 16


def q64_salted_host_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north_rule's skew defense as a hash-verified row: two-phase
    salted aggregation over a deliberately skewed key (host — ~60 % of
    rows collapse onto one hot host). Phase 1 groups on (host, salt) so
    the hot key spreads across N_SALT tasks; phase 2 merges the partials.
    The oracle is the PLAIN single-phase GROUP BY — equality proves
    salting changes the schedule, never the result."""
    host = ("CASE WHEN doc_id % 5 < 3 THEN 'hot.example.com' "
            "ELSE CONCAT('site', CAST(doc_id % 97 AS STRING), "
            "'.example.com') END")
    d = _docs(spark, sf_dir).select(
        "doc_id", F.expr(host).alias("host"), "n_chars")
    salted = d.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(N_SALT_Q64)))
    partial = (salted.groupBy("host", "salt")
               .agg(F.count(F.lit(1)).alias("c"),
                    F.sum("n_chars").alias("s")))
    return (partial.groupBy("host")
            .agg(F.sum("c").alias("n_docs"),
                 F.sum("s").alias("total_chars")))


def q64_sql() -> str:
    return """
SELECT CASE WHEN doc_id % 5 < 3 THEN 'hot.example.com'
            ELSE 'site' || CAST(doc_id % 97 AS VARCHAR) || '.example.com'
       END AS host,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1
"""


def q65_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key (functions/zorder.py — magic-number bit
    dilation, pure Catalyst): 1 km cell coords → interleaved Morton code
    + its level-4 quadtree prefix (the partition key a 100 TB table would
    cluster on). Identical integer expression on the DuckDB oracle; the
    pruning behavior itself is proven in tests/test_zorder.py."""
    from ..functions.zorder import morton_sql
    pts = docs_xy(spark, sf_dir)
    cx = "CAST(floor(x / 1000.0) AS BIGINT)"
    cy = "CAST(floor(y / 1000.0) AS BIGINT)"
    m = morton_sql("cx", "cy", "spark")
    return (pts.select("doc_id", F.expr(cx).alias("cx"),
                       F.expr(cy).alias("cy"))
            .withColumn("morton", F.expr(m))
            .withColumn("quad4",
                        F.expr("CAST(morton DIV 16777216 AS BIGINT)")))


def q65_sql() -> str:
    from ..functions.zorder import morton_sql
    m = morton_sql("cx", "cy", "duckdb")
    return f"""
WITH pts AS ({_pts_cte('duckdb')}),
cells AS (SELECT doc_id,
                 CAST(floor(x / 1000.0) AS BIGINT) AS cx,
                 CAST(floor(y / 1000.0) AS BIGINT) AS cy
          FROM pts)
SELECT doc_id, cx, cy, {m} AS morton,
       CAST({m} // 16777216 AS BIGINT) AS quad4
FROM cells
"""


def q66_overview_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overview pyramid on the REAL apg18e raster (operators/pyramid.py):
    per-level valid-pixel count and exact quantized sum for levels 1-3.
    Distributed end-to-end (byte-range tile scan → chained nearest
    overviews → per-tile partial aggregation); the golden replays the
    corner-convention subsample on the driver-side numpy decode — so the
    hash checks the whole distributed pyramid chain."""
    from ..operators.pyramid import build_pyramid
    from ..sources.geotiff import geotiff_tile_table, read_ifd
    tif = "/root/reference/data/apg18e_1_0_0_20210512.tif"
    info = read_ifd(tif)
    tiles = geotiff_tile_table(spark, tif)
    pyr = build_pyramid(tiles, info.tile_w, info.height, info.width,
                        levels=3)
    outs = []
    for lvl, (t, _, _) in enumerate(pyr, start=1):
        outs.append(t.select(
            F.lit(lvl).alias("level"),
            F.explode("data").alias("v"))
            .filter(F.col("v").isNotNull() & ~F.isnan("v"))
            .groupBy("level")
            .agg(F.count(F.lit(1)).alias("n_valid"),
                 F.sum(F.expr("CAST(floor(v * 16.0 + 0.5) AS BIGINT)"))
                 .alias("sum_q")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


PAGERANK_ITERS = 10


def _q67_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic link graph over the documents: every doc links to 3
    targets derived from its id (covers hub/authority structure: ids
    ≡ 0 mod 13 collect extra in-links via the +5 chain)."""
    d = _docs(spark, sf_dir).select("doc_id")
    edges = None
    for a, b in ((7, 1), (13, 5), (31, 11)):
        e = d.selectExpr("doc_id AS src",
                         f"pmod(doc_id * {a} + {b}, "
                         f"{_q67_n(spark, sf_dir)}) AS dst")
        edges = e if edges is None else edges.unionByName(e)
    return edges


_Q67_N_CACHE: dict[str, int] = {}


def _q67_n(spark: SparkSession, sf_dir: str) -> int:
    if sf_dir not in _Q67_N_CACHE:
        _Q67_N_CACHE[sf_dir] = _docs(spark, sf_dir).count()
    return _Q67_N_CACHE[sf_dir]


def q67_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph algorithm surface: PageRank over a deterministic
    3-out link graph (operators/pagerank.py — one shuffle per iteration,
    EXACT int64 fixed-point arithmetic so the result is identical at any
    partitioning and in the numpy golden replay). 10 iterations, damping
    85/100."""
    from ..operators.pagerank import pagerank_fixed_point
    n = _q67_n(spark, sf_dir)
    ranks = pagerank_fixed_point(_q67_edges(spark, sf_dir), n,
                                 iterations=PAGERANK_ITERS)
    return ranks.select(F.col("node").alias("doc_id"), "rank_fp")


def _q68_edges_sql() -> str:
    """Sparse deterministic pair graph (chains + merges): docs ≡ 0 mod 3
    pair with a multiplicative target — yields components of varied
    size, incl. singleton-free coverage of the touched nodes."""
    return ("SELECT doc_id AS src, "
            "(doc_id * 17 + 3) % (SELECT count(*) FROM documents) AS dst "
            "FROM documents WHERE doc_id % 3 = 0")


def q68_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup groups: min-label connected components
    (operators/components.py — one shuffle per round, exact int64
    labels, early stop on a changed-labels aggregate). The oracle is a
    DuckDB RECURSIVE CTE reachability closure + min per node — a direct
    SQL check of the iterative algorithm, no golden table."""
    from ..operators.components import connected_components
    _docs(spark, sf_dir).createOrReplaceTempView("documents")
    edges = spark.sql(_q68_edges_sql())
    comp = connected_components(edges)
    return (comp.groupBy("component")
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.max("node").alias("max_node")))


def q68_sql() -> str:
    return f"""
WITH RECURSIVE e AS ({_q68_edges_sql()}),
sym AS (SELECT src AS a, dst AS b FROM e
        UNION SELECT dst, src FROM e),
reach(node, r) AS (
  SELECT a, a FROM sym
  UNION
  SELECT sym.a, reach.r FROM sym JOIN reach ON sym.b = reach.node),
labels AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
SELECT component, CAST(count(*) AS BIGINT) AS n_members,
       max(node) AS max_node
FROM labels GROUP BY component
"""


def q69_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP grouping-sets surface: ROLLUP over (lang, source) with
    GROUPING() flags disambiguating subtotal NULLs from data NULLs —
    Spark's ``rollup()`` vs DuckDB's ``GROUP BY ROLLUP``, identical
    semantics, exact integer aggregates. At scale a rollup is ONE
    shuffle: Spark expands the grouping sets map-side."""
    d = _docs(spark, sf_dir)
    return (d.rollup("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.grouping("lang").cast("int").alias("g_lang"),
                 F.grouping("source").cast("int").alias("g_source")))


def q69_sql() -> str:
    return """
SELECT lang, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(grouping(lang) AS INT) AS g_lang,
       CAST(grouping(source) AS INT) AS g_source
FROM documents
GROUP BY ROLLUP (lang, source)
"""


def q70_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join surface (the set-op shape q25's semi-join doesn't
    cover): corpus MINUS the contamination candidates — documents whose
    13-token shingle set hits the q46 probe set are excluded, everything
    else aggregates per lang. Spark left_anti vs SQL NOT EXISTS; the
    probe side stays broadcast-small at any corpus size."""
    d = _docs(spark, sf_dir)
    probes = q46_contamination(spark, sf_dir).select("doc_id")
    kept = d.join(F.broadcast(probes), "doc_id", "left_anti")
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_clean"),
                 F.sum("n_chars").alias("clean_chars")))


def q70_sql() -> str:
    return f"""
WITH hits AS ({q46_sql().strip()})
SELECT lang, CAST(count(*) AS BIGINT) AS n_clean,
       CAST(sum(n_chars) AS BIGINT) AS clean_chars
FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM hits h WHERE h.doc_id = d.doc_id)
GROUP BY lang
"""


def q71_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile aggregation (the ORDER-STATISTIC surface; the
    approx path at 100 TB is approx_percentile/t-digest — this is the
    exact twin both engines define identically): Spark ``percentile`` vs
    DuckDB ``quantile_cont``, linear interpolation over integer inputs —
    bit-identical (interpolation is one multiply-add on exactly
    representable integers)."""
    _docs(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql("""
        SELECT lang,
               percentile(n_chars, 0.5) AS p50,
               percentile(n_chars, 0.9) AS p90,
               percentile(n_chars, 0.99) AS p99,
               CAST(min(n_chars) AS BIGINT) AS lo,
               CAST(max(n_chars) AS BIGINT) AS hi
        FROM documents GROUP BY lang""")


def q71_sql() -> str:
    return """
SELECT lang,
       quantile_cont(n_chars, 0.5) AS p50,
       quantile_cont(n_chars, 0.9) AS p90,
       quantile_cont(n_chars, 0.99) AS p99,
       CAST(min(n_chars) AS BIGINT) AS lo,
       CAST(max(n_chars) AS BIGINT) AS hi
FROM documents GROUP BY lang
"""


# Levenshtein DP is O(|t1|·|t2|) per pair: bound the compared window so a
# 1 MB near-dup pair cannot pin a core for a 10^12-cell DP (VERDICT r3).
# The bound is part of the query contract — visible in BOTH engines' SQL;
# documents under the cap (all fixture scales: max 577 chars) are exact.
LEV_PREFIX = 4096


def q72_editdist_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of the SimHash candidate pairs — the
    exact-metric stage a dedup pipeline runs AFTER banding (complements
    the Jaccard verify q32): per candidate pair, Levenshtein distance and
    a per-mille similarity over the first ``LEV_PREFIX`` chars, all exact
    integers. Plan: the candidate set (q40's banded join — no cross
    product) joins text twice; at 100 TB the pair list is small relative
    to the corpus so both joins shuffle only candidates, and the prefix
    cap bounds per-pair CPU at O(LEV_PREFIX²)."""
    pairs = q40_simhash_pairs(spark, sf_dir)
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(f"substring(text, 1, {LEV_PREFIX})").alias("text"))
    out = (pairs
           .join(d.withColumnRenamed("doc_id", "id1")
                 .withColumnRenamed("text", "t1"), "id1")
           .join(d.withColumnRenamed("doc_id", "id2")
                 .withColumnRenamed("text", "t2"), "id2"))
    return out.select(
        "id1", "id2", "hamming",
        F.expr("CAST(levenshtein(t1, t2) AS BIGINT)").alias("edit_dist"),
        F.expr("CAST(1000 - (1000 * levenshtein(t1, t2)) DIV "
               "greatest(length(t1), length(t2)) AS BIGINT)")
        .alias("sim_permille"))


def q72_sql() -> str:
    return f"""
WITH pairs AS ({q40_sql().strip()}),
     docs AS (SELECT doc_id, substring(text, 1, {LEV_PREFIX}) AS text
              FROM documents)
SELECT p.id1, p.id2, p.hamming,
       CAST(levenshtein(d1.text, d2.text) AS BIGINT) AS edit_dist,
       CAST(1000 - (1000 * levenshtein(d1.text, d2.text))
            // greatest(length(d1.text), length(d2.text)) AS BIGINT)
         AS sim_permille
FROM pairs p
JOIN docs d1 ON d1.doc_id = p.id1
JOIN docs d2 ON d2.doc_id = p.id2
"""


# --------------------------------------------------------------------------
# q74 approx-percentile scale twin (VERDICT r3 #5): the 100 TB percentile
# path is a mergeable sketch, not a per-group sort. Sketch outputs are
# implementation-defined, so the ORACLE-COMPARABLE result is the sketch's
# RANK-ERROR CONTRACT: approx_percentile(accuracy=A) must return an actual
# element whose rank is within n/A of the target rank. The query emits the
# verified contract per group (plus exact group counts); the oracle states
# the contract — any sketch violation hash-mismatches and turns the row red.
# --------------------------------------------------------------------------

Q74_ACCURACY = 1000
Q74_QS = (0.5, 0.9, 0.99)


def q74_approx_percentile_check(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """approx_percentile (Greenwald-Khanna sketch — one map-side-mergeable
    state per group, O(accuracy·log n) memory, NO per-group sort) with its
    rank-error guarantee verified in-query against exact ranks. At 100 TB
    this is the percentile plan: the exact twin q71 is a per-group sort
    that cannot scale; this one is a single aggregation pass."""
    _docs(spark, sf_dir).createOrReplaceTempView("documents")
    qs = ", ".join(str(q) for q in Q74_QS)
    # tie-robust contract (r4 review): a repeated value occupies the whole
    # rank interval [count(<v)+1, count(<=v)]; the sketch meets its bound
    # iff that interval INTERSECTS target_rank ± n/accuracy — comparing
    # only count(<=v) (the max rank) flags false violations whenever ties
    # exceed the tolerance, which they do at scale on a bounded domain
    checks = ", ".join(
        f"CAST(lt_{i} + 1 <= {q} * n + n / {Q74_ACCURACY}.0 + 2.0 "
        f"AND le_{i} >= {q} * n - n / {Q74_ACCURACY}.0 - 2.0 "
        f"AS BIGINT) AS ok_p{int(q * 100)}"
        for i, q in enumerate(Q74_QS))
    ranks = ", ".join(
        f"sum(CASE WHEN d.n_chars < element_at(ap.a, {i + 1}) "
        f"THEN 1 ELSE 0 END) AS lt_{i}, "
        f"sum(CASE WHEN d.n_chars <= element_at(ap.a, {i + 1}) "
        f"THEN 1 ELSE 0 END) AS le_{i}"
        for i in range(len(Q74_QS)))
    # two scans total: one sketch pass, one broadcast equi-join + condi-
    # tional rank count (the tiny per-group sketch table broadcasts; no
    # nested-loop decorrelation, plan-audit clean)
    return spark.sql(f"""
        WITH ap AS (
          SELECT lang,
                 approx_percentile(n_chars, array({qs}), {Q74_ACCURACY})
                   AS a,
                 count(*) AS n
          FROM documents GROUP BY lang),
        ranks AS (
          SELECT /*+ BROADCAST(ap) */ d.lang,
                 max(ap.n) AS n, {ranks}
          FROM documents d JOIN ap ON d.lang = ap.lang
          GROUP BY d.lang)
        SELECT lang, CAST(n AS BIGINT) AS n, {checks} FROM ranks""")


def q74_sql() -> str:
    flags = ", ".join(f"CAST(1 AS BIGINT) AS ok_p{int(q * 100)}"
                      for q in Q74_QS)
    return f"""
SELECT lang, CAST(count(*) AS BIGINT) AS n, {flags}
FROM documents GROUP BY lang
"""


# --------------------------------------------------------------------------
# q75 range (interval) join: bucket decomposition vs DuckDB's native IEJoin
# --------------------------------------------------------------------------

N_INTERVALS_Q75 = 64


def q75_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join (operators/rangejoin.py — interval buckets
    exploded, hash equi-join on the bucket id, exact BETWEEN re-check; no
    nested-loop, no cross product). Intervals are deterministic integer-
    valued bands over the events value domain; bounds are exact doubles
    so both engines compare identically (comparison only — no float
    arithmetic crosses the result surface). Oracle: DuckDB's native
    inequality join (IEJoin), an independent physical algorithm."""
    from ..operators.rangejoin import range_join
    intervals = spark.range(N_INTERVALS_Q75).select(
        F.col("id").alias("int_id"),
        ((F.col("id") * 37) % 450).cast("double").alias("lo"),
        ((F.col("id") * 37) % 450 + 5 + F.col("id") % 20)
        .cast("double").alias("hi"))
    probes = _events(spark, sf_dir).select("event_id", "value")
    out = range_join(probes, intervals, v_col="value", bucket_w=10.0)
    return (out.groupBy("int_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("event_id").alias("first_event"),
                 F.max("event_id").alias("last_event")))


def q75_sql() -> str:
    return f"""
WITH intervals AS (
  SELECT i AS int_id,
         CAST((i * 37) % 450 AS DOUBLE) AS lo,
         CAST((i * 37) % 450 + 5 + i % 20 AS DOUBLE) AS hi
  FROM (SELECT unnest(range(0, {N_INTERVALS_Q75})) AS i)),
pairs AS (
  SELECT e.event_id, i.int_id
  FROM events e JOIN intervals i
    ON e.value >= i.lo AND e.value <= i.hi)
SELECT int_id, CAST(count(*) AS BIGINT) AS n_events,
       min(event_id) AS first_event, max(event_id) AS last_event
FROM pairs GROUP BY int_id
"""


# --------------------------------------------------------------------------
# q77 interval-overlap join: per-user value spans × deterministic bands
# --------------------------------------------------------------------------

N_BANDS_Q77 = 40


def q77_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join (operators/rangejoin.py
    interval_overlap_join — both sides bucket-exploded, hash equi-join,
    exact overlap re-check, first-shared-bucket single emission — no
    dedup shuffle): each user's [min(value), max(value)]
    activity span against deterministic value bands. Span bounds are
    min/max SELECTIONS of parquet doubles (no arithmetic), band bounds
    exact integer doubles — every comparison is engine-identical. Oracle:
    DuckDB's native inequality join on the same overlap predicate."""
    from ..operators.rangejoin import interval_overlap_join
    spans = (_events(spark, sf_dir)
             .groupBy("user_id")
             .agg(F.min("value").alias("lo"), F.max("value").alias("hi")))
    bands = spark.range(N_BANDS_Q77).select(
        F.col("id").alias("band_id"),
        ((F.col("id") * 67) % 440).cast("double").alias("lo_r"),
        ((F.col("id") * 67) % 440 + 4 + F.col("id") % 23)
        .cast("double").alias("hi_r"))
    out = interval_overlap_join(spans, bands, bucket_w=64.0)
    return (out.groupBy("band_id")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.min("user_id").alias("first_user"),
                 F.max("user_id").alias("last_user")))


def q77_sql() -> str:
    return f"""
WITH spans AS (
  SELECT user_id, min(value) AS lo, max(value) AS hi
  FROM events GROUP BY user_id),
bands AS (
  SELECT i AS band_id,
         CAST((i * 67) % 440 AS DOUBLE) AS lo_r,
         CAST((i * 67) % 440 + 4 + i % 23 AS DOUBLE) AS hi_r
  FROM (SELECT unnest(range(0, {N_BANDS_Q77})) AS i)),
pairs AS (
  SELECT s.user_id, b.band_id
  FROM spans s JOIN bands b
    ON s.lo <= b.hi_r AND b.lo_r <= s.hi)
SELECT band_id, CAST(count(*) AS BIGINT) AS n_users,
       min(user_id) AS first_user, max(user_id) AS last_user
FROM pairs GROUP BY band_id
"""


# --------------------------------------------------------------------------
# q76 winnowing fingerprints (Schleimer et al., SIGMOD'03): the local
# document-fingerprinting algorithm behind MOSS — guaranteed to select at
# least one shared fingerprint for any match of length >= w + k - 1
# --------------------------------------------------------------------------

Q76_K = 5       # k-gram length (same shingle machinery as MinHash q16)
Q76_W = 4       # winnow window: one fingerprint per w consecutive k-grams


def q76_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing: hash every k-gram (the bit-exact conv(md5) int hash the
    MinHash surface uses), slide a w-window over positions, keep the MIN
    hash of each full window, dedupe — the selected set is the document's
    fingerprint. Pure Catalyst: explode → window min ordered by position
    (ONE shuffle on doc_id) → distinct → per-doc aggregate, all exact
    int64. Unlike MinHash (global random sample), winnowing is POSITION-
    LOCAL: any shared substring of length w+k-1 guarantees a shared
    fingerprint, which is why plagiarism/contamination detectors use it."""
    _docs(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(f"""
        WITH {winnow_fps_cte_spark()}
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_fp,
               min(fp) AS min_fp, max(fp) AS max_fp,
               CAST(sum(fp) AS BIGINT) AS sum_fp
        FROM fps GROUP BY doc_id""")


def winnow_fps_cte_spark(view: str = "documents") -> str:
    """CTE chain ``sh → wins → fps`` selecting the winnowed fingerprint
    set (doc_id, fp) of ``view`` — shared by q76 and the guarantee test."""
    return f"""sh AS (
          SELECT doc_id, p,
                 CAST(conv(substring(md5(substring(text, p, {Q76_K})),
                                     1, 15), 16, 10) AS BIGINT)
                   % {DD.MINHASH_P} AS h,
                 greatest(length(text) - {Q76_K - 1}, 1) AS npos
          FROM {view}
          LATERAL VIEW explode(sequence(1,
                 greatest(length(text) - {Q76_K - 1}, 1))) t AS p),
        wins AS (
          SELECT doc_id, p, npos,
                 min(h) OVER (PARTITION BY doc_id ORDER BY p
                              ROWS BETWEEN CURRENT ROW
                              AND {Q76_W - 1} FOLLOWING) AS fp
          FROM sh),
        fps AS (SELECT DISTINCT doc_id, fp FROM wins
                WHERE p <= npos - {Q76_W - 1})"""


def q76_sql() -> str:
    return f"""
WITH sh AS (
  SELECT doc_id, CAST(p AS BIGINT) AS p,
         {DD.minhash_base_hash_sql_duckdb().replace('shingle',
             f'substr(text, CAST(p AS INTEGER), {Q76_K})')} AS h,
         greatest(length(text) - {Q76_K - 1}, 1) AS npos
  FROM documents,
       LATERAL (SELECT unnest(range(1,
                greatest(length(text) - {Q76_K - 1}, 1) + 1)) AS p) t),
wins AS (
  SELECT doc_id, p, npos,
         min(h) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN CURRENT ROW
                      AND {Q76_W - 1} FOLLOWING) AS fp
  FROM sh),
fps AS (SELECT DISTINCT doc_id, fp FROM wins
        WHERE p <= npos - {Q76_W - 1})
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_fp,
       min(fp) AS min_fp, max(fp) AS max_fp,
       CAST(sum(fp) AS BIGINT) AS sum_fp
FROM fps GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# q73 scaled dedup groups: exact-dup collapse → LSH on representatives →
# connected components (the VERDICT-r3 hot-bucket composition, end to end)
# --------------------------------------------------------------------------

Q73_DUP_OFFSET = 1_000_000       # synthetic exact-duplicate ids
Q73_DUP_MOD = 4                  # every 4th doc gets one exact duplicate
Q73_MAX_BUCKET = 1024            # band-bucket cap — in BOTH engines' SQL


def _q73_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ one exact duplicate of every 4th doc (higher id, same
    text) — a corpus where exact-dup collapse does real work."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dups = (d.filter(F.col("doc_id") % Q73_DUP_MOD == 0)
            .select((F.col("doc_id") + F.lit(Q73_DUP_OFFSET))
                    .alias("doc_id"), "text"))
    return d.unionByName(dups)


def q73_dedup_groups_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB dedup composition (operators/dedup.py
    collapsed_neardup_edges): exact duplicates collapse through digest
    groups FIRST — a degenerate flood of identical pages contributes one
    representative to the band join, keeping candidate generation linear
    — then MinHash-LSH pairs over representatives under the band-bucket
    cap, then min-label connected components over the union of exact
    edges and candidate pairs. Output: one row per dedup group with
    member count and max id; singleton docs are their own group. Oracle:
    DuckDB RECURSIVE-CTE closure over the identically-defined edge set
    (text-equality groups; same bit-exact MinHash banding as q17)."""
    from ..operators.components import connected_components
    corpus = _q73_corpus(spark, sf_dir)
    edges = DD.collapsed_neardup_edges(corpus, n=5, k=8, bands=2,
                                       max_bucket=Q73_MAX_BUCKET)
    # max_iters is a hard cap, not a round count: the loop early-stops on
    # convergence, so headroom for long near-dup chains costs nothing
    comp = connected_components(edges, src="id1", dst="id2", max_iters=40)
    labels = (corpus.select(F.col("doc_id").alias("node"))
              .join(comp, "node", "left")
              .select("node",
                      F.coalesce("component", "node").alias("component")))
    return (labels.groupBy("component")
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.max("node").alias("max_node")))


def q73_sql() -> str:
    return f"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {Q73_DUP_OFFSET}, text FROM documents
  WHERE doc_id % {Q73_DUP_MOD} = 0),
grp AS (SELECT text, min(doc_id) AS keep_id FROM corpus GROUP BY text),
exact_edges AS (
  SELECT g.keep_id AS id1, c.doc_id AS id2
  FROM corpus c JOIN grp g ON c.text = g.text
  WHERE c.doc_id <> g.keep_id),
reps AS (SELECT c.doc_id, c.text FROM corpus c
         JOIN grp g ON c.doc_id = g.keep_id),
sh AS (
  SELECT doc_id, substr(text, CAST(p AS INTEGER), 5) AS shingle
  FROM reps,
       LATERAL (SELECT unnest(range(1, greatest(length(text) - 4, 1) + 1)) AS p) t
),
hv AS (SELECT doc_id, {DD.minhash_base_hash_sql_duckdb()} AS h FROM sh),
sig AS (SELECT doc_id, {_minhash_mins_sql(8)} FROM hv GROUP BY doc_id),
banded AS (
  SELECT doc_id, 0 AS band, {_band_val_sql([0, 1, 2, 3])} AS val FROM sig
  UNION ALL
  SELECT doc_id, 1, {_band_val_sql([4, 5, 6, 7])} FROM sig),
-- the engine's hot-bucket cap, mirrored (q72-style: bounds live in BOTH
-- engines' SQL): buckets larger than the cap are excluded from pairing
capped AS (
  SELECT b.doc_id, b.band, b.val FROM banded b
  JOIN (SELECT band, val, count(*) AS bn FROM banded
        GROUP BY band, val) s
    ON b.band = s.band AND b.val = s.val
  WHERE s.bn <= {Q73_MAX_BUCKET}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id),
e AS (SELECT id1, id2 FROM exact_edges UNION SELECT id1, id2 FROM pairs),
sym AS (SELECT id1 AS a, id2 AS b FROM e UNION SELECT id2, id1 FROM e),
reach(node, r) AS (
  SELECT a, a FROM sym
  UNION
  SELECT sym.a, reach.r FROM sym JOIN reach ON sym.b = reach.node),
labels AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
full_labels AS (
  SELECT c.doc_id AS node, coalesce(l.component, c.doc_id) AS component
  FROM corpus c LEFT JOIN labels l ON l.node = c.doc_id)
SELECT component, CAST(count(*) AS BIGINT) AS n_members,
       max(node) AS max_node
FROM full_labels GROUP BY component
"""


def q57_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py — union-tag + one window pass): each
    document probes its user's event stream for the latest event at or
    before a deterministic probe timestamp. The oracle is DuckDB's NATIVE
    ``ASOF LEFT JOIN`` — a different physical algorithm validating the
    union-tag re-expression, including the no-preceding-event NULL path
    (probe users beyond the event table's user range)."""
    from ..operators.asof import asof_join
    probes = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr("CAST(doc_id % 97 AS BIGINT)").alias("user_id"),
        F.expr("timestampadd(SECOND, CAST(pmod(doc_id*9973, 2678400) AS "
               "INT), timestamp'2024-01-01 00:00:00')").alias("probe_ts"))
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return asof_join(probes, events, key="user_id", probe_ts="probe_ts",
                     event_ts="ts", carry=["event_id", "value"])


def q57_sql() -> str:
    return """
WITH probes AS (
  SELECT doc_id, doc_id % 97 AS user_id,
         TIMESTAMP '2024-01-01 00:00:00'
           + to_seconds(CAST(doc_id * 9973 % 2678400 AS BIGINT)) AS probe_ts
  FROM documents)
SELECT p.doc_id, p.user_id, p.probe_ts,
       e.event_id AS ev_event_id, e.value AS ev_value
FROM probes p ASOF LEFT JOIN events e
  ON p.user_id = e.user_id AND p.probe_ts >= e.ts
"""


def q58_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (the Gopher-rule family q45 does
    not cover): duplicate-trigram fraction and top-trigram fraction per
    document. Plan: trigrams via ``transform(sequence(...))`` (pure
    Catalyst, no Python), two-level partial/final aggregation — at 100 TB
    the explode amplifies rows ~n_words× but every stage map-side-combines
    on (doc_id, tri) before the shuffle."""
    d = (_docs(spark, sf_dir)
         .withColumn("w", F.split("text", " "))
         .withColumn("n", F.size("w"))
         .filter(F.col("n") >= 3))
    tri = d.select(
        "doc_id",
        F.expr("explode(transform(sequence(0, n - 3), "
               "i -> concat_ws(' ', w[i], w[i+1], w[i+2])))").alias("tri"))
    per = (tri.groupBy("doc_id", "tri")
           .agg(F.count(F.lit(1)).alias("c")))
    return (per.groupBy("doc_id")
            .agg(F.sum("c").alias("n_tri"),
                 F.count(F.lit(1)).alias("n_distinct_tri"),
                 F.max("c").alias("max_tri"))
            .select("doc_id", "n_tri", "n_distinct_tri", "max_tri",
                    F.expr("CAST(n_tri - n_distinct_tri AS DOUBLE) / n_tri")
                    .alias("dup_tri_frac"),
                    F.expr("CAST(max_tri AS DOUBLE) / n_tri")
                    .alias("top_tri_frac")))


def q58_sql() -> str:
    return """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS n
  FROM documents WHERE len(string_split(text, ' ')) >= 3),
tri AS (
  SELECT doc_id,
         unnest(list_transform(range(1, n - 1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tri
  FROM d),
per AS (SELECT doc_id, tri, count(*) AS c FROM tri GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tri,
       CAST(count(*) AS BIGINT) AS n_distinct_tri,
       CAST(max(c) AS BIGINT) AS max_tri,
       CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT)
         AS dup_tri_frac,
       CAST(max(c) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS top_tri_frac
FROM per GROUP BY doc_id
"""


def q24_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    qvec = (emb.filter(F.col("vec_id") == TOPK_QUERY_ID)
            .select("embedding").head()[0])
    return SIM.ann_topk_lsh(emb, list(qvec), k=TOPK_K)


# --------------------------------------------------------------------------
# q78 HyperLogLog distinct-count contract check (sketch family, with q74's
# approx_percentile: the two cardinality/quantile sketches a 100 TB rollup
# actually runs)
# --------------------------------------------------------------------------

Q78_RSD = 0.05


def q78_hll_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++ — one fixed 2^p-register state
    per group, map-side mergeable, NO distinct shuffle) with its relative-
    error contract verified in-query against the exact distinct count. At
    100 TB this is the cardinality plan: exact count(DISTINCT) rewrites
    into an expand + two-phase aggregate whose first shuffle carries every
    distinct value; the sketch shuffles kilobytes per group. The check
    tolerates 3·rsd relative error + 3 absolute (HLL's error is
    probabilistic but DETERMINISTIC for a fixed dataset, so the flag is
    stable and hash-comparable)."""
    _events(spark, sf_dir).createOrReplaceTempView("events")
    return spark.sql(f"""
        SELECT event_type,
               count(DISTINCT user_id) AS n_exact,
               CAST(abs(approx_count_distinct(user_id, {Q78_RSD})
                        - count(DISTINCT user_id))
                    <= 3 * {Q78_RSD} * count(DISTINCT user_id) + 3
                    AS BIGINT) AS ok
        FROM events GROUP BY event_type""")


def q78_sql() -> str:
    return """
SELECT event_type, count(DISTINCT user_id) AS n_exact,
       CAST(1 AS BIGINT) AS ok
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# q79 time-series gap fill: dense hourly grid + forward fill (the
# sensor/metrics regularization step ahead of any windowed model input)
# --------------------------------------------------------------------------

def _gap_fill_sql(dialect: str) -> str:
    """Dense per-key hourly grid from PER-KEY bounds (sequence explode off
    the key's own min/max hour — no cross join anywhere) LEFT-joined
    to the observed hourly aggregate, then last-observation-carried-forward
    via IGNORE NULLS window — one shuffle keyed (event_type), the same
    partitioning the window reuses. Values are per-row quantized to integer
    cents BEFORE summing (float sums are order-dependent; pitfall note in
    q63), so both engines aggregate identical int64s."""
    if dialect == "spark":
        grid = ("SELECT event_type, explode(sequence(h0, h1, "
                "interval 1 hour)) AS hour FROM bounds")
        ff = "last_value(cents) IGNORE NULLS OVER w"
    else:
        grid = ("SELECT event_type, unnest(generate_series(h0, h1, "
                "INTERVAL 1 HOUR)) AS hour FROM bounds")
        ff = "last_value(cents IGNORE NULLS) OVER w"
    return f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2),
bounds AS (SELECT event_type, min(hour) AS h0, max(hour) AS h1
           FROM hourly GROUP BY event_type),
grid AS ({grid}),
j AS (SELECT g.event_type, g.hour, hr.cents,
             CAST(hr.cents IS NULL AS BIGINT) AS filled
      FROM grid g LEFT JOIN hourly hr
        ON g.event_type = hr.event_type AND g.hour = hr.hour)
SELECT event_type, hour, {ff} AS cents_ff, filled
FROM j
WINDOW w AS (PARTITION BY event_type ORDER BY hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q79_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    _events(spark, sf_dir).createOrReplaceTempView("events")
    return spark.sql(_gap_fill_sql("spark"))


def q79_sql() -> str:
    return _gap_fill_sql("duckdb")


# --------------------------------------------------------------------------
# q80 TF-IDF top-k terms per document — integer-exact scoring so ranking is
# engine-identical (no log(): score = tf·10^6 div df is order-isomorphic to
# tf·(N/df) for fixed N, and idf monotonicity is all ranking needs; the
# corpus-size factor would only rescale every score identically)
# --------------------------------------------------------------------------

Q80_TOPK = 3


def _tfidf_sql(dialect: str) -> str:
    if dialect == "spark":
        terms = "SELECT doc_id, explode(split(text, ' ')) AS term " \
                "FROM documents"
        div = "div"
    else:
        terms = "SELECT doc_id, unnest(string_split(text, ' ')) AS term " \
                "FROM documents"
        div = "//"
    return f"""
WITH terms AS (SELECT doc_id, term FROM ({terms}) t WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
docfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT t.doc_id, t.term, CAST(t.tf AS BIGINT) AS tf,
         CAST((t.tf * 1000000) {div} d.df AS BIGINT) AS score
  FROM tf t JOIN docfreq d ON t.term = d.term),
ranked AS (
  SELECT doc_id, term, tf, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rnk
  FROM scored)
SELECT doc_id, term, tf, score, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {Q80_TOPK}
"""


def q80_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k TF-IDF terms. Plan: tf groupBy (map-side
    combined), df groupBy over the tf table (already one row per
    (doc, term)), equi-join tf×df on the term, document-partitioned
    window top-k — the same two-level stats shape as BM25 (q62), but
    emitting per-doc keywords instead of query scores."""
    _docs(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(_tfidf_sql("spark"))


def q80_sql() -> str:
    return _tfidf_sql("duckdb")


# --------------------------------------------------------------------------
# q81 Bloom-filter decontamination (operators/bloom.py): the O(1)-memory
# probe replacing q46's verbatim probe-set broadcast at benchmark-suite
# scale — false positives measured in-query against the exact join
# --------------------------------------------------------------------------

Q81_M = 1 << 14
Q81_K = 3


def q81_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shingle decontamination through a distributed-built
    Bloom filter (2 KiB bitmap here; m/8 bytes at any probe-set size),
    with the exact broadcast join computed alongside so the output
    certifies both the no-false-negative guarantee (bloom >= exact,
    row-wise) and the measured false-positive mass. The oracle recomputes
    bitmap membership as k position semi-joins — set-semantics-identical
    to the bitmap (module docstring), false positives included."""
    from ..operators import bloom as BL
    d = _docs(spark, sf_dir)
    g = F.expr(
        f"transform(sequence(1, greatest(length(text) - {CONTAM_NGRAM - 1},"
        f" 1)), p -> substring(text, p, {CONTAM_NGRAM}))")
    sh = d.select("doc_id", F.explode(g).alias("shingle"))
    probe = (sh.filter(F.col("doc_id") < CONTAM_PROBE_DOCS)
             .select("shingle").distinct())
    bitmap = BL.bloom_build(probe, "shingle", m=Q81_M, k=Q81_K)
    pcols = [c.alias(f"_p{i}") for i, c in
             enumerate(BL.position_cols("shingle", Q81_M, Q81_K))]
    corpus = (sh.filter(F.col("doc_id") >= CONTAM_PROBE_DOCS)
              .select("doc_id", "shingle", *pcols))
    corpus = corpus.withColumn("bloom_hit", BL.bloom_contains(
        corpus, [f"_p{i}" for i in range(Q81_K)], bitmap))
    marked = probe.withColumn("_exact", F.lit(1))
    j = corpus.join(F.broadcast(marked), "shingle", "left")
    return (j.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum(F.col("bloom_hit").cast("bigint"))
                 .alias("n_bloom_hits"),
                 F.sum(F.coalesce(F.col("_exact"), F.lit(0)))
                 .alias("n_exact_hits")))


def q81_sql() -> str:
    from ..operators import bloom as BL
    p = [BL.position_expr("shingle", i, Q81_M, "duckdb")
         for i in range(Q81_K)]
    bits_union = " UNION ".join(
        f"SELECT {e} AS pos FROM probe" for e in p)
    conds = " AND ".join(f"{e} IN (SELECT pos FROM bits)" for e in p)
    return f"""
WITH sh AS (
  SELECT doc_id, substr(text, CAST(pp AS INTEGER), {CONTAM_NGRAM}) AS shingle
  FROM documents,
       LATERAL (SELECT unnest(range(1, greatest(length(text) - {CONTAM_NGRAM - 1}, 1) + 1)) AS pp) t),
probe AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < {CONTAM_PROBE_DOCS}),
bits AS ({bits_union}),
corpus AS (SELECT doc_id, shingle FROM sh
           WHERE doc_id >= {CONTAM_PROBE_DOCS})
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN {conds} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_hits,
       CAST(sum(CASE WHEN shingle IN (SELECT shingle FROM probe)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hits
FROM corpus GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# q82 PII pattern scan + redaction accounting — regex surface kept inside
# both engines' common RE subset (no backslash classes: Spark string
# literals eat backslashes that DuckDB keeps, so [.] not \\.)
# --------------------------------------------------------------------------

Q82_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
Q82_URL_RE = "https?://[^ ]+"


def _pii_sql(dialect: str) -> str:
    if dialect == "spark":
        cast_s = "STRING"
        n_em = f"size(regexp_extract_all(aug, '{Q82_EMAIL_RE}', 0))"
        n_url = f"size(regexp_extract_all(aug, '{Q82_URL_RE}', 0))"
        red = (f"length(regexp_replace(regexp_replace(aug, "
               f"'{Q82_EMAIL_RE}', '<EMAIL>'), '{Q82_URL_RE}', '<URL>'))")
    else:
        cast_s = "VARCHAR"
        n_em = f"len(regexp_extract_all(aug, '{Q82_EMAIL_RE}'))"
        n_url = f"len(regexp_extract_all(aug, '{Q82_URL_RE}'))"
        red = (f"length(regexp_replace(regexp_replace(aug, "
               f"'{Q82_EMAIL_RE}', '<EMAIL>', 'g'), "
               f"'{Q82_URL_RE}', '<URL>', 'g'))")
    return f"""
WITH a AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS {cast_s})
           || '@mail.example.com or https://site'
           || CAST(doc_id % 7 AS {cast_s}) || '.example.org/p/'
           || CAST(doc_id AS {cast_s}) || ' end' AS aug
  FROM documents)
SELECT doc_id,
       CAST({n_em} AS BIGINT) AS n_emails,
       CAST({n_url} AS BIGINT) AS n_urls,
       CAST({red} AS BIGINT) AS redacted_len
FROM a
"""


def q82_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing accounting over deterministically augmented text
    (synthetic corpus carries no organic emails/URLs, so the scan targets
    are injected from doc_id): per-doc email/URL match counts and the
    post-redaction length. Pure Catalyst regexp (JVM-side, codegen); the
    oracle runs DuckDB's RE2 on the same patterns — agreement certifies
    the patterns sit in the dialect-common subset a real pipeline should
    stick to."""
    _docs(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(_pii_sql("spark"))


def q82_sql() -> str:
    return _pii_sql("duckdb")


# --------------------------------------------------------------------------
# q83 triangle counts on the near-dup candidate graph (operators/graph.py)
# — cluster-cohesion signal distinguishing template farms from drift chains
# --------------------------------------------------------------------------

def q83_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-ordered wedge-join triangle counting (O(m^1.5), hub-proof)
    over q17's MinHash-LSH candidate pairs. The oracle enumerates
    triangles with the id-ordered three-way self-join — an independent
    formulation that must agree corner-for-corner."""
    from ..operators.graph import triangle_counts
    sig = DD.minhash_signature(_docs(spark, sf_dir), n=5, k=8)
    pairs = DD.lsh_candidate_pairs(sig, bands=2)
    return (triangle_counts(pairs)
            .withColumnRenamed("node", "doc_id"))


def q83_sql() -> str:
    return f"""
WITH e AS ({q17_sql()}),
tris AS (
  SELECT e1.id1 AS a, e1.id2 AS b, e2.id2 AS c
  FROM e e1 JOIN e e2 ON e2.id1 = e1.id1 AND e2.id2 > e1.id2
  JOIN e e3 ON e3.id1 = e1.id2 AND e3.id2 = e2.id2),
corners AS (
  SELECT a AS doc_id FROM tris UNION ALL SELECT b FROM tris
  UNION ALL SELECT c FROM tris)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# q84 SemDeDup semantic dedup (operators/semdedup.py): cluster-local
# embedding near-dup — the published web-scale answer to q37's exact
# all-pairs join (O(n²) → O(n²/k), cross-cluster pairs traded away)
# --------------------------------------------------------------------------

def q84_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: deterministic k-means (the
    q41/q59 trainer), broadcast-centroid assignment (map-only), ONE
    cluster-keyed shuffle and a blocked-matmul pair search per cluster,
    exact-integer cosine threshold (dot²·den² ≥ num²·n1·n2,
    bit-identical across engines), keep = min-id exemplar per near-dup
    neighborhood. Oracle: committed golden parquet from an independent
    numpy brute-force replay (tools/make_golden.py golden_q84)."""
    from ..operators.semdedup import semantic_dedup
    return semantic_dedup(_emb(spark, sf_dir), n_lists=8)


# --------------------------------------------------------------------------
# q85 domain-mixture resampling: data-derived per-group keep rates that
# steer the corpus toward a target language mixture (the training-mix
# rebalancing step; q47 is the fixed-rate primitive, this derives the
# rates from the group counts themselves)
# --------------------------------------------------------------------------

MIX_TARGET_PPM = {"en": 200000, "zh": 200000, "es": 200000,
                  "de": 200000, "fr": 200000}


def _mixture_sql(dialect: str) -> str:
    """keep_ppm(lang) = min(1e6, target_ppm · N_total div n_lang) — exact
    integer arithmetic (Spark `div` == DuckDB `//`), then the engine-
    identical md5-mod-1e6 keep hash (q47's scheme widened to ppm). The
    group-stats side collapses to a handful of rows broadcast back onto
    the corpus — at 100 TB the only full-data passes are the count and
    the filtered aggregate, both map-side combined."""
    div = "div" if dialect == "spark" else "//"
    if dialect == "spark":
        h = ("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), "
             "16, 10) AS BIGINT) % 1000000")
    else:
        h = ("CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) "
             "AS BIGINT) % 1000000")
    tgt = "CASE " + " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in
        sorted(MIX_TARGET_PPM.items())) + " ELSE 0 END"
    return f"""
WITH stats AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_orig,
         CAST(sum(count(*)) OVER () AS BIGINT) AS n_total
  FROM documents GROUP BY lang),
rates AS (
  SELECT lang, n_orig,
         least(CAST(1000000 AS BIGINT),
               CAST(({tgt}) * n_total {div} n_orig AS BIGINT)) AS keep_ppm
  FROM stats),
kept AS (
  SELECT d.lang, r.n_orig, r.keep_ppm,
         CASE WHEN {h} < r.keep_ppm THEN 1 ELSE 0 END AS keep
  FROM documents d JOIN rates r ON d.lang = r.lang)
SELECT lang, n_orig, keep_ppm, CAST(sum(keep) AS BIGINT) AS n_kept
FROM kept GROUP BY lang, n_orig, keep_ppm
"""


def q85_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    _docs(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(_mixture_sql("spark"))


def q85_sql() -> str:
    return _mixture_sql("duckdb")


# --------------------------------------------------------------------------
# q86 Count-Min-sketch heavy hitters — the frequency sketch completing the
# mergeable-sketch family (q74 quantiles, q78 cardinality, q81 membership):
# fixed d×m counter grid, est(key) = min over rows of its counter, never an
# underestimate. Keys are deterministically Zipf-skewed (2^20 div (md5 % 2^20
# + 1) — P(key=k) ~ 1/k(k+1)), because frequency sketches exist FOR skew:
# the uniform synthetic tables have no heavy hitters to find.
# --------------------------------------------------------------------------

Q86_M = 256            # buckets per row — small enough that collisions occur
Q86_D = 3              # rows (independent md5-salted hash functions)
Q86_HH_DIV = 50        # heavy hitter: est ≥ n_total div 50 (2 % of stream)


def _q86_key(dialect: str) -> str:
    """The Zipf key, exact integer arithmetic in both engines."""
    if dialect == "spark":
        h = ("CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 15), "
             "16, 10) AS BIGINT)")
        return f"(1048576 div (({h}) % 1048576 + 1))"
    h = ("CAST('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 15) "
         "AS BIGINT)")
    return f"(1048576 // (({h}) % 1048576 + 1))"


def q86_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters over the Zipf key stream. Build is ONE scan:
    each row explodes into d (row, bucket) structs (bucket = the bloom-
    family md5 position of the key, salted per row), then a map-side-
    combined groupBy — the sketch is d·m rows REGARDLESS of stream size,
    the whole point at 100 TB. Estimates: the d·m-row sketch broadcast-
    joins the per-key exact counts d times; est = least of the d counters.
    In-query contract column: est ≥ exact for EVERY key (CMS can only
    overestimate — deterministic for a fixed dataset, so the oracle
    reproduces it bit-for-bit, collisions included). Oracle formulation is
    independent: d-way UNION ALL scans, no explode.

    r6 (VERDICT r5): n_total is a 1-row count aggregate broadcast back
    (the q62/q91 scalar-dim shape) instead of ``sum(...) OVER ()`` — the
    window form funneled the whole per-key table through a single-
    partition exchange; the scalar join keeps every stage partitioned and
    computes the identical total (count of stream rows = Σ n_exact)."""
    from ..operators.bloom import position_expr
    ev = _events(spark, sf_dir).select(
        F.expr(_q86_key("spark")).alias("zkey"))
    kstr = "CAST(zkey AS STRING)"
    probes = F.array(*[
        F.struct(F.lit(i).alias("r"),
                 F.expr(position_expr(kstr, i, Q86_M)).alias("bucket"))
        for i in range(Q86_D)])
    sk = (ev.select(F.explode(probes).alias("p"))
          .groupBy(F.col("p.r").alias("r"), F.col("p.bucket").alias("bucket"))
          .agg(F.count(F.lit(1)).alias("cnt")))
    tot = ev.agg(F.count(F.lit(1)).alias("n_total"))
    exact = (ev.groupBy("zkey")
             .agg(F.count(F.lit(1)).alias("n_exact"))
             .crossJoin(F.broadcast(tot)))
    est = exact
    for i in range(Q86_D):
        ski = (sk.filter(F.col("r") == i)
               .select(F.col("bucket").alias(f"b{i}"),
                       F.col("cnt").alias(f"c{i}")))
        est = est.join(F.broadcast(ski),
                       F.expr(position_expr(kstr, i, Q86_M))
                       == F.col(f"b{i}"))
    cms = F.least(*[F.col(f"c{i}") for i in range(Q86_D)])
    return (est.select(
        F.col("zkey"), F.col("n_exact"),
        cms.alias("cms_est"),
        (cms >= F.col("n_exact")).alias("contract_ok"),
        F.col("n_total"))
        .filter(F.col("cms_est")
                >= F.expr(f"n_total div {Q86_HH_DIV}"))
        .drop("n_total"))


def q86_sql() -> str:
    from ..operators.bloom import position_expr
    pos = [position_expr("CAST(zkey AS VARCHAR)", i, Q86_M, "duckdb")
           for i in range(Q86_D)]
    rows = "\n  UNION ALL\n".join(
        f"  SELECT {i} AS r, {pos[i]} AS bucket FROM keyed"
        for i in range(Q86_D))
    joins = "\n".join(
        f"JOIN sk s{i} ON s{i}.r = {i} AND s{i}.bucket = {pos[i]}"
        for i in range(Q86_D))
    least = "least(" + ", ".join(f"s{i}.cnt" for i in range(Q86_D)) + ")"
    return f"""
WITH keyed AS (SELECT {_q86_key('duckdb')} AS zkey FROM events),
sk AS (
  SELECT r, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
{rows}
  ) GROUP BY r, bucket),
exact AS (
  SELECT zkey, CAST(count(*) AS BIGINT) AS n_exact,
         CAST(sum(count(*)) OVER () AS BIGINT) AS n_total
  FROM keyed GROUP BY zkey)
SELECT zkey, n_exact, {least} AS cms_est,
       {least} >= n_exact AS contract_ok
FROM exact
{joins}
WHERE {least} >= n_total // {Q86_HH_DIV}
"""


# --------------------------------------------------------------------------
# q87 contamination spans (gaps-and-islands): not just WHICH documents share
# benchmark 13-grams (q46) but the longest CONTIGUOUS contaminated run —
# one long verbatim quote reads very differently from scattered idiom hits.
# The islands trick (position − row_number is constant within a consecutive
# run) turns run detection into a plain groupBy.
# --------------------------------------------------------------------------

def _contam_spans_sql(dialect: str) -> str:
    if dialect == "spark":
        sh = (f"SELECT doc_id, p, substring(text, p, {CONTAM_NGRAM}) AS "
              f"shingle FROM documents LATERAL VIEW explode(sequence(1, "
              f"greatest(length(text) - {CONTAM_NGRAM - 1}, 1))) t AS p")
    else:
        sh = (f"SELECT doc_id, CAST(p AS BIGINT) AS p, substr(text, "
              f"CAST(p AS INTEGER), {CONTAM_NGRAM}) AS shingle "
              f"FROM documents, LATERAL (SELECT unnest(range(1, "
              f"greatest(length(text) - {CONTAM_NGRAM - 1}, 1) + 1)) "
              f"AS p) t")
    return f"""
WITH sh AS ({sh}),
probe AS (SELECT DISTINCT shingle FROM sh
          WHERE doc_id < {CONTAM_PROBE_DOCS}),
hits AS (
  SELECT s.doc_id, s.p,
         CAST(s.p - row_number() OVER (PARTITION BY s.doc_id ORDER BY s.p)
              AS BIGINT) AS isl
  FROM sh s JOIN probe USING (shingle)
  WHERE s.doc_id >= {CONTAM_PROBE_DOCS}),
runs AS (
  SELECT doc_id, isl, CAST(count(*) AS BIGINT) AS run_shingles
  FROM hits GROUP BY doc_id, isl)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_runs,
       CAST(max(run_shingles) AS BIGINT) AS max_run_shingles,
       CAST(max(run_shingles) + {CONTAM_NGRAM - 1} AS BIGINT)
         AS max_run_chars,
       CAST(sum(run_shingles) AS BIGINT) AS n_hit_positions
FROM runs GROUP BY doc_id
"""


def q87_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest contaminated run per corpus document: shingles explode
    map-side, the probe dim broadcasts (always small — it is the
    benchmark), ONE shuffle on doc_id shared by the row_number window and
    both groupBys (same key → Catalyst reuses the partitioning; no second
    exchange). At 100 TB this is q46's plan plus a window — the islands
    arithmetic is free."""
    _docs(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(_contam_spans_sql("spark"))


def q87_sql() -> str:
    return _contam_spans_sql("duckdb")


# --------------------------------------------------------------------------
# q88 retention cohort matrix: cohort = a user's first active day, cell
# (cohort, day-offset) = users from that cohort active that day — the
# classic activity-warehouse rollup. Day numbers derive from a TIMESTAMP
# DIFFERENCE (tz-invariant in both engines), not an absolute epoch.
# --------------------------------------------------------------------------

Q88_ANCHOR = "2024-01-01 00:00:00"


def _retention_sql(dialect: str) -> str:
    if dialect == "spark":
        day = (f"CAST((unix_timestamp(ts) - unix_timestamp(TIMESTAMP "
               f"'{Q88_ANCHOR}')) div 86400 AS BIGINT)")
    else:
        day = (f"CAST(date_diff('second', TIMESTAMP '{Q88_ANCHOR}', ts) "
               f"// 86400 AS BIGINT)")
    return f"""
WITH act AS (
  SELECT DISTINCT user_id, {day} AS day FROM events),
coh AS (
  SELECT user_id, min(day) AS day0 FROM act GROUP BY user_id),
sizes AS (
  SELECT day0, CAST(count(*) AS BIGINT) AS cohort_size
  FROM coh GROUP BY day0),
cells AS (
  SELECT c.day0, a.day - c.day0 AS offset_days,
         CAST(count(*) AS BIGINT) AS n_active
  FROM act a JOIN coh c ON a.user_id = c.user_id
  GROUP BY c.day0, a.day - c.day0)
SELECT cells.day0 AS cohort_day, offset_days, n_active, cohort_size
FROM cells JOIN sizes ON cells.day0 = sizes.day0
"""


def q88_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention matrix over the event stream. The distinct, the cohort
    min, and the activity join all key on user_id — one shuffle
    partitioning reused end-to-end; the (day0 → cohort_size) dim is a
    ≤ |days| row broadcast. Day arithmetic is a timestamp difference
    floor-divided in integer seconds: exact, and independent of session
    timezone in BOTH engines (an absolute epoch day is not)."""
    _events(spark, sf_dir).createOrReplaceTempView("events")
    return spark.sql(_retention_sql("spark"))


def q88_sql() -> str:
    return _retention_sql("duckdb")


# --------------------------------------------------------------------------
# q89 SCD type-2 interval build: collapse each user's event-type stream
# into validity intervals [valid_from, valid_to) that change exactly when
# the attribute changes — the slowly-changing-dimension construction every
# warehouse load runs, and the inverse of q57's as-of probe.
# --------------------------------------------------------------------------

def _scd2_sql(dialect: str) -> str:
    # microseconds RELATIVE to the anchor: parquet timestamps load as
    # TIMESTAMP_NTZ in Spark (no unix_micros overload) and an absolute
    # epoch would shift with session timezone anyway — the difference of
    # two same-kind casts is invariant in both engines.
    if dialect == "spark":
        us = ("(unix_micros(CAST(ts AS TIMESTAMP)) - unix_micros(CAST("
              f"TIMESTAMP_NTZ '{Q88_ANCHOR}' AS TIMESTAMP)))")
    else:
        us = (f"(epoch_us(ts) - epoch_us(TIMESTAMP '{Q88_ANCHOR}'))")
    return f"""
WITH ordered AS (
  SELECT user_id, event_type, CAST({us} AS BIGINT) AS ts_us, event_id,
         lag(event_type) OVER w AS prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
flagged AS (
  SELECT user_id, event_type, ts_us,
         CAST(sum(CASE WHEN prev IS NULL OR prev <> event_type
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS grp
  FROM ordered),
runs AS (
  SELECT user_id, grp, min(event_type) AS event_type,
         CAST(min(ts_us) AS BIGINT) AS valid_from_us,
         CAST(count(*) AS BIGINT) AS n_events
  FROM flagged GROUP BY user_id, grp)
SELECT user_id, event_type, valid_from_us,
       lead(valid_from_us) OVER (PARTITION BY user_id
                                 ORDER BY valid_from_us) AS valid_to_us,
       n_events
FROM runs
"""


def q89_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals via change-detection windows: lag flags a
    change, a running sum numbers the runs, a groupBy collapses them, lead
    closes each interval with the next one's start (NULL = still
    current). Every window and the groupBy partition on user_id — one
    exchange total; event_id tie-breaks equal timestamps so run numbering
    is a total order in both engines. Timestamps stay exact integer
    microseconds end-to-end."""
    _events(spark, sf_dir).createOrReplaceTempView("events")
    return spark.sql(_scd2_sql("spark"))


def q89_sql() -> str:
    return _scd2_sql("duckdb")


# --------------------------------------------------------------------------
# q90 sequence packing: concatenate the corpus in doc_id order and split it
# into fixed-length training sequences (the LLM batch-assembly step — every
# pretraining pipeline runs exactly this before writing shards). A document
# whose token span crosses a sequence boundary is SPLIT across consecutive
# sequences; output is one row per (sequence, document) fragment. All-integer
# window/offset arithmetic — hash-identical across engines.
# --------------------------------------------------------------------------

Q90_SEQ_LEN = 128       # tokens per packed training sequence
# docs per offset bucket (the scalable-cumsum unit). 2^20 bounds BOTH
# levels at web scale: 10^12 docs -> a ~10^6-row bucket table through the
# one SinglePartition sort (a few MB) and <= 2^20-row within-bucket window
# partitions. The produced integers are identical for ANY bucket size —
# the constant only shapes the plan.
Q90_BUCKET = 1 << 20


def _packing_sql(dialect: str) -> str:
    if dialect == "spark":
        ntok = "CAST(size(split(text, ' ')) AS BIGINT)"
        idiv = "div"
        lat = ("LATERAL VIEW explode(sequence(start_tok div "
               f"{Q90_SEQ_LEN}, (end_tok - 1) div {Q90_SEQ_LEN})) t "
               "AS seq_id")
    else:
        ntok = "CAST(len(string_split(text, ' ')) AS BIGINT)"
        idiv = "//"
        lat = (", LATERAL (SELECT unnest(range(start_tok // "
               f"{Q90_SEQ_LEN}, (end_tok - 1) // {Q90_SEQ_LEN} + 1)) "
               "AS seq_id) t")
    # the SPARK side computes the global running offset in two phases
    # (per-bucket totals -> tiny bucket-offset table -> within-bucket
    # window) so no stage ever sees a single global-order partition; the
    # oracle uses the direct global window — identical integers.
    if dialect == "spark":
        offsets = f"""
d AS (SELECT doc_id, {ntok} AS n_tok FROM documents),
b AS (SELECT doc_id, n_tok, doc_id {idiv} {Q90_BUCKET} AS bkt FROM d),
btot AS (SELECT bkt, CAST(sum(n_tok) AS BIGINT) AS tot
         FROM b GROUP BY bkt),
boff AS (SELECT bkt, CAST(sum(tot) OVER (ORDER BY bkt
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tot
           AS BIGINT) AS bk_off FROM btot),
c AS (SELECT b.doc_id, b.n_tok,
        boff.bk_off + CAST(sum(b.n_tok) OVER (PARTITION BY b.bkt
          ORDER BY b.doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - b.n_tok
          AS BIGINT) AS start_tok
      FROM b JOIN boff ON b.bkt = boff.bkt)"""
    else:
        offsets = f"""
d AS (SELECT doc_id, {ntok} AS n_tok FROM documents),
c AS (SELECT doc_id, n_tok,
        CAST(sum(n_tok) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
          AS BIGINT) AS start_tok
      FROM d)"""
    return f"""
WITH {offsets},
spans AS (SELECT doc_id, n_tok, start_tok,
                 start_tok + n_tok AS end_tok
          FROM c WHERE n_tok > 0)
SELECT seq_id, doc_id,
       CAST(greatest(start_tok, seq_id * {Q90_SEQ_LEN}) AS BIGINT)
         AS frag_start,
       CAST(least(end_tok, (seq_id + 1) * {Q90_SEQ_LEN})
            - greatest(start_tok, seq_id * {Q90_SEQ_LEN}) AS BIGINT)
         AS frag_tokens
FROM spans {lat}
"""


def q90_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length sequence packing with document splits. The global
    token offset is the scalable two-phase cumulative sum: per-bucket
    totals (map-side combined), a window over the SMALL bucket table
    (≤ n/2^20 rows — ~10^6 at 10^12 docs, a few MB through its one
    SinglePartition sort), and a window partitioned by bucket (≤ 2^20
    rows per partition) — no stage ever runs a global-order window over
    the corpus (a bare ``OVER (ORDER BY ...)`` executes in ONE task; at
    10^12 docs that is the whole job serialized through one executor).
    The oracle computes the same integers with the direct global window
    DuckDB can afford at fixture scale."""
    _docs(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(_packing_sql("spark"))


def q90_sql() -> str:
    return _packing_sql("duckdb")


# --------------------------------------------------------------------------
# q91 PMI co-occurring term pairs: which vocabulary pairs co-occur in
# documents far above chance — the association-mining signal used for
# phrase detection and topic seeds. PMI ordering is computed as the exact
# integer (c_ab·N·10^6) div (c_a·c_b) — the log is monotone in the ratio,
# so ranking needs no float anywhere.
# --------------------------------------------------------------------------

Q91_MIN_LEN = 4         # drop short function-ish tokens
Q91_MIN_PAIRS = 5       # report pairs co-occurring in >= 5 docs
# fail-fast scale guard (VERDICT r5): the within-doc pair self-join is
# quadratic in per-doc DISTINCT terms — one 10^5-term document is a
# 10^10-row single-key straggler at 100 TB. The guard raises (Spark side
# only; results on conforming corpora are unchanged and the oracle text
# is untouched) instead of silently melting; corpora that legitimately
# exceed it should pre-cap terms per doc upstream (the LSH hot-bucket
# defense pattern).
Q91_MAX_TERMS_PER_DOC = 100_000


def _pmi_sql(dialect: str) -> str:
    if dialect == "spark":
        # per-doc distinct-term guard folded into an evaluated filter
        # (Catalyst keeps raise_error; the count window rides the same
        # doc_id partitioning the pair join needs anyway)
        w = ("SELECT doc_id, word FROM ("
             "SELECT doc_id, word, "
             "count(1) OVER (PARTITION BY doc_id) AS n_terms "
             "FROM (SELECT DISTINCT doc_id, word FROM documents "
             "LATERAL VIEW explode(split(text, ' ')) t AS word "
             f"WHERE length(word) >= {Q91_MIN_LEN})) "
             f"WHERE CASE WHEN n_terms <= {Q91_MAX_TERMS_PER_DOC} "
             "THEN true ELSE CAST(raise_error(concat('q91: a document "
             "has ', CAST(n_terms AS STRING), ' distinct terms — the "
             "within-doc pair join would go quadratic; cap terms per "
             "doc upstream')) AS BOOLEAN) END")
        idiv = "div"
    else:
        w = ("SELECT DISTINCT doc_id, word FROM (SELECT doc_id, "
             "unnest(string_split(text, ' ')) AS word FROM documents) "
             f"WHERE length(word) >= {Q91_MIN_LEN}")
        idiv = "//"
    return f"""
WITH w AS ({w}),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
cw AS (SELECT word, CAST(count(*) AS BIGINT) AS c_w FROM w GROUP BY word),
pairs AS (
  SELECT a.word AS t1, b.word AS t2, CAST(count(*) AS BIGINT) AS c_ab
  FROM w a JOIN w b ON a.doc_id = b.doc_id AND a.word < b.word
  GROUP BY a.word, b.word)
SELECT t1, t2, c_ab, ca.c_w AS c_a, cb.c_w AS c_b,
       CAST((c_ab * n_docs * 1000000) {idiv} (ca.c_w * cb.c_w) AS BIGINT)
         AS pmi_q
FROM pairs
JOIN cw ca ON pairs.t1 = ca.word
JOIN cw cb ON pairs.t2 = cb.word
CROSS JOIN n
WHERE c_ab >= {Q91_MIN_PAIRS}
"""


def q91_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI term-pair mining. The per-doc DISTINCT and the within-doc
    self-join both key on doc_id (one partitioning reused); the term-count
    join sides are vocabulary-bounded (broadcastable at any corpus size —
    web vocabularies are millions of rows, not corpus-sized), and the
    integer cross-multiplied PMI avoids log() entirely (the ranking is
    order-isomorphic). Pair fan-out is quadratic in per-doc DISTINCT
    terms, bounded by document length — cap terms per doc upstream for
    adversarial inputs (the LSH hot-bucket defense pattern)."""
    _docs(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(_pmi_sql("spark"))


def q91_sql() -> str:
    return _pmi_sql("duckdb")


# --------------------------------------------------------------------------
# q92 passage-level dedup: dedup at sub-document granularity — split every
# document into consecutive W-word passages, find passages whose exact text
# recurs anywhere in the corpus, and report per-document duplication. This
# is the boilerplate-removal stage of a curation pipeline (page chrome,
# licence blocks, templated intros recur across pages; whole-doc dedup
# misses them).
# --------------------------------------------------------------------------

Q92_W = 10              # words per passage chunk
# packed first-occurrence key span (VERDICT r5): doc_id·SPAN + chunk_idx
# is a valid total order only while chunk_idx < SPAN — a >10M-word
# document would silently corrupt the min. The Spark side guards the
# bound in-expression (raise_error folded into the produced key value so
# Catalyst cannot prune it); the oracle text keeps the plain literal.
Q92_KEY_SPAN = 1_000_000


def _passage_sql(dialect: str) -> str:
    if dialect == "spark":
        wrds = "SELECT doc_id, split(text, ' ') AS ws FROM documents"
        chunk = (f"array_join(slice(ws, i * {Q92_W} + 1, {Q92_W}), ' ')")
        lat = (f"LATERAL VIEW explode(sequence(0, CAST(ceil(size(ws) "
               f"/ {Q92_W}.0) AS BIGINT) - 1)) t AS i")
        idiv = "div"
        # packed-key bound enforced in the VALUE (Q92_KEY_SPAN comment)
        cidx = (f"CASE WHEN i < {Q92_KEY_SPAN} THEN CAST(i AS BIGINT) "
                f"ELSE CAST(raise_error('q92: chunk_idx >= "
                f"{Q92_KEY_SPAN} overflows the packed first-occurrence "
                f"key — split the document or widen the key') "
                f"AS BIGINT) END")
    else:
        wrds = ("SELECT doc_id, string_split(text, ' ') AS ws "
                "FROM documents")
        chunk = (f"array_to_string(list_slice(ws, i * {Q92_W} + 1, "
                 f"i * {Q92_W} + {Q92_W}), ' ')")
        lat = (f", LATERAL (SELECT unnest(range(0, CAST(ceil(len(ws) "
               f"/ {Q92_W}.0) AS BIGINT))) AS i) t")
        idiv = "//"
        cidx = "CAST(i AS BIGINT)"
    return f"""
WITH wrds AS ({wrds}),
ch AS (SELECT doc_id, {cidx} AS chunk_idx,
              md5({chunk}) AS h
       FROM wrds {lat}),
firsts AS (SELECT h, min(doc_id * {Q92_KEY_SPAN} + chunk_idx) AS first_key
           FROM ch GROUP BY h)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN doc_id * {Q92_KEY_SPAN} + chunk_idx <> first_key
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(sum(CASE WHEN doc_id * {Q92_KEY_SPAN} + chunk_idx <> first_key
                     THEN 1 ELSE 0 END) * 1000000 {idiv} count(*)
            AS BIGINT) AS dup_ppm
FROM ch JOIN firsts USING (h)
GROUP BY doc_id
"""


def q92_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-chunk dedup: chunks explode map-side (W-word slices of the
    split array — no re-tokenization per chunk), first-occurrence per
    hash is a map-side-combined min over the packed (doc_id, idx) key,
    and the verdict join + per-doc rollup share the hash/doc partitions.
    At 100 TB the state is |distinct passages| × 16-byte digests — the
    exact-dedup plan (q14) at passage granularity. The packed key bounds:
    chunk_idx < 10^6 per doc by construction (documents are bounded;
    enforce upstream for pathological inputs)."""
    _docs(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(_passage_sql("spark"))


def q92_sql() -> str:
    return _passage_sql("duckdb")


# --------------------------------------------------------------------------
# q93 bigram likelihood-ratio surprise: a corpus-trained bigram language
# model scores every document by how "surprising" its word transitions are
# — the fluency/quality signal (boilerplate scores low, word salad high).
# surprise(w1 w2) = (count(w1 ·)·1000) div count(w1 w2): the exact-integer
# inverse conditional probability — summing it per document ranks documents
# by mean transition unlikelihood with no log()/float anywhere.
# --------------------------------------------------------------------------

def _surprise_sql(dialect: str) -> str:
    if dialect == "spark":
        wrds = "SELECT doc_id, split(text, ' ') AS ws FROM documents"
        lat = "LATERAL VIEW explode(sequence(1, size(ws) - 1)) t AS i"
        el = "element_at(ws, CAST(i AS INT))"
        el2 = "element_at(ws, CAST(i AS INT) + 1)"
        guard = "size(ws) >= 2"
        idiv = "div"
    else:
        wrds = ("SELECT doc_id, string_split(text, ' ') AS ws "
                "FROM documents")
        lat = (", LATERAL (SELECT unnest(range(1, len(ws))) AS i) t")
        el = "ws[CAST(i AS INTEGER)]"
        el2 = "ws[CAST(i AS INTEGER) + 1]"
        guard = "len(ws) >= 2"
        idiv = "//"
    return f"""
WITH wrds AS ({wrds}),
bg AS (SELECT doc_id, {el} AS w1, concat({el}, ' ', {el2}) AS big
       FROM wrds {lat} WHERE {guard}),
cb AS (SELECT big, CAST(count(*) AS BIGINT) AS c_big FROM bg GROUP BY big),
cp AS (SELECT w1, CAST(count(*) AS BIGINT) AS c_pre FROM bg GROUP BY w1)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum((c_pre * 1000) {idiv} c_big) AS BIGINT) AS surprise_q
FROM bg
JOIN cb USING (big)
JOIN cp USING (w1)
GROUP BY doc_id
"""


def q93_bigram_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM surprise scoring. Model build = two map-side-combined
    groupBys over the exploded bigram stream; scoring joins the
    vocabulary-bounded count tables back (broadcastable — bigram
    vocabularies are bounded by language, not corpus size) and rolls up
    per doc_id. The integer ratio (c_pre·1000) div c_big is order-
    isomorphic to -log P(w2|w1) per transition — exact in both engines
    (the JVM-vs-libm 1-ulp ln() hazard never arises)."""
    _docs(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(_surprise_sql("spark"))


def q93_sql() -> str:
    return _surprise_sql("duckdb")


# --------------------------------------------------------------------------
# q94 BPE tokenization: a real trained tokenizer over the corpus — merges
# trained on a bounded pinned sample (the IVF/SemDeDup recipe; production
# tokenizers are sample-trained too), application distributed as one
# Arrow-batched map with the KB-scale merge table in the closure. The
# golden replays the identical pure-Python/NumPy kernels driver-side
# (q49's pattern — pins the distributed path; the algorithm itself is
# pinned independently by hand-computed cases in tests/test_bpe.py).
# --------------------------------------------------------------------------

Q94_MERGES = 64


def q94_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE token stats under a corpus-trained vocabulary:
    n_bpe_tokens, n_bpe_distinct, and the integer compression ratio
    (chars·10⁶ div tokens — the signal quality filters threshold on:
    word salad compresses badly). No shuffle in the apply; training reads
    `orderBy(doc_id).limit` (pinned membership AND order)."""
    from ..operators.bpe import bpe_token_stats, bpe_train_on_df
    d = _docs(spark, sf_dir)
    merges = bpe_train_on_df(d, Q94_MERGES)
    return (bpe_token_stats(d, merges)
            .select(
                "doc_id",
                F.col("_bpe.n_bpe_tokens").cast("bigint")
                .alias("n_bpe_tokens"),
                F.col("_bpe.n_bpe_distinct").cast("bigint")
                .alias("n_bpe_distinct"),
                F.expr("CAST(n_chars * 1000000 div _bpe.n_bpe_tokens "
                       "AS BIGINT)").alias("compression_ppm")))


# --------------------------------------------------------------------------
# q95 deterministic shard shuffle: the global-shuffle-then-shard step every
# pretraining pipeline runs before writing sequence shards — a seeded
# pseudorandom order that is REPRODUCIBLE (md5 of the id, not rand()),
# sharded so the ordering window partitions by shard (never a global-order
# window; the q90 lesson applies to ordering too).
# --------------------------------------------------------------------------

Q95_SHARDS = 8


def _shard_shuffle_sql(dialect: str) -> str:
    if dialect == "spark":
        h = "CAST(conv(substring(k, 1, 8), 16, 10) AS BIGINT)"
    else:
        h = "CAST('0x' || substring(k, 1, 8) AS BIGINT)"
    return f"""
WITH keyed AS (
  SELECT doc_id, md5(CAST(doc_id AS {'STRING' if dialect == 'spark'
                                     else 'VARCHAR'})) AS k
  FROM documents),
sharded AS (
  SELECT doc_id, k, {h} % {Q95_SHARDS} AS shard FROM keyed)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
            AS BIGINT) AS pos,
       doc_id
FROM sharded
"""


def q95_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible corpus shuffle into training shards: order = md5 of
    the id (seeded pseudorandomness a re-run reproduces — ``rand()``
    does not survive retries or engine changes), shard = leading hash
    bits, position = rank WITHIN the shard. The window partitions by
    shard, so at 10^12 docs each ordering task sees n/shards rows and
    shard count is the parallelism knob; a global-order shuffle (ORDER
    BY k alone) would serialize through one task. doc_id tie-break makes
    the order total."""
    _docs(spark, sf_dir).createOrReplaceTempView("documents")
    return spark.sql(_shard_shuffle_sql("spark"))


def q95_sql() -> str:
    return _shard_shuffle_sql("duckdb")


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q01_buffered_stats": q01_buffered_stats,
    "q02_hex_cells": q02_hex_cells,
    "q03_square_cells": q03_square_cells,
    "q04_point_sample": q04_point_sample,
    "q05_point_sample_nearest": q05_point_sample_nearest,
    "q06_knn": q06_knn,
    "q07_pip_counts": q07_pip_counts,
    "q08_pip_by_lang": q08_pip_by_lang,
    "q09_radius_count": q09_radius_count,
    "q10_events_filter_agg": q10_events_filter_agg,
    "q11_wind_speed": q11_wind_speed,
    "q12_year_regex": q12_year_regex,
    "q13_codec_linear": q13_codec_linear,
    "q14_exact_dedup": q14_exact_dedup,
    "q15_token_quality": q15_token_quality,
    "q16_minhash": q16_minhash,
    "q17_lsh_pairs": q17_lsh_pairs,
    "q18_cosine_topk": q18_cosine_topk,
    "q19_lineitem_agg": q19_lineitem_agg,
    "q20_events_hourly": q20_events_hourly,
    "q21_hex_rollup": q21_hex_rollup,
    "q22_lang_id": q22_lang_id,
    "q23_simhash_nn": q23_simhash_nn,
    "q24_ann_lsh": q24_ann_lsh,
    "q25_semi_join": q25_semi_join,
    "q26_anti_join": q26_anti_join,
    "q27_knn_top3": q27_knn_top3,
    "q28_topk_quality": q28_topk_quality,
    "q29_union_distinct": q29_union_distinct,
    "q30_s2_cells": q30_s2_cells,
    "q31_multimodal_features": q31_multimodal_features,
    "q32_jaccard_pairs": q32_jaccard_pairs,
    "q33_convolve_gather": q33_convolve_gather,
    "q34_polygon_zonal": q34_polygon_zonal,
    "q35_lines_in_radius": q35_lines_in_radius,
    "q36_lang_id_expr": q36_lang_id_expr,
    "q37_embedding_neardup": q37_embedding_neardup,
    "q38_running_totals": q38_running_totals,
    "q39_simhash_md5": q39_simhash_md5,
    "q40_simhash_pairs": q40_simhash_pairs,
    "q41_ann_ivf": q41_ann_ivf,
    "q42_convolve_all_gather": q42_convolve_all_gather,
    "q43_ring_sample_mean": q43_ring_sample_mean,
    "q44_real_raster_zonal": q44_real_raster_zonal,
    "q45_quality_rules": q45_quality_rules,
    "q46_contamination": q46_contamination,
    "q47_stratified_sample": q47_stratified_sample,
    "q48_rds_point_sample": q48_rds_point_sample,
    "q49_h3_cells": q49_h3_cells,
    "q50_two_crs_focal": q50_two_crs_focal,
    "q51_geocode_crs_pixel": q51_geocode_crs_pixel,
    "q52_h3_kring_smooth": q52_h3_kring_smooth,
    "q53_training_pipeline": q53_training_pipeline,
    "q54_html_extract": q54_html_extract,
    "q55_warc_ingest": q55_warc_ingest,
    "q56_url_canonicalize": q56_url_canonicalize,
    "q57_asof_join": q57_asof_join,
    "q58_repetition_signals": q58_repetition_signals,
    "q59_ann_ivfpq": q59_ann_ivfpq,
    "q60_web_tiles": q60_web_tiles,
    "q61_geohash_cells": q61_geohash_cells,
    "q62_bm25_topk": q62_bm25_topk,
    "q63_sessionize": q63_sessionize,
    "q64_salted_host_rollup": q64_salted_host_rollup,
    "q65_zorder_cells": q65_zorder_cells,
    "q66_overview_pyramid": q66_overview_pyramid,
    "q67_pagerank": q67_pagerank,
    "q68_dedup_components": q68_dedup_components,
    "q69_rollup_cube": q69_rollup_cube,
    "q70_anti_join": q70_anti_join,
    "q71_percentiles": q71_percentiles,
    "q72_editdist_verify": q72_editdist_verify,
    "q73_dedup_groups_scaled": q73_dedup_groups_scaled,
    "q74_approx_percentile_check": q74_approx_percentile_check,
    "q75_range_join": q75_range_join,
    "q76_winnow_fingerprints": q76_winnow_fingerprints,
    "q77_interval_overlap": q77_interval_overlap,
    "q78_hll_distinct_check": q78_hll_distinct_check,
    "q79_gap_fill": q79_gap_fill,
    "q80_tfidf_topk": q80_tfidf_topk,
    "q81_bloom_contamination": q81_bloom_contamination,
    "q82_pii_scan": q82_pii_scan,
    "q83_triangle_counts": q83_triangle_counts,
    "q84_semantic_dedup": q84_semantic_dedup,
    "q85_domain_mixture": q85_domain_mixture,
    "q86_cms_heavy_hitters": q86_cms_heavy_hitters,
    "q87_contamination_spans": q87_contamination_spans,
    "q88_retention_cohorts": q88_retention_cohorts,
    "q89_scd2_intervals": q89_scd2_intervals,
    "q90_sequence_packing": q90_sequence_packing,
    "q91_pmi_pairs": q91_pmi_pairs,
    "q92_passage_dedup": q92_passage_dedup,
    "q93_bigram_surprise": q93_bigram_surprise,
    "q94_bpe_tokenize": q94_bpe_tokenize,
    "q95_shard_shuffle": q95_shard_shuffle,
}

# --------------------------------------------------------------------------
# golden-parquet oracles (r3): queries DuckDB cannot express directly are
# paired with committed expected tables computed INDEPENDENTLY by
# tools/make_golden.py (brute-force / numpy / source-array paths — see that
# module's independence notes). The sf-dependent goldens (q23/q24/q30/q41)
# are pinned to the driver's correctness scale, sf0.01.
# --------------------------------------------------------------------------

GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "golden")


def _golden_sql(name: str) -> str:
    return f"SELECT * FROM read_parquet('{GOLDEN_DIR}/{name}.parquet')"


ORACLES: dict[str, str] = {
    "q01_buffered_stats": q01_sql(),
    "q02_hex_cells": q02_sql(),
    "q03_square_cells": q03_sql(),
    "q04_point_sample": q04_sql(),
    "q05_point_sample_nearest": q05_sql(),
    "q06_knn": q06_sql(),
    "q07_pip_counts": q07_sql(),
    "q08_pip_by_lang": q08_sql(),
    "q09_radius_count": q09_sql(),
    "q10_events_filter_agg": q10_sql(),
    "q11_wind_speed": q11_sql(),
    "q12_year_regex": q12_sql(),
    "q13_codec_linear": q13_sql(),
    "q14_exact_dedup": q14_sql(),
    "q15_token_quality": q15_sql(),
    "q16_minhash": q16_sql(),
    "q17_lsh_pairs": q17_sql(),
    "q18_cosine_topk": q18_sql(),
    "q19_lineitem_agg": q19_sql(),
    "q20_events_hourly": q20_sql(),
    "q21_hex_rollup": q21_sql(),
    "q25_semi_join": q25_sql(),
    "q26_anti_join": q26_sql(),
    "q27_knn_top3": q27_sql(),
    "q28_topk_quality": q28_sql(),
    "q29_union_distinct": q29_sql(),
    "q32_jaccard_pairs": q32_sql(),
    "q33_convolve_gather": q33_sql(),
    "q34_polygon_zonal": q34_sql(),
    "q35_lines_in_radius": q35_sql(),
    "q36_lang_id_expr": q36_sql(),
    "q37_embedding_neardup": q37_sql(),
    "q38_running_totals": q38_sql(),
    "q39_simhash_md5": q39_sql(),
    "q40_simhash_pairs": q40_sql(),
    "q42_convolve_all_gather": q42_sql(),
    "q43_ring_sample_mean": q43_sql(),
    "q45_quality_rules": q45_sql(),
    "q46_contamination": q46_sql(),
    "q47_stratified_sample": q47_sql(),
    # q22's Arrow lang-id kernel implements the SAME heuristic as q36's
    # Catalyst expression — q36's pure-SQL oracle is therefore a genuine
    # independent cross-implementation for the kernel too
    "q22_lang_id": q36_sql(),
    "q23_simhash_nn": _golden_sql("q23_simhash_nn"),
    "q24_ann_lsh": _golden_sql("q24_ann_lsh"),
    "q30_s2_cells": _golden_sql("q30_s2_cells"),
    "q31_multimodal_features": _golden_sql("q31_multimodal_features"),
    "q41_ann_ivf": _golden_sql("q41_ann_ivf"),
    "q44_real_raster_zonal": _golden_sql("q44_real_raster_zonal"),
    "q48_rds_point_sample": _golden_sql("q48_rds_point_sample"),
    "q49_h3_cells": _golden_sql("q49_h3_cells"),
    "q50_two_crs_focal": _golden_sql("q50_two_crs_focal"),
    "q51_geocode_crs_pixel": _golden_sql("q51_geocode_crs_pixel"),
    "q52_h3_kring_smooth": _golden_sql("q52_h3_kring_smooth"),
    "q53_training_pipeline": q53_sql(),
    "q54_html_extract": _golden_sql("q54_html_extract"),
    "q55_warc_ingest": _golden_sql("q55_warc_ingest"),
    "q56_url_canonicalize": q56_sql(),
    "q57_asof_join": q57_sql(),
    "q58_repetition_signals": q58_sql(),
    "q59_ann_ivfpq": _golden_sql("q59_ann_ivfpq"),
    "q60_web_tiles": q60_sql(),
    "q61_geohash_cells": _golden_sql("q61_geohash_cells"),
    "q62_bm25_topk": _bm25_sql("duckdb"),
    "q63_sessionize": _sessionize_sql("duckdb"),
    "q64_salted_host_rollup": q64_sql(),
    "q65_zorder_cells": q65_sql(),
    "q66_overview_pyramid": _golden_sql("q66_overview_pyramid"),
    "q67_pagerank": _golden_sql("q67_pagerank"),
    "q68_dedup_components": q68_sql(),
    "q69_rollup_cube": q69_sql(),
    "q70_anti_join": q70_sql(),
    "q71_percentiles": q71_sql(),
    "q72_editdist_verify": q72_sql(),
    "q73_dedup_groups_scaled": q73_sql(),
    "q74_approx_percentile_check": q74_sql(),
    "q75_range_join": q75_sql(),
    "q76_winnow_fingerprints": q76_sql(),
    "q77_interval_overlap": q77_sql(),
    "q78_hll_distinct_check": q78_sql(),
    "q79_gap_fill": q79_sql(),
    "q80_tfidf_topk": q80_sql(),
    "q81_bloom_contamination": q81_sql(),
    "q82_pii_scan": q82_sql(),
    "q83_triangle_counts": q83_sql(),
    "q84_semantic_dedup": _golden_sql("q84_semantic_dedup"),
    "q85_domain_mixture": q85_sql(),
    "q86_cms_heavy_hitters": q86_sql(),
    "q87_contamination_spans": q87_sql(),
    "q88_retention_cohorts": q88_sql(),
    "q89_scd2_intervals": q89_sql(),
    "q90_sequence_packing": q90_sql(),
    "q91_pmi_pairs": q91_sql(),
    "q92_passage_dedup": q92_sql(),
    "q93_bigram_surprise": q93_sql(),
    "q94_bpe_tokenize": _golden_sql("q94_bpe_tokenize"),
    "q95_shard_shuffle": q95_sql(),
}
