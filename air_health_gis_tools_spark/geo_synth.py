"""Deterministic synthetic geometry — single source of truth for BOTH engines.

The driver verifies every query by running the Spark DataFrame plan against a
DuckDB oracle and hashing values. To make the *spatial* operators (cell
assignment, buffered zonal stats, kNN, point-in-polygon) fully verifiable —
not just rows-only — every geometric input is an EXACT integer-arithmetic
function of the testdata tables' integer keys:

- points   (x, y)  = f(doc_id)          — 20 % clustered into 5 urban hotspots
                                          to exercise skew (FIXTURES.md §1)
- monitors (x, y)  = f(monitor_id)      — kNN targets (FIXTURES.md §4)
- polygons (cx, cy, radius) = f(poly_id)— circular exposure buffers, mirroring
                                          the reference's ``st_buffer`` polygons
                                          (reference: ``Examples/ExamplesOriginal/
                                          Generate Codes for Artemis - Active
                                          Fires.R:27``)
- raster   v(row, col)                  — integer-valued with ~25 % nodata,
                                          mirroring the ABS population grid
                                          fixture (reference:
                                          ``data/apg18e_1_0_0_20210512.tfw:1-6``,
                                          nodata fraction per ``.aux.xml:13``)

All arithmetic stays in int64 (products < 2^53 where they ever touch doubles),
so Spark and DuckDB produce bit-identical results regardless of evaluation
order. Floats appear only as (a) exact-integer-valued doubles and (b) a single
correctly-rounded ``sqrt`` — both IEEE-deterministic across engines.

Coordinate frame: planar meters (EPSG:3577-like Albers, per the reference's
grids — ``Examples/ExamplesOriginal/Wind extract.R:6-8``), offset to the
positive quadrant so floor division == truncation in every dialect.
"""

from __future__ import annotations

# --- raster / extent constants (mirror data/apg18e_1_0_0_20210512.tfw) -----
XRES = 1000          # meters per pixel (reference: 1000 m ABS grid)
RASTER_W = 4096      # pixels (cols)
RASTER_H = 4096      # pixels (rows)
MARGIN_PX = 16       # points stay >= 16 px from the edge: max 10 km buffer
MARGIN_M = MARGIN_PX * XRES
SPAN = (RASTER_W - 2 * MARGIN_PX) * XRES  # 4_064_000

NODATA_MOD = 4       # (row*31 + col*17) % 4 == 0  -> nodata (~25 % invalid)
VALUE_MOD = 10_000   # v(row,col) = (row*7919 + col*104729) % 10000

# canonical buffer radii (reference README.md:78-81)
BUFFERS_M = (700, 1_000, 10_000)

# hex pitch per resolution: w ~ edge spacing, h ~ w*sqrt(3); aperture-7-ish
# scaling between consecutive resolutions (H3-style res 7..9)
HEX_PITCH = {7: (1000, 1732), 8: (378, 655), 9: (143, 248)}
HEX_RES_SHIFT = 58   # cell id = res<<58 | i<<29 | j
HEX_I_SHIFT = 29

# kNN defaults
KNN_BOUND_M = 50_000     # distance_upper_bound (reference coregPoint,
                         # Archived_scripts/exploration.ipynb)
N_MONITORS = 200

# PIP polygons
N_POLYS = 50


def _div(a: str, b: int, dialect: str) -> str:
    """Integer floor division (positive operands) in either dialect."""
    if dialect == "spark":
        return f"(({a}) DIV {b})"
    return f"(({a}) // {b})"


# --------------------------------------------------------------------------
# point / monitor / polygon coordinate derivations
# --------------------------------------------------------------------------

def point_xy_sql(id_expr: str, dialect: str) -> tuple[str, str]:
    """(x, y) int64 meters for a page/document id. 20 % cluster into 5
    hotspots (FIXTURES.md §1 skew requirement)."""
    c = f"(({id_expr}) % 5)"  # cluster index for the clustered 20 %
    step = SPAN // 11
    cx = f"({MARGIN_M} + (2*{c} + 1) * {step})"
    cy = f"({MARGIN_M} + (2*(({c}*3 + 1) % 5) + 1) * {step})"
    xu = f"({MARGIN_M} + (({id_expr}) * 48271 + 11) % {SPAN})"
    yu = f"({MARGIN_M} + (({id_expr}) * 16807 + 23) % {SPAN})"
    xc = f"({cx} + (({id_expr}) * 104729 + 7) % 40001 - 20000)"
    yc = f"({cy} + (({id_expr}) * 7919 + 3) % 40001 - 20000)"
    x = f"(CASE WHEN ({id_expr}) % 5 = 0 THEN {xc} ELSE {xu} END)"
    y = f"(CASE WHEN ({id_expr}) % 5 = 0 THEN {yc} ELSE {yu} END)"
    return x, y


def monitor_xy_sql(id_expr: str, dialect: str) -> tuple[str, str]:
    """(x, y) int64 meters for a monitor id (uniform, no clustering)."""
    x = f"({MARGIN_M} + (({id_expr}) * 69621 + 101) % {SPAN})"
    y = f"({MARGIN_M} + (({id_expr}) * 40692 + 57) % {SPAN})"
    return x, y


def poly_circle_sql(id_expr: str, dialect: str) -> tuple[str, str, str]:
    """(cx, cy, radius_m) for a circular exposure polygon id.

    Radii 5..45 km, centers margin-safe; mirrors the reference's circular
    buffer polygons (Active Fires.R:27 ``st_buffer(grid, dist=500e3)``,
    scaled to our extent)."""
    inner = SPAN - 2 * 50_000  # keep circle interior to the point extent
    cx = f"({MARGIN_M} + 50000 + (({id_expr}) * 75321 + 13) % {inner})"
    cy = f"({MARGIN_M} + 50000 + (({id_expr}) * 28411 + 91) % {inner})"
    r = f"(5000 + (({id_expr}) % 9) * 5000)"
    return cx, cy, r


def poly_circle_big_sql(id_expr: str, dialect: str) -> tuple[str, str, str]:
    """Large exposure circles (50..250 km) — same centers as
    ``poly_circle_sql``, scaled radii. Used by the grouped PIP query (q08)
    so the driver's sf0.01 check exercises non-empty (poly, group) cells:
    the small radii give ~0 expected hits at 500 points (a vacuous
    0 == 0 oracle match proves nothing)."""
    cx, cy, _ = poly_circle_sql(id_expr, dialect)
    r = f"(50000 + (({id_expr}) % 9) * 25000)"
    return cx, cy, r


# --------------------------------------------------------------------------
# raster formula (functional raster source; also materialized as tiles)
# --------------------------------------------------------------------------

def line_seg_sql(id_expr: str, dialect: str) -> tuple[str, str, str, str]:
    """(ax, ay, bx, by) int64 endpoints of a synthetic line segment
    (roads/transects fixture for the reference's declared-but-unbuilt
    extract_lines_in_buffer capability, SURVEY §2.12). Segments ≤ ~28 km,
    margin-safe."""
    inner = SPAN - 100_000
    ax = f"({MARGIN_M} + 50000 + (({id_expr}) * 19793 + 29) % {inner - 40000})"
    ay = f"({MARGIN_M} + 50000 + (({id_expr}) * 30269 + 71) % {inner - 40000})"
    bx = f"({ax} + (({id_expr}) * 12923 + 5) % 40001 - 20000)"
    by = f"({ay} + (({id_expr}) * 17389 + 63) % 40001 - 20000)"
    return ax, ay, bx, by


def line_seg_np(ids: np.ndarray) -> tuple[np.ndarray, ...]:
    ids = np.asarray(ids, dtype=np.int64)
    inner = SPAN - 100_000
    ax = MARGIN_M + 50_000 + (ids * 19793 + 29) % (inner - 40_000)
    ay = MARGIN_M + 50_000 + (ids * 30269 + 71) % (inner - 40_000)
    bx = ax + (ids * 12923 + 5) % 40001 - 20_000
    by = ay + (ids * 17389 + 63) % 40001 - 20_000
    return ax, ay, bx, by


N_LINES = 300


def raster_value_sql(row_expr: str, col_expr: str) -> str:
    """Pixel value as DOUBLE, NULL at nodata. Exact-integer-valued.

    Mirrors the reference's nodata→NaN mapping at scan
    (extract_raster_buffer.py:165; Archived_scripts/utils.py:129-130)."""
    v = f"((({row_expr}) * 7919 + ({col_expr}) * 104729) % {VALUE_MOD})"
    nod = f"((({row_expr}) * 31 + ({col_expr}) * 17) % {NODATA_MOD} = 0)"
    return f"(CASE WHEN {nod} THEN NULL ELSE CAST({v} AS DOUBLE) END)"


def pixel_of_point_sql(x_expr: str, y_expr: str, dialect: str,
                       mode: str = "floor") -> tuple[str, str]:
    """Containing pixel (row, col) of a point.

    mode='floor'   — truncation-toward-zero assignment of the reference's
                     ``get_coords_at_point`` (Archived_scripts/utils.py:47-67);
                     identical to floor for our positive frame.
    mode='nearest' — the rounding variant of ``.sel(method='nearest')``
                     (srg-dev/calculate_focal_mean.py:90). Implemented as
                     floor((v*2 + XRES) / (2*XRES)) — pure integer math, so
                     the half-way rule is exact and engine-independent.
    """
    if mode == "floor":
        col = _div(x_expr, XRES, dialect)
        row = _div(y_expr, XRES, dialect)
    elif mode == "nearest":
        col = _div(f"(({x_expr}) * 2 + {XRES})", 2 * XRES, dialect)
        row = _div(f"(({y_expr}) * 2 + {XRES})", 2 * XRES, dialect)
    else:  # pragma: no cover
        raise ValueError(mode)
    return row, col


# --------------------------------------------------------------------------
# hex cell (H3-style) — exact integer two-lattice assignment
# --------------------------------------------------------------------------
# Centers form a triangular lattice: {(i*w, j*h) : (i+j) even} with h ~ w*sqrt(3)
# => Voronoi cells are hexagons. Assignment = nearest center by *integer*
# squared distance, ties broken by (i, j) — exact in both engines.

def hex_cell_id_sql_encode(res: int, i_expr: str, j_expr: str) -> str:
    return (f"(CAST({res} AS BIGINT) * {1 << HEX_RES_SHIFT} "
            f"+ ({i_expr}) * {1 << HEX_I_SHIFT} + ({j_expr}))")


def hex_candidates_values_sql() -> str:
    """16-candidate offset table for nearest-even-lattice-center search."""
    rows = ",".join(f"({di},{dj})" for di in (-1, 0, 1, 2)
                    for dj in (-1, 0, 1, 2))
    return f"(VALUES {rows})"


# --------------------------------------------------------------------------
# numpy mirrors (used inside Arrow kernels; must match the SQL above exactly)
# --------------------------------------------------------------------------
import numpy as np  # noqa: E402


def point_xy_np(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    ids = ids.astype(np.int64)
    c = ids % 5
    step = SPAN // 11
    cx = MARGIN_M + (2 * c + 1) * step
    cy = MARGIN_M + (2 * ((c * 3 + 1) % 5) + 1) * step
    xu = MARGIN_M + (ids * 48271 + 11) % SPAN
    yu = MARGIN_M + (ids * 16807 + 23) % SPAN
    xc = cx + (ids * 104729 + 7) % 40001 - 20000
    yc = cy + (ids * 7919 + 3) % 40001 - 20000
    clustered = (ids % 5) == 0
    return np.where(clustered, xc, xu), np.where(clustered, yc, yu)


def monitor_xy_np(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    ids = ids.astype(np.int64)
    return (MARGIN_M + (ids * 69621 + 101) % SPAN,
            MARGIN_M + (ids * 40692 + 57) % SPAN)


def poly_circle_np(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    ids = ids.astype(np.int64)
    inner = SPAN - 2 * 50_000
    cx = MARGIN_M + 50_000 + (ids * 75321 + 13) % inner
    cy = MARGIN_M + 50_000 + (ids * 28411 + 91) % inner
    r = 5_000 + (ids % 9) * 5_000
    return cx, cy, r


def raster_value_np(rows: np.ndarray, cols: np.ndarray) -> np.ndarray:
    """Pixel values as float64 with NaN at nodata (nodata→NaN per
    extract_raster_buffer.py:165)."""
    rows = rows.astype(np.int64)
    cols = cols.astype(np.int64)
    v = ((rows * 7919 + cols * 104729) % VALUE_MOD).astype(np.float64)
    nod = ((rows * 31 + cols * 17) % NODATA_MOD) == 0
    v[nod] = np.nan
    return v
