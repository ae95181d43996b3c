"""Cell tiling kernels: hex (H3-style, res 7-9) and square/quadkey cells,
and the package's one floor rule (``fdiv``) and packed 2-D key
(``pack_key``), which every cell, tile and group key calls.

All kernels are batched NumPy inside Arrow ``pandas_udf``s — no per-row
Python (BASELINE.json input_hint). The hex assignment is the engine's
equivalent of the reference's point→pixel equi-join key computation
(``get_coords_at_point``, Archived_scripts/utils.py:47-67): cell id becomes
the hash-equi-join key for every downstream spatial join.

Hex scheme: centers on the integer triangular lattice
``{(i*w, j*h) : (i+j) even}`` with ``h ≈ w*sqrt(3)`` (so Voronoi cells are
hexagons); a point belongs to the nearest center by integer squared distance,
ties broken by (i, j). Pure int64 math ⇒ bit-identical in Spark, NumPy and
the DuckDB oracle. Resolutions 7/8/9 shrink pitch by ~sqrt(7) per step
(aperture-7, H3-style).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..geo_synth import HEX_I_SHIFT, HEX_PITCH, HEX_RES_SHIFT


def fdiv(e: str, d: int) -> str:
    """SQL floor division of the integer expression ``e`` by ``d``: Spark's
    ``DIV`` truncates, but on ``e − pmod(e, d)``, an exact multiple of
    ``d``, truncation is floor (numpy's ``//``)."""
    return f"((({e}) - pmod({e}, {d})) DIV {d})"


def pack_key(a, b):
    """The key ``a·2³² + b`` of cell, tile or group ``(a, b)`` (ints or
    BIGINT Columns)."""
    return a * (1 << 32) + b


def unpack_key(key: int) -> tuple[int, int]:
    """``(a, b)`` of a ``pack_key`` key with ``0 ≤ b < 2³²``."""
    return divmod(int(key), 1 << 32)


_OFFSETS = np.array([(di, dj) for di in (-1, 0, 1, 2) for dj in (-1, 0, 1, 2)],
                    dtype=np.int64)


def hex_assign_np(x: np.ndarray, y: np.ndarray, res: int) -> np.ndarray:
    """Vectorized nearest-even-lattice-center search → encoded cell id."""
    w, h = HEX_PITCH[res]
    x = x.astype(np.int64)
    y = y.astype(np.int64)
    i0 = x // w
    j0 = y // h
    # candidates: (n, 16)
    ci = i0[:, None] + _OFFSETS[:, 0][None, :]
    cj = j0[:, None] + _OFFSETS[:, 1][None, :]
    dx = x[:, None] - ci * w
    dy = y[:, None] - cj * h
    d2 = dx * dx + dy * dy
    # lexicographic (d2, i, j) argmin in one int64 key; d2 < 2^26 at res 7,
    # i, j < 2^16 for our extent, so d2*(2^32) dominates i*(2^16)+j strictly.
    key = d2 * (1 << 32) + ci * (1 << 16) + cj
    key = np.where((ci + cj) % 2 == 0, key, np.int64(1) << 62)
    best = np.argmin(key, axis=1)
    rows = np.arange(len(x))
    bi = ci[rows, best]
    bj = cj[rows, best]
    return (np.int64(res) << HEX_RES_SHIFT) + (bi << HEX_I_SHIFT) + bj


def hex_cell_decode(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell id → (res, i, j)."""
    cell = cell.astype(np.int64)
    res = cell >> HEX_RES_SHIFT
    i = (cell >> HEX_I_SHIFT) & ((1 << HEX_I_SHIFT) - 1)
    j = cell & ((1 << HEX_I_SHIFT) - 1)
    return res, i, j


def hex_cell_udf(res: int):
    """pandas_udf (x:long, y:long) -> cell:long."""
    @F.pandas_udf(LongType())
    def _udf(x: pd.Series, y: pd.Series) -> pd.Series:
        return pd.Series(hex_assign_np(x.to_numpy(), y.to_numpy(), res))
    return _udf


def hex_cell_expr(res: int):
    """The SAME hex assignment of columns ``x``, ``y`` as a pure Catalyst
    expression — the 100 TB path: stays inside whole-stage codegen, no
    Arrow transfer at all
    (measured: the Arrow round-trip, not the compute, capped the hex
    rollup's scaling at 38M rows).

    Two tricks keep it allocation-free integer arithmetic (plain
    ``least()``, no struct/array objects — struct-array argmin forms GC-
    thrash at 10⁸ rows):
    - the even-parity constraint splits STATICALLY: candidate
      (i0+di, j0+dj) is even iff (di+dj) parity matches (i0+j0) parity, so
      the valid 8-candidate set is one of two static expression lists
      picked by one CASE on pmod(i0+j0, 2);
    - each candidate packs to one BIGINT ``d2·2³² + (di+1)·2²⁹ + (dj+1)``
      whose ordering IS the (d2, i, j) lexicographic tie-break the kernel
      and the DuckDB oracle use (d2 < 2²⁵ for every supported pitch, the
      tie-break stays below 2³², and i = i0+di is monotone in di). Its low
      32 bits are the winner's offset already in the cell-id layout, so
      ``best`` is evaluated once: cell = res·2⁵⁸ + (i0−1)·2²⁹ + (j0−1) +
      pmod(best, 2³²).
    """
    w, h = HEX_PITCH[res]
    # floor, as hex_assign_np's numpy // does, for negative coords too
    i0, j0 = fdiv("x", w), fdiv("y", h)

    def key(di: int, dj: int) -> str:
        i = f"({i0} + {di})"
        j = f"({j0} + {dj})"
        dx = f"((x) - {i} * {w}L)"
        dy = f"((y) - {j} * {h}L)"
        return (f"(({dx} * {dx} + {dy} * {dy}) * {1 << 32}L "
                f"+ {((di + 1) << HEX_I_SHIFT) + dj + 1}L)")

    evens = [key(di, dj) for di in (-1, 0, 1, 2) for dj in (-1, 0, 1, 2)
             if (di + dj) % 2 == 0]
    odds = [key(di, dj) for di in (-1, 0, 1, 2) for dj in (-1, 0, 1, 2)
            if (di + dj) % 2 == 1]
    best = (f"(CASE WHEN pmod({i0} + {j0}, 2) = 0 "
            f"THEN least({', '.join(evens)}) "
            f"ELSE least({', '.join(odds)}) END)")
    enc = (f"(CAST({res} AS BIGINT) * {1 << HEX_RES_SHIFT} "
           f"+ ({i0} - 1) * {1 << HEX_I_SHIFT} + ({j0} - 1) "
           f"+ pmod({best}, {1 << 32}L))")
    return F.expr(enc)


# --------------------------------------------------------------------------
# square cells (quadkey-style; the S2-flavored equi-join key for the oracle
# path — real spherical S2 lives in functions/s2.py)
# --------------------------------------------------------------------------

def square_cell_sql(x_expr: str, y_expr: str, size_m: int, dialect: str) -> str:
    div = "DIV" if dialect == "spark" else "//"
    return (f"((({y_expr}) {div} {size_m}) * 4294967296 "
            f"+ (({x_expr}) {div} {size_m}))")
