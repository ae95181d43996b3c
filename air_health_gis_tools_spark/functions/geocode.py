"""Geocoding: page text → planar (x, y) meters, as one Catalyst projection.

north_star F11: every web page is geocoded from its text with no per-row
Python. Two stages, both relational expressions inside whole-stage codegen:

1. regex parse of the first coordinate-bearing phrase ``"x <int> y <int>"``
   (``regexp_extract``), used when present (our pages fixtures embed it,
   FIXTURES.md §1). Each row parses on its own: a number past BIGINT
   (``try_cast`` gives NULL) clamps to the extent maximum, and every parsed
   value clamps into the margin-safe extent;
2. deterministic fallback when the text holds no phrase: the integer-hash
   derivation from the stable id (``geo_synth.point_xy_sql``, the oracle's
   own SQL) — keeps the pipeline total (every row geocodes) and
   bit-replicable by the relational oracle.

The ``text`` column itself is never modified — byte-identity per url is an
acceptance invariant (BASELINE.json; enforced in tests via sha256 digests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..geo_synth import MARGIN_M, SPAN, point_xy_sql

_COORD_RE = r"x [0-9]+ y [0-9]+"


def _coord_sql(digits: str, fallback: str) -> str:
    """One coordinate: its ``digits`` in the phrase ``_xy``, clamped into
    ``[MARGIN_M, MARGIN_M + SPAN - 1]``; ``fallback`` when ``_xy`` is ''."""
    hi = MARGIN_M + SPAN - 1
    parsed = (f"least(greatest(coalesce(try_cast({digits} AS BIGINT), "
              f"{hi}L), {MARGIN_M}L), {hi}L)")
    return f"(CASE WHEN _xy = '' THEN {fallback} ELSE {parsed} END)"


def with_xy(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Append (x, y) geocoded from ``text``, falling back to ``id_col``.
    The phrase is matched once per row, into ``_xy``: Catalyst does not
    collapse a regex used four times into the projection that uses it."""
    fx, fy = point_xy_sql(f"CAST({id_col} AS BIGINT)", "spark")
    x = "substring_index(substring_index(_xy, ' ', 2), ' ', -1)"
    y = "substring_index(_xy, ' ', -1)"
    return (docs.withColumn("_xy", F.expr(
                f"regexp_extract(coalesce(text, ''), '{_COORD_RE}', 0)"))
            .withColumns({"x": F.expr(_coord_sql(x, fx)),
                          "y": F.expr(_coord_sql(y, fy))})
            .drop("_xy"))
