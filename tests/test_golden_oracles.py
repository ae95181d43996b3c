"""The r3 golden-parquet oracles: every formerly `no_oracle` query is now
hash-verified against a committed expected table computed independently by
tools/make_golden.py (run at the driver's correctness scale, sf0.01).

This test replicates the driver's comparison for exactly those rows, so a
kernel regression OR a stale golden fails here before the driver sees it."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

from air_health_gis_tools_spark.plans import queries as Q
from tests.conftest import query_params

SF001 = "/root/testdata/sf0.01"

GOLDEN_KEYS = ["q23_simhash_nn", "q24_ann_lsh", "q30_s2_cells",
               "q31_multimodal_features", "q41_ann_ivf",
               "q44_real_raster_zonal", "q48_rds_point_sample",
               "q49_h3_cells", "q50_two_crs_focal", "q51_geocode_crs_pixel",
               "q52_h3_kring_smooth", "q54_html_extract", "q55_warc_ingest",
               "q59_ann_ivfpq", "q61_geohash_cells", "q66_overview_pyramid",
               "q67_pagerank", "q84_semantic_dedup", "q94_bpe_tokenize"]


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns),
                          kind="mergesort").reset_index(drop=True)


def _assert_equal(a: pd.DataFrame, b: pd.DataFrame, name: str):
    a, b = _normalize(a), _normalize(b)
    assert list(a.columns) == list(b.columns), name
    assert len(a) == len(b), name
    for c in a.columns:
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if x is None or (isinstance(x, float) and math.isnan(x)):
                ok = y is None or (isinstance(y, float) and math.isnan(y))
            else:
                ok = x == y
            assert ok, f"{name}.{c}[{i}]: spark={x!r} golden={y!r}"


def test_golden_files_committed():
    for k in GOLDEN_KEYS:
        assert os.path.exists(os.path.join(Q.GOLDEN_DIR, f"{k}.parquet")), k


@pytest.mark.parametrize("name", query_params(GOLDEN_KEYS))
def test_golden_oracle_parity(name, reference_data, spark):
    sdf = Q.QUERIES[name](spark, SF001).toPandas()
    odf = duckdb.sql(Q.ORACLES[name]).df()
    _assert_equal(sdf, odf, name)


def test_q22_oracle_is_q36_sql(spark):
    """q22's Arrow kernel vs q36's pure-SQL heuristic on DuckDB — the
    cross-implementation pair the driver now hashes."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF001}/documents.parquet')")
    sdf = Q.QUERIES["q22_lang_id"](spark, SF001).toPandas()
    odf = con.execute(Q.ORACLES["q22_lang_id"]).df()
    _assert_equal(sdf, odf, "q22")
