from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from air_health_gis_tools_spark.session import (DEFAULT_CPUS,  # noqa: E402
                                                get_spark)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_DIR_MED = os.environ.get("SPARK_GRAFT_TEST_SF_MED", "/root/testdata/sf0.01")

# the reference repository's own inputs, read in place
REFERENCE_DATA = "/root/reference/data"
TIF = f"{REFERENCE_DATA}/apg18e_1_0_0_20210512.tif"
GRIDS = f"{REFERENCE_DATA}/grids"
# registry queries that read them (the golden and plan-audit cases)
REFERENCE_QUERIES = {
    "q44_real_raster_zonal": [TIF],
    "q48_rds_point_sample": [TIF, f"{GRIDS}/testing_points.rds"],
    "q50_two_crs_focal": [TIF, f"{GRIDS}/NSW_points_1km.rds"],
    "q51_geocode_crs_pixel": [TIF],
    "q66_overview_pyramid": [TIF],
}


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "reference_data(*paths): reference inputs the test reads")


def query_params(names):
    """``names`` as parametrize values, each reference-reading query
    carrying its inputs as a ``reference_data`` mark."""
    return [pytest.param(n, marks=pytest.mark.reference_data(
        *REFERENCE_QUERIES[n])) if n in REFERENCE_QUERIES else n
        for n in names]


@pytest.fixture
def reference_data(request):
    """Fail the test at setup, in one line naming the path, when an input
    listed by its ``reference_data`` marks is absent."""
    for mark in request.node.iter_markers("reference_data"):
        for path in mark.args:
            if not os.path.exists(path):
                pytest.fail(f"reference data absent: {path}", pytrace=False)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=DEFAULT_CPUS, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con
