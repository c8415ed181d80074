"""Driver-contract parity for the page-point and chip queries: each
``queries()`` entry below, run at sf0.001, must hash-match its
``oracle_sql()`` twin in DuckDB under the gate's own fingerprint
(``tools/check_oracle.table_fingerprint``)."""

import importlib.util
import os

import duckdb
import pytest
from test_curation import SF  # the sf0.001 driver tables

import __spark_entry__ as E

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES = [
    # page-point queries sharing the geotag_points kernel
    "geo_backfill", "crawl_transitions", "trajectory_cover",
    "cell_diversity", "cell_anomaly", "tile_pyramid_delta",
    "host_geo_spread", "geo_velocity", "cell_trend", "simplify_track",
    "stay_points", "stream_cell_counts", "pages_cell_counts", "pip_join",
    "pip_join_salted", "rasterize_world_points",
    # the N-d chipper through its 2-D and N-d entry points
    "chip_grid", "chip_grid_nd", "chip_assign", "chip_label_pairs",
]


_spec = importlib.util.spec_from_file_location(
    "check_oracle", os.path.join(REPO, "tools", "check_oracle.py"))
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.sql(f"create view {t} as select * from "
                f"read_parquet('{SF}/{t}.parquet')")
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, duck, name):
    fingerprint = check_oracle.table_fingerprint
    sdf = E.queries()[name](spark, SF)
    rel = duck.sql(E.oracle_sql()[name])
    assert sorted(sdf.columns) == sorted(rel.columns)
    srows = [tuple(r) for r in sdf.collect()]
    drows = rel.fetchall()
    assert len(srows) == len(drows) > 0
    assert fingerprint(sdf.columns, srows)[0] == \
        fingerprint(rel.columns, drows)[0]
