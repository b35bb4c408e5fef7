from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mrcond_spark.catalog import TABLES, table_path
from mrcond_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mrcond-tests", shuffle_partitions=8)
    yield s


#: non-function-scoped alias for hypothesis @given tests (function-scoped
#: fixtures are re-created per example; the session is shared intentionally)
@pytest.fixture(scope="session")
def spark_global():
    return get_spark("mrcond-tests", shuffle_partitions=8)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(SF_DIR, t)}'")
    yield con
    con.close()
