from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hyperloglog_pyspark_spark.session import get_spark  # noqa: E402
from tests.helpers import duck_con  # noqa: E402

# sf0.001 keeps the suite fast; set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01
# to run the suite at the driver's correctness scale.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # Tests EXECUTE the queries they build, so opt into eager cache
    # builds (library default is False so plan-only consumers are safe;
    # layout tests that want plan-only builds use registry.lazy_caches()).
    from hyperloglog_pyspark_spark import registry

    registry.EAGER_CACHES = True
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duck_con(sf_dir)
    yield con
    con.close()
