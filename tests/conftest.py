from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The oracle-match gate runs at the DRIVER's scale factor by default so
# local green predicts driver green (SF-dependent issues — empty groups,
# ties, sampling — surface here first). Point it at sf0.001 for faster
# inner-loop iteration.
ORACLE_SF_DIR = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)


@pytest.fixture(scope="session")
def spark():
    from recipes_spark.session import get_session

    s = get_session("recipes-spark-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_sf_dir() -> str:
    return ORACLE_SF_DIR
