from __future__ import annotations

import pytest

from zip_to_parquet_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # One session, and one JVM, for the whole pytest process (a JVM per
    # test module costs ~10s each); stopped at the end so no Spark JVM
    # outlives the run.
    s = get_spark("zip-to-parquet-spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
