"""Shared Spark fixture: one local session for the whole test run."""

import pytest

from seismic_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("seismic-spark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()
