from __future__ import annotations

import pytest

from finegourmet_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


def make_spark():
    """The test session (also the one plan fingerprints are taken in)."""
    return get_spark(app_name="finegourmet_spark_tests", shuffle_partitions=8)


@pytest.fixture(scope="session")
def spark():
    s = make_spark()
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
