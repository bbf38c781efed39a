from __future__ import annotations

import pytest

from sqlondataframesr_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", cpus=8, shuffle_partitions=8, driver_memory="8g")
    yield spark


@pytest.fixture(autouse=True)
def _release_pinned():
    """Per-test cache scope for persist-pinned plan branches."""
    from sqlondataframesr_spark.materialize import release_all

    yield
    release_all()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_mid():
    return SF_DIR_MID
