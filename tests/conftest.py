import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_spatial_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gss-tests", cpus=4, shuffle_partitions=8)
    yield s


SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"
SF0P1 = os.path.join(os.path.dirname(SF01), "sf0.1")   # 5,000 documents


@pytest.fixture(scope="session")
def sf001():
    return SF001


@pytest.fixture(scope="session")
def sf01():
    return SF01


@pytest.fixture(scope="session")
def sf0p1():
    return SF0P1
