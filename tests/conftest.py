import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: spawns a fresh JVM subprocess")


@pytest.fixture(scope="session")
def spark():
    from leaf_spark.session import get_spark

    s = get_spark("leaf-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def tmp_root(tmp_path):
    return str(tmp_path)
