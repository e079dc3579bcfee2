from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from clear_map_data_pipeline_spark.session import get_spark

    s = get_spark("clearmap-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def gate_sf_dir():
    """The sf0.01 fixture (the scale of the oracle gate), next to
    ``SF_DIR``."""
    return os.path.join(os.path.dirname(SF_DIR), "sf0.01")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "skew_drill: hot-key skew drills over synthesized skewed "
        "fixtures (deselect with -m 'not skew_drill')",
    )
