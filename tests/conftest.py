import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def pytest_report_header(config):
    """Name the lane, so a green default run is not mistaken for the
    full gate (pytest.ini's addopts deselect the ``slow`` tests)."""
    expr = config.getoption("markexpr")
    if not expr:
        return 'lane: full (-m "")'
    note = (
        ": slow tests (oracle-parity sweep, examples, property sweeps)"
        ' left out; run -m "" for the full lane'
        if "not slow" in expr
        else ""
    )
    return f"lane: -m {expr!r}{note}"


@pytest.fixture(scope="session")
def spark():
    from gpd_lite_toolbox_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
