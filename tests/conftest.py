from __future__ import annotations

import os

import pytest

from gmall_realtime2021_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long equivalence/chaos/training test, skipped unless "
        "SPARK_GRAFT_FULL_TESTS=1",
    )


def pytest_collection_modifyitems(config, items):
    """Slow tier: a plain ``pytest tests/`` skips tests marked
    ``@pytest.mark.slow`` (the long equivalence/chaos/training tail,
    each >= ~5.5 s) so the default run fits the CI window. Every
    oracle-parity / adversarial / physical-plan / non-vacuous /
    plan-contract test stays in the default tier regardless of cost.
    Set ``SPARK_GRAFT_FULL_TESTS=1`` to run everything."""
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow tier — set SPARK_GRAFT_FULL_TESTS=1 for the full suite"
    )
    for item in items:
        if item.get_closest_marker("slow"):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gmall-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
