from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickstreaming_end_to_end_data_engineering_project_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavy stress/sweep battery with a standing cheaper pin; "
        "skipped in the default (driver-facing) profile, run with "
        "SPARK_GRAFT_FULL_SUITE=1",
    )


def pytest_collection_modifyitems(config, items):
    """Fast default profile (r18 verdict #2): the full suite outgrew
    the driver's pytest window (r18 recorded a truncated run at ~94%
    with zero failures), so the heaviest adversarial/stress batteries
    — each redundant with a cheaper standing pin for per-commit
    regression purposes — are tiered behind SPARK_GRAFT_FULL_SUITE=1.
    CI/build rounds run the full profile; the default profile is what
    the external driver's window must fit."""
    if os.environ.get("SPARK_GRAFT_FULL_SUITE"):
        return
    skip = pytest.mark.skip(
        reason="slow battery; run with SPARK_GRAFT_FULL_SUITE=1"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


def pytest_terminal_summary(terminalreporter):
    """Say how many @slow batteries the default profile skipped, so a
    green run cannot be mistaken for a full one."""
    slow = [
        r for r in terminalreporter.stats.get("skipped", [])
        if "SPARK_GRAFT_FULL_SUITE" in str(r.longrepr)
    ]
    terminalreporter.write_line(
        f"{len(slow)} @slow tests skipped (run them with SPARK_GRAFT_FULL_SUITE=1)"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", cpus=os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_CORRECT
