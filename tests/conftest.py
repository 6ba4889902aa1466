from __future__ import annotations

import os
import sys
import time
import uuid
from contextlib import contextmanager
from types import SimpleNamespace

import pytest
from py4j import protocol as py4j_protocol

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


_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@contextmanager
def job_group(spark, label: str):
    """Run the body under a fresh Spark job group (pooled threads that
    inherit it included) and yield the group id; the caller's group
    properties are restored afterwards."""
    sc = spark.sparkContext
    group = f"{label}-{uuid.uuid4().hex}"
    saved = [(k, sc.getLocalProperty(k)) for k in _GROUP_PROPS]
    sc.setJobGroup(group, label, False)
    try:
        yield group
    finally:
        for key, value in saved:
            sc.setLocalProperty(key, value)


def group_jobs(spark, group: str) -> int:
    """Spark jobs launched so far under job group ``group``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def count_jobs(spark, action) -> int:
    """Spark jobs ``action()`` launches."""
    with job_group(spark, "counted") as group:
        action()
    return group_jobs(spark, group)


def count_py4j(spark, action) -> int:
    """py4j gateway commands ``action()`` sends, not counting memory
    release commands: freed JVM proxies send those whenever Python
    drops them, often in a batch during a later, unrelated action."""
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, [0]

    def counted(command, *args, **kwargs):
        if not command.startswith(py4j_protocol.MEMORY_COMMAND_NAME):
            sent[0] += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        action()
    finally:
        del client.send_command
    return sent[0]


def no_backoff(monkeypatch) -> None:
    """Stub the sink retry backoff in the sinks module only: a no-op
    global ``time.sleep`` turns Spark's Python polling threads into
    busy loops."""
    from clickstreaming_end_to_end_data_engineering_project_spark.streaming import sinks

    monkeypatch.setattr(sinks, "time", SimpleNamespace(sleep=lambda s: None, time=time.time))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("engine-tests", cpus=os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_CORRECT
