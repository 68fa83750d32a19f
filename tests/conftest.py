"""Shared fixtures: one local SparkSession per test session (SURVEY.md §5)."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # The engine default heap (48g, sized for a 128 GiB host) lets a
    # 1 300-test session keep every dropped checkpoint and shuffle: the
    # cleaner frees them only after a GC, which a heap that size rarely
    # needs, so the driver JVM grows to the host's memory.  4g holds
    # every test's working set.
    s = get_spark(app="engine-tests", master="local[4]", shuffle_partitions=8,
                  extra={"spark.driver.memory": "4g"})
    yield s


@pytest.fixture(autouse=True)
def _session_shuffle_partitions(request):
    """Every test starts at the session's shuffle-partition count.  The
    driver-contract queries pin their own (__spark_entry__._prep sets
    32); without the reset that runtime conf stays on the shared session
    and every later test pays 32 shuffle tasks per stage (and 32 state
    store partitions per streaming micro-batch)."""
    if "spark" not in request.fixturenames:
        yield
        return
    s = request.getfixturevalue("spark")
    before = s.conf.get("spark.sql.shuffle.partitions")
    yield
    s.conf.set("spark.sql.shuffle.partitions", before)


@pytest.fixture(scope="session")
def rng():
    return np.random.default_rng(42)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
