from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apsviz_timeseriesdb_ingest_spark.session import get_spark

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")

# central slow-test registry (r12): nodeids listed in slow_tests.txt
# get the `slow` marker, and pytest.ini excludes them from the default
# selection so the driver's verify window can finish. Stale entries
# (renamed/removed tests) are ignored harmlessly; run the full suite
# with `-m ""`.
_SLOW_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "slow_tests.txt")


def pytest_collection_modifyitems(config, items):
    try:
        with open(_SLOW_FILE) as f:
            slow = {ln.strip() for ln in f
                    if ln.strip() and not ln.startswith("#")}
    except OSError:
        return
    for item in items:
        # nodeid is like "tests/test_x.py::test_y[param]" when run from
        # the repo root and "test_x.py::test_y[param]" from tests/
        nid = item.nodeid.split("tests/", 1)[-1]
        if nid in slow:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture
def parallelize_calls(monkeypatch):
    """A list that grows by one per ``SparkContext.parallelize`` call.

    ``createDataFrame`` of a Python list goes through ``parallelize``,
    and every task that reads such a frame runs a Python worker;
    ``session.local_frame`` does not call it."""
    from pyspark import SparkContext

    calls = []
    parallelize = SparkContext.parallelize

    def counted(self, *args, **kwargs):
        calls.append(args[0] if args else kwargs.get("c"))
        return parallelize(self, *args, **kwargs)

    monkeypatch.setattr(SparkContext, "parallelize", counted)
    return calls


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle():
    return SF_ORACLE
