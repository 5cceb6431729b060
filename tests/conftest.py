import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))

from gdal_spark.fixtures import FixtureMissing  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"

# node ids of the tests skipped because the autotest fixture tree is absent
_FIXTURE_MISSING = pytest.StashKey[list]()


def _skip_on_fixture_missing(item):
    try:
        return (yield)
    except FixtureMissing as ex:
        item.config.stash.setdefault(_FIXTURE_MISSING, []).append(item.nodeid)
        pytest.skip(str(ex))


@pytest.hookimpl(wrapper=True)
def pytest_runtest_setup(item):
    return (yield from _skip_on_fixture_missing(item))


@pytest.hookimpl(wrapper=True)
def pytest_runtest_call(item):
    return (yield from _skip_on_fixture_missing(item))


def pytest_terminal_summary(terminalreporter, config):
    skipped = config.stash.get(_FIXTURE_MISSING, [])
    if skipped:
        terminalreporter.write_sep(
            "=", f"{len(skipped)} skipped: fixture tree absent")
        for nodeid in skipped:
            terminalreporter.write_line(nodeid)


@pytest.fixture(scope="session")
def spark():
    from gdal_spark.session import get_spark
    # SPARK_GRAFT_CPUS / SPARK_MASTER pick the master as in get_spark;
    # with neither set the suite runs on 8 cores
    master = None if ("SPARK_GRAFT_CPUS" in os.environ
                      or "SPARK_MASTER" in os.environ) else "local[8]"
    s = get_spark(app="pytest", master=master)
    yield s
    s.stop()
