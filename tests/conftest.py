import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(__file__)))

SF_SMOKE = "/root/testdata/sf0.001"


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
