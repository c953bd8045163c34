import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from rust_triplets_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    s = get_spark("tests", cpus=cpus)
    s.sparkContext.setLogLevel("ERROR")
    yield s
