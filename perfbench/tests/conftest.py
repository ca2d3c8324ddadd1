import os
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the benchmark's modules are plain files next to run.py; the engine
# package sits at the repository root
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TZ"] = "UTC"
    from starlake_spark import get_spark

    return get_spark("perfbench-tests")
