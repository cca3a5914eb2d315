import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, os.path.join(BENCH, "fakesvc"), ROOT]


@pytest.fixture(scope="session")
def work(tmp_path_factory):
    return str(tmp_path_factory.mktemp("perfbench"))


@pytest.fixture(scope="session")
def spark(work):
    """A two-slot session whose Python workers load the fake services."""
    os.environ["PYTHONPATH"] = os.pathsep.join([os.path.join(BENCH, "fakesvc"), ROOT])
    os.environ["PERFBENCH_SPOOL"] = os.path.join(work, "spool")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    from vectorflow_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2)
    yield s
    s.stop()
