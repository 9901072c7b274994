import os
import shutil
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def spark():
    from fetcho_spark.session import get_spark
    # executors' Python workers import fetcho_spark and the generator
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, BENCH, os.environ.get("PYTHONPATH", "")])
    os.environ["SPARK_GRAFT_NO_WARMUP"] = "1"
    local = tempfile.mkdtemp(prefix="crawlbench-tests-")
    s = get_spark("crawlbench-tests", master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.ui.showConsoleProgress": "false",
                              "spark.local.dir": local})
    yield s
    s.stop()
    shutil.rmtree(local, ignore_errors=True)
