import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(tmp_path_factory.mktemp("spark-local"))
    from tile_gen_spark.plans.session import get_spark
    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()
