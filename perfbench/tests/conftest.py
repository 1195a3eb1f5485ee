import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, os.path.dirname(BENCH))
sys.path.insert(0, BENCH)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from graph_data_science_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", str(tmp_path_factory.mktemp("spark-local")))
    s = get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse"))},
    )
    yield s
    s.stop()
