import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from timescale_cdc_spark.session import get_spark

    tmp = str(tmp_path_factory.mktemp("spark"))
    s = get_spark(app_name="cdcbench-tests", master="local[2]", shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "2g", "spark.local.dir": tmp})
    yield s
    s.stop()
