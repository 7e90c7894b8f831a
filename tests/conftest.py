from __future__ import annotations

import pytest

from building_permissions_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # Frames built from Python lists are split into default-parallelism
    # slices, and every slice of such a frame costs one Python worker
    # round trip each time it is computed (about 0.2 s on Python 3.11,
    # where the worker re-reads pyspark.zip's directory per task). Test
    # frames hold at most a few hundred rows, so two slices keep them
    # multi-partition without paying for eight. The engine reads the
    # same value elsewhere: under test, `operators.scale.fan_out` aims
    # at 2 partitions and streams shuffle and keep state in 2
    # (streaming/events.py), so those paths run multi-partition, but not
    # at 8. Shuffle partitions stay at 8.
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8,
                  extra_conf={"spark.default.parallelism": "2"})
    yield s
    s.stop()
