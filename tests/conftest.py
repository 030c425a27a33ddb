import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geomesa_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "geomesa_spark_tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture
def pushed_filters(spark):
    """Returns `extract(plan) -> str`, the whole `PushedFilters: [...]`
    list of a plan string. Spark cuts each plan-metadata value at
    `spark.sql.maxMetadataStringLength` (100 characters by default)
    when it prints a scan node; this fixture lifts that limit for the
    test and restores it afterwards. Build the plan inside the test:
    a scan node reads the limit when it is created."""
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, str(1 << 30))

    def extract(plan: str) -> str:
        start = plan.index("PushedFilters: [") + len("PushedFilters: ")
        depth = 0
        for i in range(start, len(plan)):
            depth += {"[": 1, "]": -1}.get(plan[i], 0)
            if depth == 0:
                return plan[start : i + 1]
        raise AssertionError("unclosed PushedFilters list")

    try:
        yield extract
    finally:
        spark.conf.set(key, old)


def sf_dir(sf: str = "0.001") -> str:
    return f"/root/testdata/sf{sf}"
