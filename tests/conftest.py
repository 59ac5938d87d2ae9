from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from auto_ria_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # an explicit 4g driver heap: the session default (8g) lets the one
    # long-lived test JVM grow past half of a 15 GB host's memory, which
    # leaves the Python workers too little (4g peaks at ~5.5 GB RSS)
    s = get_spark("auto-ria-spark-tests", cores=4, shuffle_partitions=8,
                  extra={"spark.driver.memory": "4g"})
    yield s
    s.stop()
