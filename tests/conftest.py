from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from emr_flink_example_spark.session import build_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="emr-flink-example-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        streaming=True,
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
