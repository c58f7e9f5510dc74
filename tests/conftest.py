from __future__ import annotations

import os
import sys

import pytest

# the checkout that holds these tests, so a copy of the repo tests its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_streaming_twitter_spark.session import build_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
