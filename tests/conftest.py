from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lightlane_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="lightlane-tests", extra_conf={"spark.sql.shuffle.partitions": "8"}
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
