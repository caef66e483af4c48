from __future__ import annotations

import os
import sys

import pytest

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)
# Single shared insert for the scripts under tools/ — tool tests
# (test_verify_tool.py) import them directly; duplicating this per test
# grew sys.path on every run.
sys.path.insert(0, os.path.join(_REPO_ROOT, "tools"))

from distributed_mobility_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = tmp_path_factory.mktemp("warehouse")
    s = get_spark(
        "tests",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
