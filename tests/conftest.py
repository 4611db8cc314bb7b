from __future__ import annotations

import os
import sys

import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

from tugas_2_big_data_spark.session import get_spark  # noqa: E402

SF_UNIT = "/root/testdata/sf0.001"   # unit-test tier
SF_ORACLE = "/root/testdata/sf0.01"  # driver's correctness tier


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]")
    yield s
    s.stop()


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: needs optional heavyweight deps (BART weights); deselect with -m 'not slow'"
    )
