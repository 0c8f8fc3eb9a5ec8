"""Fixtures for the benchmark's own tests.

Run from the root of a checkout: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]


@pytest.fixture(scope="session")
def spark():
    from canvas_data_2_aws_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()
