"""Fixtures for the benchmark's own tests: one small SparkSession with
the benchmark's status-store retention, built by the engine's factory.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), os.path.dirname(HERE)]


@pytest.fixture(scope="session")
def spark():
    from counters import RETENTION_CONF

    from spacex_data_engineering_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench-tests", master="local[2]", extra_conf=RETENTION_CONF
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def reader(spark):
    from counters import StatusReader

    return StatusReader(spark)
