"""Shared fixtures: one SparkSession per test session, parity helpers."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session", autouse=True)
def _fresh_warehouse(tmp_path_factory):
    """A new ``spark.sql.warehouse.dir`` per test session. Tables are
    commit-log directories in the warehouse and outlive the session, so a
    rerun would otherwise meet the last run's tables. Set before any test
    starts the JVM; subprocess workers inherit it through the environment."""
    wh = tmp_path_factory.mktemp("spark-warehouse")
    args = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--conf spark.sql.warehouse.dir={wh} {args}"


@pytest.fixture(scope="session")
def spark():
    from quackspark.session import get_session

    s = get_session("quackspark-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s
