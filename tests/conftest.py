"""Shared fixtures: one SparkSession for the whole test run, smallest
scale factor (sf0.001, ~6k lineitem rows) for speed."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_to_parquet_spark import registry
from kafka_to_parquet_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    registry.load_all()
    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def run(spark, sf_dir):
    """run('q_name') -> list[Row] for the declared query at sf0.001."""

    def _run(name: str):
        return registry.QUERIES[name](spark, sf_dir)

    return _run
