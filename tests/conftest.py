"""Shared fixtures: one SparkSession per test run, sf0.001 catalog."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

ROOT = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, ROOT)
# Python workers (UDFs, mapInPandas) import the engine too; the JVM hands
# them its launch environment, so this must be set before the session
# starts for the suite to run from any working directory.
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from data_pipeline_4_online_retail_spark.session import get_spark
from data_pipeline_4_online_retail_spark.sources.catalog import load_tables

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def catalog(spark):
    return load_tables(spark, SF_DIR)
