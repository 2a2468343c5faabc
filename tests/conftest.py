"""Shared test fixtures: one session-scoped SparkSession on local[*]."""

from __future__ import annotations

import os

import pytest

from xcube_spark.session import get_session

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_session(app_name="xcube_spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def load(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def two_file_stream(spark, df, src, first):
    """Write ``df`` under ``src`` as two parquet files, the rows where
    the SQL predicate ``first`` holds and then the rest, and return a
    streaming read of them that takes one file per micro-batch."""
    df.where(first).coalesce(1).write.parquet(src + "/p=a")
    df.where(f"NOT ({first})").coalesce(1).write.parquet(src + "/p=b")
    return (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "pyproj: integration tests that need REAL pyproj installed "
        "(skipped in the build container; run `pytest -m pyproj` in a "
        "venv with pyproj to exercise the fallback seam and cross-check "
        "every closed-form CRS family)")
