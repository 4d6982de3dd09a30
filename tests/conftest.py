"""Shared fixtures: one session-scoped SparkSession, sf-dir paths, and a
DuckDB connection with the driver's view registration."""

from __future__ import annotations

import os

import duckdb
import pytest

from aws_etl_fiap_spark.queries.registry import oracle_views
from aws_etl_fiap_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_SF_SMOKE", "/root/testdata/sf0.001")
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_SF_CORRECTNESS", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="aws_etl_fiap_spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness() -> str:
    return SF_CORRECTNESS


@pytest.fixture(scope="session")
def duck_smoke(sf_smoke):
    con = oracle_views(duckdb.connect(), sf_smoke)
    yield con
    con.close()


@pytest.fixture(scope="session")
def duck_correctness(sf_correctness):
    con = oracle_views(duckdb.connect(), sf_correctness)
    yield con
    con.close()
