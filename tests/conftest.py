"""Shared fixtures: one SparkSession per test session, DuckDB oracle."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

# the checkout this file lives in, not a fixed install path: a second
# copy of the tree must test itself
REPO_ROOT = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, REPO_ROOT)

from sparksql_server_spark import get_session  # noqa: E402
from sparksql_server_spark.catalog import TABLES  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the same tables registered as views —
    mirrors the driver's oracle environment."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()
