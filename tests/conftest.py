"""Shared fixtures: one SparkSession + one DuckDB oracle per test session."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import duckdb
import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

# The suite's own temp dir, set before Spark starts so its Python
# workers inherit it: program code that asks `tempfile` for a location
# lands here, and the registry gate's disk check (test_oracle_parity.py)
# sees what queries leave, not what other processes put in the shared
# system temp dir (the JVM's own temp files stay in java.io.tmpdir).
_TMP = tempfile.mkdtemp(prefix="iws-tests-")
os.environ["TMPDIR"] = tempfile.tempdir = _TMP


def pytest_sessionfinish(session, exitstatus):
    shutil.rmtree(_TMP, ignore_errors=True)


SF_DIR = os.environ.get("IWS_TEST_SF_DIR", "/root/testdata/sf0.01")
SMOKE_SF_DIR = "/root/testdata/sf0.001"

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    from iceberg_workshop_spark.session import get_spark

    spark = get_spark("iws-tests")
    yield spark


@pytest.fixture(scope="session")
def oracle():
    """DuckDB connection with fixture tables registered as views
    (mirrors the driver: __spark_entry__.py docstring)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
