from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_DIR_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session", autouse=True)
def session_tempdir(tmp_path_factory):
    """Give the test session its own ``tempfile`` root: the catalog keeps
    fit-once/load-many tables (the signature store, the IVF-PQ index)
    under ``tempfile.gettempdir()``, and a shared system temp dir would
    hand a run the tables an earlier run, of any code version, wrote.
    Yields ``(system temp dir, session temp dir)``."""
    import tempfile

    system = tempfile.gettempdir()
    own = str(tmp_path_factory.mktemp("tempdir"))
    saved, tempfile.tempdir = tempfile.tempdir, own
    yield system, own
    tempfile.tempdir = saved


@pytest.fixture(scope="session")
def spark():
    from iceberg_quickstart_iac_spark.session import get_spark

    spark = get_spark(
        app_name="tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.legacy.parquet.nanosAsLong": "true"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_small() -> str:
    return SF_DIR_SMALL


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'")
    yield con
    con.close()
