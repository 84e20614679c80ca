from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def run_to_memory(df, name: str) -> None:
    """Drain a bounded stream into an in-memory table (test/dev sink):
    availableNow processes the full source then stops — the batch-mode
    analog of one reference polling cycle."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@pytest.fixture(scope="session")
def spark():
    from airquality_data_pipeline_spark.session import get_spark

    # small local session for tests: tiny data, low parallelism is faster
    spark = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with fixture views registered, mirroring the
    driver's oracle harness."""
    import duckdb

    from airquality_data_pipeline_spark.io import FIXTURE_TABLES

    con = duckdb.connect()
    for name in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    yield con
    con.close()
