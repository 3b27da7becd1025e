"""Shared test fixtures: one session-scoped SparkSession (local, small
shuffle parallelism) and a DuckDB connection with the testdata tables
registered, mirroring the driver's oracle harness."""

from __future__ import annotations

import os

import duckdb
import pytest

from credit_card_etl_pipeline_spark.queries import TABLES
from credit_card_etl_pipeline_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def session_ckpt_dir(spark, tmp_path_factory):
    """Session-scoped checkpoint dir for the shared SparkSession.

    Any test exercising the reliable-checkpoint path must use THIS
    fixture (never sc.setCheckpointDir on a function-scoped tmp_path,
    which leaks a soon-deleted dir into every later test).  The
    missing-dir refusal is asserted in a fresh subprocess session
    (test_reliable_checkpoint_requires_dir_fresh_session), so pinning
    the dir here does not shadow that branch."""
    d = str(tmp_path_factory.mktemp("reliable_ckpt"))
    spark.sparkContext.setCheckpointDir(d)
    return d


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.sql(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{path}')"
            )
    return con


@pytest.fixture(scope="session")
def duck():
    return make_duck(SF_SMOKE)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
