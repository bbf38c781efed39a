from __future__ import annotations

from contextlib import contextmanager

import pytest

from sqlondataframesr_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", cpus=8, driver_memory="8g")
    yield spark


@pytest.fixture(autouse=True)
def _release_pinned():
    """Per-test cache scope for persist-pinned plan branches."""
    from sqlondataframesr_spark.materialize import release_all

    yield
    release_all()


@pytest.fixture(scope="session")
def plant_tables(spark):
    """``with plant_tables(sf_dir, events=df): ...`` serves each given
    frame as ``catalog.load_table(spark, str(sf_dir), name)`` — the
    loader's first lookup is its table cache — and removes them all
    when the block exits. Session-scoped, so a hypothesis ``@given``
    body can plant a fresh corpus per example."""
    from sqlondataframesr_spark import catalog

    @contextmanager
    def plant(sf_dir, **tables):
        app = spark.sparkContext.applicationId
        keys = [(app, str(sf_dir), name) for name in tables]
        catalog._table_cache.update(zip(keys, tables.values()))
        try:
            yield str(sf_dir)
        finally:
            for key in keys:
                catalog._table_cache.pop(key, None)

    return plant


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_mid():
    return SF_DIR_MID


@pytest.fixture(scope="session")
def oracle_rows():
    """Each DuckDB oracle runs once per session: ``(sf_dir, oracle
    text) -> check.duckdb_rows(...)``, shared by the oracle test and the
    dual test, which would otherwise both execute it."""
    from sqlondataframesr_spark.check import duckdb_connect, duckdb_rows

    cons: dict = {}
    memo: dict = {}

    def rows(sf_dir: str, sql: str):
        key = (sf_dir, sql)
        if key not in memo:
            if sf_dir not in cons:
                cons[sf_dir] = duckdb_connect(sf_dir)
            memo[key] = duckdb_rows(cons[sf_dir], sql)
        return memo[key]

    yield rows
    for con in cons.values():
        con.close()
