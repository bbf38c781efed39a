"""Fourth-engine check: the pandas implementations of the headline six
must agree row-for-row with the DuckDB oracle (which the Spark forms
are already checked against) — closing the reference's 4-engine
benchmark format (RDataFramesSQL.Rmd:139-152)."""

from __future__ import annotations

import math

import pytest

from sqlondataframesr_spark import registry
from sqlondataframesr_spark.check import compare_rows, duckdb_connect, duckdb_rows
from sqlondataframesr_spark.nversion_pandas import PANDAS_QUERIES, load_tables


@pytest.fixture(scope="module")
def con(sf_dir_mid):
    c = duckdb_connect(sf_dir_mid)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(PANDAS_QUERIES))
def test_pandas_matches_duckdb_oracle(con, sf_dir_mid, name):
    tables, fn = PANDAS_QUERIES[name]
    pdf = fn(load_tables(sf_dir_mid, tables))
    oracle = registry.oracles()[name]
    assert list(pdf.columns) == con.sql(oracle).columns
    cols = sorted(pdf.columns)
    # pandas NaN stands in for SQL NULL (finished_spend)
    rows = [
        tuple(None if isinstance(v, float) and math.isnan(v) else v for v in r)
        for r in pdf[cols].itertuples(index=False, name=None)
    ]
    cols_o, drows = duckdb_rows(con, oracle)
    problems = compare_rows(cols, rows, cols_o, drows)
    assert not problems, (name, problems)
    # the final sort is part of each N-version: rows must also come out
    # in the oracle's ORDER BY order
    for pr, dr in zip(rows, drows):
        assert not compare_rows(cols, [pr], cols_o, [dr]), (name, pr, dr)
