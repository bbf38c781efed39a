"""Driver-compare sortability guard.

The external gate sorts result rows as raw Python tuples; a NULL and a
non-NULL meeting at the first differing position raises TypeError and
crashes the whole comparison (found via q58's NULL group in r6). Pin
the invariant for every registered oracle: its result set must be
tuple-sortable. Queries that legitimately emit NULLs stay safe only
while an earlier unique column short-circuits the comparison — this
test fails the moment a registry change breaks that."""

from __future__ import annotations

import pytest

import sqlondataframesr_spark.registry as registry
from sqlondataframesr_spark.check import duckdb_connect, duckdb_rows


@pytest.fixture(scope="module")
def con(sf_dir_mid):
    c = duckdb_connect(sf_dir_mid)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(registry.oracles()))
def test_oracle_rows_are_tuple_sortable(con, name):
    _, rows = duckdb_rows(con, registry.oracles()[name])
    sorted(rows)  # TypeError here = the driver compare would crash
