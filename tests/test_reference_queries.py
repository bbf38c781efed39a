"""Differential tests for the six transposed reference queries.

Mirrors the reference's own methodology (RDataFramesSQL.Rmd:40-53):
each fluent plan and each Spark-SQL form is checked against the DuckDB
oracle (external ground truth) at sf0.001. Equality under check's one
canonical form is transitive, so fluent ≡ oracle and SQL ≡ oracle prove
fluent ≡ SQL without building the fluent plan a second time.
"""

from __future__ import annotations

import pytest

from sqlondataframesr_spark import registry
from sqlondataframesr_spark.catalog import register_views
from sqlondataframesr_spark.check import compare_rows, spark_rows

NAMES = sorted(registry.queries())


@pytest.mark.parametrize("name", NAMES)
def test_vs_duckdb_oracle(spark, sf_dir, name, oracle_rows):
    df = registry.queries()[name](spark, sf_dir)
    problems = compare_rows(*spark_rows(df), *oracle_rows(sf_dir, registry.oracles()[name]))
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", sorted(registry.spark_sql()))
def test_fluent_vs_spark_sql(spark, sf_dir, name, oracle_rows):
    """The SQL form against the oracle; with test_vs_duckdb_oracle this
    proves fluent ≡ SQL by transitivity."""
    register_views(spark, sf_dir)
    # fixture-building hook BEFORE the SQL text runs — the dual must
    # work standalone, not rely on fluent-first ordering (ADVICE r6)
    registry.sql_prereqs().get(name, lambda: None)()
    via_sql = spark.sql(registry.spark_sql()[name])
    problems = compare_rows(*spark_rows(via_sql), *oracle_rows(sf_dir, registry.oracles()[name]))
    assert not problems, f"{name}: {problems}"


def test_entry_contract(spark, oracle_rows):
    """The driver's smoke check: ``entry(spark)`` is the flagship q3 at
    sf0.001, so its rows must equal q3's oracle rows."""
    import __spark_entry__ as e

    oracle = e.oracle_sql()["q3_top_orders_by_big_items"]
    problems = compare_rows(*spark_rows(e.entry(spark)), *oracle_rows(e.SF0001, oracle))
    assert not problems, problems
    assert set(e.oracle_sql()) == set(e.queries())
