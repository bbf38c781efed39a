"""Differential-testing harness.

The reference's correctness methodology is N-version testing: every
query's sqldf/SQLite result is the oracle and each alternative
implementation is compared with ``dplyr::all_equal(..,
ignore_row_order=TRUE)`` (RDataFramesSQL.Rmd:40-53, 154-169). Here
every comparison goes through :func:`compare_rows`, under the one value
rule the driver's hash applies: a float is its ``repr(round(v, 12))``,
and every other value keeps its Python type, so an int never equals a
float. Rows compare as sorted multisets; column names compare
case-insensitively after sorting.

- A Spark result vs its DuckDB oracle: ``compare_rows(*spark_rows(df),
  *duckdb_rows(con, oracle_sql))``, with ``con`` from
  :func:`duckdb_connect` (the same tables as views over the same
  parquet files), opened once per data dir by each caller.
- :func:`compare_frames` — Spark vs Spark, e.g. a streaming or
  rewritten plan vs its batch twin.
"""

from __future__ import annotations

import math
from typing import Any

from pyspark.sql import DataFrame

from .catalog import TABLES


def duckdb_connect(sf_dir: str):
    """A DuckDB connection with the same tables registered as views."""
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def _canonical(rows: list[tuple]) -> list[tuple]:
    def norm(v: Any):
        if v is None:
            return ("\x00null",)
        if isinstance(v, float):
            if math.isnan(v):
                return ("f", "nan")
            # the driver hashes a string form: floats agree only when
            # their repr agrees after a 1e-12 quantization
            return ("f", repr(round(v, 12)))
        if isinstance(v, (list, tuple)):
            return ("l", tuple(norm(x) for x in v))
        return (type(v).__name__, v)

    return sorted((tuple(norm(v) for v in row) for row in rows))


def spark_rows(df: DataFrame) -> tuple[list[str], list[tuple]]:
    """Sorted column names and collected rows of a Spark DataFrame."""
    cols = sorted(df.columns)
    return cols, [tuple(r) for r in df.select(cols).collect()]


def duckdb_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    """Sorted column names and rows of a DuckDB query."""
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=names.__getitem__)
    return [names[i] for i in order], [tuple(r[i] for i in order) for r in cur.fetchall()]


def compare_rows(
    left_cols: list[str],
    left_rows: list[tuple],
    right_cols: list[str],
    right_rows: list[tuple],
) -> list[str]:
    """Return a list of human-readable mismatch descriptions (empty = equal)."""
    problems: list[str] = []
    if [c.lower() for c in left_cols] != [c.lower() for c in right_cols]:
        problems.append(f"column mismatch: {left_cols} vs {right_cols}")
        return problems
    if len(left_rows) != len(right_rows):
        problems.append(f"row count: {len(left_rows)} vs {len(right_rows)}")
    lc = _canonical(left_rows)
    rc = _canonical(right_rows)
    if lc != rc:
        diff_l = [r for r in lc if r not in rc][:3]
        diff_r = [r for r in rc if r not in lc][:3]
        problems.append(f"value mismatch; only-left={diff_l} only-right={diff_r}")
    return problems


def compare_frames(a: DataFrame, b: DataFrame) -> list[str]:
    return compare_rows(*spark_rows(a), *spark_rows(b))


#: DuckDB output types whose driver-side hash is known to agree with
#: the Spark value at equal magnitudes. Notably ABSENT: HUGEINT (what a
#: bare ``SUM(INTEGER)``/``count_if`` returns in DuckDB) and DECIMAL —
#: both hash differently from Spark's BIGINT/DOUBLE even when the
#: numbers are equal, which burned se_task2/se_task5/q45 in round 4.
ORACLE_TYPE_WHITELIST = frozenset({
    "BIGINT", "INTEGER", "SMALLINT", "TINYINT", "UBIGINT", "UINTEGER",
    "DOUBLE", "FLOAT", "VARCHAR", "BOOLEAN", "DATE", "TIMESTAMP",
    "TIMESTAMP_NS", "TIMESTAMP WITH TIME ZONE",
})


def oracle_type_violations(con, oracle_sql: str) -> list[tuple[str, str]]:
    """(column, duckdb_type) pairs whose declared output type falls
    outside :data:`ORACLE_TYPE_WHITELIST`.

    Run at registration time on every ``oracle_sql()`` entry: DuckDB
    plans the query without executing it, so this catches a bare
    ``SUM()`` (HUGEINT) or an unpinned DECIMAL before the driver's
    value hash ever sees it.
    """
    rel = con.sql(oracle_sql)
    return [
        (c, str(t)) for c, t in zip(rel.columns, rel.types)
        if str(t).split("(")[0] not in ORACLE_TYPE_WHITELIST
    ]
