"""The benchmark's workloads: which registered queries run, and how.

A ``fluent`` query is built with ``registry.queries()[name](spark,
dir)`` and materialized with ``toPandas``. A ``diff`` query runs three
ways, the reference's all_equal loop: the fluent plan and the
``spark.sql`` dual are collected as rows and each is compared with the
DuckDB oracle by ``check.compare_rows``.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    mode: str  # "fluent" or "diff"


#: The reference's six tasks (queries/reference.py), split so that each
#: workload has three query shapes: its pooled median then falls inside
#: one shape's samples instead of in the gap between two.
WORKLOADS = {
    "ref_latency": Workload(
        ("q1_yearly_top_order", "q4_price_spread",
         "q6_distinct_suppliers_of_qualifying_brands"),
        "fluent",
    ),
    "oracle_diff": Workload(
        ("q2_top_customers_by_spend", "q3_top_orders_by_big_items",
         "q5_user_event_totals"),
        "diff",
    ),
}


def _py(v):
    """A pandas result cell as a plain Python value; NaN and NaT read as
    NULL, as they do in collected rows and DuckDB results."""
    if hasattr(v, "to_pydatetime"):
        return None if v != v else v.to_pydatetime()
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def pandas_rows(pdf) -> tuple[list[str], list[tuple]]:
    """Sorted column names and rows of a pandas result, as Python values."""
    cols = sorted(pdf.columns)
    rows = [tuple(_py(v) for v in row)
            for row in pdf[cols].itertuples(index=False, name=None)]
    return cols, rows


def _sorted_columns(names: list[str], rows) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(names)), key=names.__getitem__)
    return [names[i] for i in order], [tuple(r[i] for i in order) for r in rows]


def spark_rows(df) -> tuple[list[str], list[tuple]]:
    """Sorted column names and collected rows of a Spark DataFrame."""
    return _sorted_columns(df.columns, df.collect())


def duckdb_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    """Sorted column names and rows of a DuckDB query."""
    cur = con.execute(sql)
    return _sorted_columns([d[0] for d in cur.description], cur.fetchall())


def digest(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    """Row count and an order-insensitive hash of a result; floats are
    rounded to 6 places, as the oracles' own rounding allows."""
    def cell(v):
        return round(v, 6) + 0.0 if isinstance(v, float) else v

    lines = sorted(repr(tuple(cell(v) for v in r)) for r in rows)
    h = hashlib.md5(repr([c.lower() for c in cols]).encode())
    for line in lines:
        h.update(line.encode())
    return len(rows), h.hexdigest()
