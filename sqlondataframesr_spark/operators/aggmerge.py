"""Mergeable partial aggregates — incremental view maintenance's core
primitive, demonstrated end-to-end.

At 100 TB you do not recompute yesterday's aggregate when today's
partition lands: you keep per-partition PARTIAL states and MERGE them.
That only works for aggregates whose state is associative and
commutative — sum-of-sums, count-of-counts, min-of-mins, max-of-maxes,
and (the classic trap) AVG carried as (sum, count), never as an
average of averages.

:func:`evt_agg_merge` computes per-event-type partials over the two
event_id parity halves INDEPENDENTLY (two batches arriving at
different times), merges the states, and finalizes. The DuckDB oracle
is the direct single-pass aggregate over the full table — equality IS
the merge-correctness proof, driver-checked on every run.

Scale: each half is one partial-aggregated keyed shuffle; the merge
re-aggregates state rows whose cardinality is the GROUP count (5 event
types), not the corpus — the same shape as merging daily rollups into
a monthly view. Money sums are exact bigint cents, so the merged state
is bit-identical to the direct pass regardless of partition order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..functions.rounding import r6 as _r6

def _state_aggs() -> list:
    """The mergeable state per key — a function, not a module
    constant: Column construction needs an active SparkContext."""
    cents = F.expr("cast(round(value * 100) as bigint)")
    return [
        F.count(F.lit(1)).alias("s_n"),
        F.sum(cents).alias("s_sum_c"),
        F.min(cents).alias("s_min_c"),
        F.max(cents).alias("s_max_c"),
    ]


def partial_states(events: DataFrame, *keys: str) -> DataFrame:
    """One batch's mergeable aggregate state per key."""
    return events.groupBy(*keys).agg(*_state_aggs())


def merge_states(states: DataFrame, *keys: str) -> DataFrame:
    """Merge any number of partial-state rows per key and finalize
    (avg derived from merged (sum, count) — never avg-of-avgs)."""
    merged = states.groupBy(*keys).agg(
        F.sum("s_n").alias("n_events"),
        F.sum("s_sum_c").alias("sum_c"),
        F.min("s_min_c").alias("min_c"),
        F.max("s_max_c").alias("max_c"),
    )
    return merged.select(
        *keys,
        "n_events",
        F.round(F.col("sum_c").cast("double") / 100.0, 2).alias("total_value"),
        F.round(F.col("min_c").cast("double") / 100.0, 2).alias("min_value"),
        F.round(F.col("max_c").cast("double") / 100.0, 2).alias("max_value"),
        _r6(
            (F.col("sum_c").cast("double") / F.col("n_events").cast("double"))
            / 100.0).alias("avg_value"),
    )


def evt_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial states over the two event_id parity halves, merged and
    finalized. Output: per event_type (n_events, total/min/max/avg
    value), ordered — provably equal to the direct aggregate.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    half0 = partial_states(ev.filter(F.col("event_id") % 2 == 0), "event_type")
    half1 = partial_states(ev.filter(F.col("event_id") % 2 == 1), "event_type")
    return merge_states(half0.unionAll(half1), "event_type").orderBy("event_type")


#: the direct single-pass aggregate — equality proves merge correctness
EVT_AGG_MERGE_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       round(CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2)
         AS total_value,
       round(CAST(MIN(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2)
         AS min_value,
       round(CAST(MAX(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2)
         AS max_value,
       round(CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 100.0, 6) AS avg_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""

QUERIES = {"evt_agg_merge": evt_agg_merge}
TEMPLATES = {
    "evt_agg_merge": EVT_AGG_MERGE_ORACLE,
}
