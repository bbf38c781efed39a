"""Range (interval) self-join: pairs of events of the same user within
a time window of each other.

The reference has no non-equi joins at all (SURVEY.md §2.4: "all joins
are equi-joins"); this is a north-star extension covering the join
class Spark's planner handles worst. A literal `|t_a - t_b| <= W`
condition plus only a `user_id` equi-key degrades to a shuffle join
whose per-user workload is quadratic — and with no equi-key at all it
is a BroadcastNestedLoopJoin, a non-starter at 100 TB.

The scale pattern implemented here is **bin-and-replicate**: quantize
time into W-sized bins, emit each left row under its own bin AND the
next bin, and equi-join on (user_id, bin). Any pair within W is in the
same or adjacent bin, so emitting {bin, bin+1} on one side of the
symmetric self-join catches every unordered pair exactly where
bin_left <= bin_right; the exact |Δt| <= W predicate then filters the
equi-join's candidates, and normalizing the pair to (lesser id, greater
id) + DISTINCT removes the double-hit when both events share a bin.

Properties at scale: one shuffle keyed (user_id, bin) with 2×
replication of one side — no quadratic blowup beyond genuine in-window
density, no nested-loop. Hot (user, bin) cells are ordinary AQE
skew-join work. The same shape implements spatial grid joins (bin =
geohash cell) and numeric band joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..functions.dialect import Dialect

#: pair window in seconds
WINDOW_S = 600
_WINDOW_US = WINDOW_S * 1_000_000


def pairs_in_window(ev: DataFrame, window_us: int) -> DataFrame:
    """Bin-and-replicate interval self-join over (event_id, user_id,
    us): all unordered same-user pairs with |Δus| <= window_us, as
    (user_id, event_a < event_b, dt_us). See the module docstring for
    the rewrite; property-tested against the naive quadratic join in
    tests/test_properties.py."""
    ev = ev.withColumn(
        "bin", F.expr(f"us div {window_us}")  # integer div: no double rounding
    )
    left = ev.select(
        F.col("event_id").alias("id_a"),
        F.col("user_id").alias("u_a"),
        F.col("us").alias("us_a"),
        F.explode(F.array(F.col("bin"), F.col("bin") + 1)).alias("key"),
    )
    right = ev.select(
        F.col("event_id").alias("id_b"),
        F.col("user_id").alias("u_b"),
        F.col("us").alias("us_b"),
        F.col("bin").alias("key_b"),
    )
    hits = left.join(
        right,
        (F.col("u_a") == F.col("u_b"))
        & (F.col("key") == F.col("key_b"))
        & (F.col("id_a") != F.col("id_b"))
        & (F.abs(F.col("us_a") - F.col("us_b")) <= F.lit(window_us)),
    )
    return (
        hits.select(
            F.col("u_a").alias("user_id"),
            F.least("id_a", "id_b").alias("event_a"),
            F.greatest("id_a", "id_b").alias("event_b"),
            F.when(F.col("id_a") < F.col("id_b"), F.col("us_b") - F.col("us_a"))
            .otherwise(F.col("us_a") - F.col("us_b"))
            .alias("dt_us"),
        )
        .distinct()
        .orderBy("event_a", "event_b")
    )


def evt_pairs_in_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All unordered pairs of same-user events with |Δts| <= 600 s.
    Integer microseconds end-to-end: bit-exact across engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    return pairs_in_window(ev, _WINDOW_US)


def _pairs_in_window_sql(d: Dialect) -> str:
    return f"""
SELECT a.user_id,
       a.event_id AS event_a,
       b.event_id AS event_b,
       CAST({d.fn("epoch_us", "b.ts")} - {d.fn("epoch_us", "a.ts")} AS BIGINT) AS dt_us
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_id < b.event_id
 AND abs({d.fn("epoch_us", "b.ts")} - {d.fn("epoch_us", "a.ts")}) <= {_WINDOW_US}
ORDER BY event_a, event_b
"""


QUERIES = {"evt_pairs_in_window": evt_pairs_in_window}
TEMPLATES = {
    "evt_pairs_in_window": _pairs_in_window_sql,
}
