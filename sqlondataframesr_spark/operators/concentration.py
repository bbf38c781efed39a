"""Activity concentration over ``events``: Pareto deciles and the Gini
coefficient, both in exact integer arithmetic.

North-star extension (no reference counterpart): the "do 10% of users
generate 90% of traffic?" questions — the measurement side of the
skew story that `operators/salt` handles mechanically.

Scale design (100 TB): both operators reduce events to ONE row per
user in a single partial-aggregated shuffle; the decile bucketing and
the Gini rank then run over the user-level aggregate via
:func:`operators.drank.with_global_rank` — a range shuffle + N
parallel per-partition sorts + broadcast offsets, NEVER an
unpartitioned window (VERDICT r9 item 1: the old exact-``ntile``
single-task sort was the named 10^8-user bottleneck). The rank is
bit-for-bit the single sort's, so the oracles below keep their plain
``OVER (ORDER BY ...)`` form and every output stays EXACT. Plan shape
(no Sort fed by Exchange SinglePartition, rangepartitioning present)
is pinned in tests/test_plans.py.

Determinism: shares are integer ppm; the Gini numerator
``2*Σ(i·x_i) − (n+1)·Σx`` is exact bigint with a documented range
contract — |Σ(i·x_i)| ≤ n²·avg(x), inside int64 through ~3·10^7 users
at ~10^4 events each; beyond that compute the ratio in double as an
approximation (the rank sum, not the data, is what overflows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..functions.dialect import Dialect
from .drank import ntile_expr, with_global_rank

#: Pareto bucket count (deciles)
N_DECILES = 10


def _per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )


def evt_activity_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users bucketed into activity deciles (1 = most active): per
    decile the user count, event count, and share of all events in
    integer ppm.

    Output: (decile, n_users, n_events, share_ppm) ordered by decile.
    """
    ranked = with_global_rank(
        _per_user(spark, sf_dir),
        [("n_events", "desc"), ("user_id", "asc")],
        value_col="n_events",
    )
    bucketed = ranked.select(
        ntile_expr("g_rank", "g_n", N_DECILES).alias("decile"),
        "n_events",
        "g_vtotal",
    )
    per_decile = bucketed.groupBy("decile", "g_vtotal").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_events").cast("long").alias("n_events"),
    )
    return per_decile.select(
        "decile",
        "n_users",
        "n_events",
        F.expr("n_events * 1000000L div g_vtotal").cast("long").alias("share_ppm"),
    ).orderBy("decile")


def _deciles_sql(d: Dialect) -> str:
    return f"""
  WITH per_user AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
  ),
  bucketed AS (
    SELECT CAST(NTILE({N_DECILES}) OVER
             (ORDER BY n_events DESC, user_id ASC) AS BIGINT) AS decile,
           n_events
    FROM per_user
  ),
  per_decile AS (
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_events) AS BIGINT) AS n_events
    FROM bucketed GROUP BY decile
  )
  SELECT decile, n_users, n_events,
         CAST(n_events * 1000000 {d.div} SUM(n_events) OVER () AS BIGINT)
           AS share_ppm
  FROM per_decile
  ORDER BY decile
"""


def evt_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event counts, exact to 6 decimal
    places: ``gini_ppm = (2*Σ(i·x_i) − (n+1)·Σx) · 10^6 div (n·Σx)``
    with i = ascending rank (ties broken by user_id — the rank-sum
    formula is tie-break-invariant because tied x contribute the same
    total either way).

    Output: ONE row (n_users, total_events, gini_ppm).
    """
    ranked = with_global_rank(
        _per_user(spark, sf_dir),
        [("n_events", "asc"), ("user_id", "asc")],
        rank_name="i",
    ).select("i", "n_events")
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("n_events").cast("long").alias("total_events"),
        F.expr(
            "cast((2 * sum(i * n_events) - (count(1) + 1) * sum(n_events))"
            " * 1000000 div (count(1) * sum(n_events)) as bigint)"
        ).alias("gini_ppm"),
    )


def _gini_sql(d: Dialect) -> str:
    return f"""
  WITH per_user AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
  ),
  ranked AS (
    SELECT CAST(row_number() OVER
             (ORDER BY n_events ASC, user_id ASC) AS BIGINT) AS i, n_events
    FROM per_user
  )
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(n_events) AS BIGINT) AS total_events,
         CAST((2 * SUM(i * n_events) - (COUNT(*) + 1) * SUM(n_events))
              * 1000000 {d.div} (COUNT(*) * SUM(n_events)) AS BIGINT)
           AS gini_ppm
  FROM ranked
"""


def cust_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC revenue classification of customers (the 80/95 Pareto
    cut): customers are ranked by lifetime spend descending and
    assigned A while the cumulative share BEFORE them is under 80%,
    B under 95%, else C — the straddling customer goes to the higher
    class, so A is never empty.

    All boundaries are exact integer inequalities on cents
    (``prev_cum * 5 < 4 * total`` for 80%, ``prev_cum * 20 <
    19 * total`` for 95%). One shuffle to the per-customer aggregate;
    the cumulative spend is a distributed prefix sum
    (:func:`drank.with_global_rank` — range shuffle + parallel
    per-partition running sums + broadcast offsets, no single-task
    sort). Output: (abc_class, n_customers, revenue_c, share_ppm)
    ordered by class.
    """
    per = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.expr("cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint)")
            .alias("spend_c")
        )
    )
    ranked = with_global_rank(
        per,
        [("spend_c", "desc"), ("o_custkey", "asc")],
        value_col="spend_c",
        cum_name="cum_c",
        vtotal_name="total_c",
    )
    classed = ranked.withColumn(
        "abc_class",
        F.when(
            F.expr("(cum_c - spend_c) * 5 < 4 * total_c"), F.lit("A")
        ).when(
            F.expr("(cum_c - spend_c) * 20 < 19 * total_c"), F.lit("B")
        ).otherwise(F.lit("C")),
    )
    return (
        classed.groupBy("abc_class", "total_c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("spend_c").cast("long").alias("revenue_c"),
        )
        .select(
            "abc_class",
            "n_customers",
            "revenue_c",
            F.expr("cast(revenue_c * 1000000 div total_c as bigint)").alias(
                "share_ppm"
            ),
        )
        .orderBy("abc_class")
    )


def _abc_sql(d: Dialect) -> str:
    return f"""
  WITH per AS (
    SELECT o_custkey,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS spend_c
    FROM orders GROUP BY o_custkey
  ),
  ranked AS (
    SELECT o_custkey, spend_c,
           SUM(spend_c) OVER (ORDER BY spend_c DESC, o_custkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c,
           SUM(spend_c) OVER () AS total_c
    FROM per
  ),
  classed AS (
    SELECT spend_c,
           CASE WHEN (cum_c - spend_c) * 5 < 4 * total_c THEN 'A'
                WHEN (cum_c - spend_c) * 20 < 19 * total_c THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
  ),
  agg AS (
    SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(spend_c) AS BIGINT) AS revenue_c
    FROM classed GROUP BY abc_class
  )
  SELECT abc_class, n_customers, revenue_c,
         CAST(revenue_c * 1000000 {d.div} SUM(revenue_c) OVER () AS BIGINT)
           AS share_ppm
  FROM agg
  ORDER BY abc_class
"""


def event_cents_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, cents, cnt): events per type and cent value — the
    bounded per-value frame the percentile operators read."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.selectExpr(
            "event_type", "cast(round(value * 100) as bigint) as cents"
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def evt_value_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact P50/P90/P99 of the event value per event type WITHOUT
    sorting raw data: the value domain is price-like (≤ ~56k distinct
    cents at any SF), so one partial-agg shuffle collapses the corpus
    to a per-(type, cents) histogram and the percentile is read off
    the cumulative counts — the 100 TB strategy where q11's
    sort-based ``percentile()`` would shuffle every raw row.

    Definition (integer, engine-portable): P_q = the smallest cents
    with 100·cum ≥ q·n (the discrete lower quantile — ceil(q·n/100)
    rank — no interpolation, so no dialect rounding seam).

    Output: (event_type, n, p50_cents, p90_cents, p99_cents)."""
    hist = event_cents_histogram(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wt = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "cents",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wt).alias("n"),
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.min(F.when(F.expr("100 * cum >= 50 * n"), F.col("cents"))).alias(
                "p50_cents"
            ),
            F.min(F.when(F.expr("100 * cum >= 90 * n"), F.col("cents"))).alias(
                "p90_cents"
            ),
            F.min(F.when(F.expr("100 * cum >= 99 * n"), F.col("cents"))).alias(
                "p99_cents"
            ),
        )
        .orderBy("event_type")
    )


EVT_VALUE_PCT_ORACLE = """
WITH hist AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
),
cum AS (
    SELECT event_type, cents,
           SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(cnt) OVER (PARTITION BY event_type) AS n
    FROM hist
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
       MIN(CASE WHEN 100 * cum >= 50 * n THEN cents END) AS p50_cents,
       MIN(CASE WHEN 100 * cum >= 90 * n THEN cents END) AS p90_cents,
       MIN(CASE WHEN 100 * cum >= 99 * n THEN cents END) AS p99_cents
FROM cum GROUP BY event_type ORDER BY event_type
"""


QUERIES = {
    "evt_value_percentiles_exact": evt_value_percentiles_exact,
    "evt_activity_deciles": evt_activity_deciles,
    "evt_activity_gini": evt_activity_gini,
    "cust_abc_classes": cust_abc_classes,
}
TEMPLATES = {
    # the percentile body is dialect-portable (no // or date seams)
    "evt_value_percentiles_exact": EVT_VALUE_PCT_ORACLE,
    "evt_activity_deciles": _deciles_sql,
    "evt_activity_gini": _gini_sql,
    "cust_abc_classes": _abc_sql,
}
