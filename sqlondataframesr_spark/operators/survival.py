"""Kaplan-Meier survival analysis over customer order lifetimes —
per-mktsegment churn curves with right-censoring, computed EXACTLY in
integer ppm so Spark and a SQL oracle agree bit-for-bit.

North-star extension (no reference counterpart — RDataFramesSQL.Rmd
has no survival surface; SURVEY.md north-star scope): the retention
curve a subscription/marketplace team draws from a 100 TB order log.

Semantics: a customer's lifetime starts at their first order. If their
last order lands before the censor horizon (2001-05-01 — 3 months
before the corpus ends) the churn *event* is observed at
``t = last - first`` days; otherwise the lifetime is right-censored at
``t = horizon - first``. Standard KM then walks event times t_i in
order: ``S_i = S_{i-1} * (n_i - d_i) / n_i`` with ``n_i`` the at-risk
count (subjects with lifetime >= t_i) and ``d_i`` the events at t_i.

Scale design (100 TB):

- The data-sized work is ONE partial-aggregating shuffle: orders ⋈
  customer, reduced to one row per customer (first/last order date).
  Everything after runs on frames bounded by |segments| × |calendar
  days| (≤ ~12k rows here), never by data volume.
- The cumulative product is a LEFT FOLD over each segment's ordered
  curve — ``F.aggregate`` over a ``sort_array(collect_list(...))`` of
  the bounded curve (≤ |distinct durations| elements). No exp/ln
  (libm log is NOT correctly rounded — the one float path that could
  diverge across engines), no recursive driver loop.
- The at-risk counts come from a descending running sum windowed ON
  the bounded curve frame (repo idiom: the window runs on the matrix).

Determinism: the fold is integer-only — ``S_i = (S_{i-1} * (n_i - d_i))
div n_i`` in truncating BIGINT division (all operands non-negative, so
Spark's ``div`` ≡ DuckDB's ``//``). The oracle replays the identical
recurrence with a RECURSIVE CTE — same integers, same truncation,
EXACT equality. survival_ppm = 1_000_000 × S(t), monotone
non-increasing (property-tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..functions.dialect import Dialect

#: right-censor horizon: lifetimes still active here are censored, not
#: churned (corpus order dates end 2001-08-01)
HORIZON = "2001-05-01"


def km_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment Kaplan-Meier curve. Output: (segment, duration_days,
    n_at_risk, d_events, survival_ppm) — one row per (segment, observed
    event time), ordered."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    per_cust = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.min("o_orderdate").alias("first_o"),
            F.max("o_orderdate").alias("last_o"),
        )
    )
    horizon = F.to_date(F.lit(HORIZON))
    observed = F.col("last_o") < F.lit(HORIZON).cast("timestamp")
    lifetimes = per_cust.select(
        F.col("c_mktsegment").alias("segment"),
        F.when(observed, F.datediff(F.to_date("last_o"), F.to_date("first_o")))
        .otherwise(F.datediff(horizon, F.to_date("first_o")))
        .cast("long")
        .alias("t"),
        F.when(observed, 1).otherwise(0).alias("ev"),
    )
    steps = lifetimes.groupBy("segment", "t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(1 - F.col("ev")).cast("long").alias("c"),
    )
    # at-risk = subjects with lifetime >= t: descending running sum on
    # the bounded (segment × duration) frame
    w = Window.partitionBy("segment").orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    curve = (
        steps.withColumn("n", F.sum(F.col("d") + F.col("c")).over(w))
        .filter(F.col("d") > 0)
        .select("segment", "t", "n", "d")
    )
    folded = curve.groupBy("segment").agg(
        F.expr(
            """
            aggregate(
              sort_array(collect_list(named_struct('t', t, 'n', n, 'd', d))),
              named_struct(
                's', cast(1000000 as bigint),
                'out', transform(
                  slice(sort_array(collect_list(named_struct('t', t, 'n', n, 'd', d))), 1, 0),
                  x -> named_struct('t', x.t, 'n', x.n, 'd', x.d,
                                    's', cast(0 as bigint)))),
              (acc, x) -> named_struct(
                's', (acc.s * (x.n - x.d)) div x.n,
                'out', concat(acc.out, array(named_struct(
                  't', x.t, 'n', x.n, 'd', x.d,
                  's', (acc.s * (x.n - x.d)) div x.n)))),
              acc -> acc.out
            )
            """
        ).alias("km")
    )
    return (
        folded.select("segment", F.expr("inline(km)"))
        .select(
            "segment",
            F.col("t").alias("duration_days"),
            F.col("n").alias("n_at_risk"),
            F.col("d").alias("d_events"),
            F.col("s").alias("survival_ppm"),
        )
        .orderBy("segment", "duration_days")
    )


def _km_sql(d: Dialect) -> str:
    return f"""
WITH RECURSIVE per_cust AS (
    SELECT c.c_mktsegment AS segment,
           o.o_custkey,
           MIN(o.o_orderdate) AS first_o,
           MAX(o.o_orderdate) AS last_o
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment, o.o_custkey
),
lifetimes AS (
    SELECT segment,
           CASE WHEN last_o < TIMESTAMP '{HORIZON} 00:00:00'
                THEN {d.date_diff_days('CAST(first_o AS DATE)', 'CAST(last_o AS DATE)')}
                ELSE {d.date_diff_days('CAST(first_o AS DATE)', f"DATE '{HORIZON}'")}
           END AS t,
           CASE WHEN last_o < TIMESTAMP '{HORIZON} 00:00:00' THEN 1 ELSE 0 END
             AS ev
    FROM per_cust
),
steps AS (
    SELECT segment, CAST(t AS BIGINT) AS t,
           CAST(SUM(ev) AS BIGINT) AS d,
           CAST(SUM(1 - ev) AS BIGINT) AS c
    FROM lifetimes
    GROUP BY segment, t
),
curve AS (
    SELECT segment, t, d, n,
           ROW_NUMBER() OVER (PARTITION BY segment ORDER BY t) AS rn
    FROM (
        SELECT segment, t, d,
               SUM(d + c) OVER (PARTITION BY segment ORDER BY t DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS n
        FROM steps
    ) t
    WHERE d > 0
),
km AS (
    SELECT segment, t, d, n, rn,
           (1000000 * (n - d)) {d.div} n AS s
    FROM curve
    WHERE rn = 1
    UNION ALL
    SELECT c.segment, c.t, c.d, c.n, c.rn,
           (km.s * (c.n - c.d)) {d.div} c.n
    FROM km
    JOIN curve c ON c.segment = km.segment AND c.rn = km.rn + 1
)
SELECT segment,
       t AS duration_days,
       CAST(n AS BIGINT) AS n_at_risk,
       CAST(d AS BIGINT) AS d_events,
       CAST(s AS BIGINT) AS survival_ppm
FROM km
ORDER BY segment, duration_days
"""

QUERIES = {"km_survival_curve": km_survival_curve}

# Spark 4 supports WITH RECURSIVE, so the SAME iterative KM recurrence
# runs as SQL text on both engines.
TEMPLATES = {
    "km_survival_curve": _km_sql,
}
