"""Growth-accounting analytics over ``events``: the new-user curve,
rolling active-user (DAU/WAU stickiness), and monthly cohort-retention
reports.

North-star extension (no reference counterpart): the three charts every
growth dashboard opens with, built shuffle-minimal.

Scale design (100 TB):

- ``evt_new_users_daily`` — first-seen day per user is ONE
  partial-aggregated shuffle keyed by ``user_id`` (min over the fact
  table); the daily new-user counts and the cumulative window then run
  on a |days|-sized aggregate (a 10-year retention window is ~3.7k
  rows — the unpartitioned cumulative window is a single-task sort
  over kilobytes, not data).
- ``evt_dau_wau`` — the rolling 7-day distinct-user count does NOT
  re-scan events per window: events reduce once to the DISTINCT
  (user, day) activity table (itself the standard intermediate a
  warehouse materializes), each activity row fans out to the <= 7
  window-end days it can serve (bounded replication, the same
  bin-and-replicate discipline as evt_pairs_in_window), and a second
  DISTINCT collapses (user, window_end) before counting. Cost is
  7x the activity table, never 7x the events.

Determinism: stickiness is integer ppm (``dau * 1000000 div wau`` —
truncating bigint division, engine-portable); days are DATE on both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..functions.dialect import Dialect

#: rolling window width (days) for the active-user report
WAU_DAYS = 7


def evt_new_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New users per first-seen day and the cumulative user curve.

    Output: (day, n_new, n_cumulative) ordered by day — only days
    that acquired at least one user appear (gap-filling is q33's
    separate, composable concern).
    """
    first_seen = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("day"))
    )
    daily = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.withColumn(
        "n_cumulative", F.sum("n_new").over(w).cast("long")
    ).orderBy("day")


_NEW_USERS_BODY = """
  WITH first_seen AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
  ),
  daily AS (
    SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new FROM first_seen GROUP BY day
  )
  SELECT day, n_new,
         CAST(SUM(n_new) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_cumulative
  FROM daily
  ORDER BY day
"""


def evt_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per active day: distinct daily users (dau), distinct users in
    the :data:`WAU_DAYS`-day window ending that day (wau), and the
    DAU/WAU stickiness ratio in integer ppm.

    Output: (day, dau, wau, stickiness_ppm) ordered by day; only days
    with activity are emitted (wau >= dau >= 1, so the ppm division is
    total).
    """
    ud = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    fan = ud.crossJoin(
        F.broadcast(
            spark.range(WAU_DAYS).select(F.col("id").cast("int").alias("i"))
        )
    ).select("user_id", F.date_add(F.col("day"), F.col("i")).alias("wend"))
    wau = (
        fan.distinct()
        .groupBy(F.col("wend").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("wau"))
    )
    return (
        dau.join(wau, "day")  # inner: only real activity days
        .select(
            "day",
            "dau",
            "wau",
            F.expr("dau * 1000000L div wau").cast("long").alias("stickiness_ppm"),
        )
        .orderBy("day")
    )


def _dau_wau_sql(d: Dialect) -> str:
    return f"""
  WITH ud AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
  ),
  dau AS (
    SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day
  ),
  fan AS (
    SELECT DISTINCT user_id, day + CAST(g.i AS INT) AS wend
    FROM ud CROSS JOIN {d.generate_series(0, WAU_DAYS - 1)} AS g(i)
  ),
  wau AS (
    SELECT wend AS day, CAST(COUNT(*) AS BIGINT) AS wau FROM fan GROUP BY wend
  )
  SELECT d.day AS day, d.dau AS dau, w.wau AS wau,
         CAST(d.dau * 1000000 {d.div} w.wau AS BIGINT) AS stickiness_ppm
  FROM dau d JOIN wau w ON w.day = d.day
  ORDER BY d.day
"""


#: cohort epoch — a Monday, so week indices align to ISO-style weeks
COHORT_EPOCH = "1970-01-05"


def evt_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle — the third chart on every
    growth dashboard: users are cohorted by their FIRST active week
    (weeks start Monday, indexed from :data:`COHORT_EPOCH`); for each
    (cohort_week, week_offset) cell, how many cohort members were
    active that many weeks later, and the retention rate vs the
    cohort's size in integer ppm (offset 0 is 1e6 by construction).
    Weekly, not monthly, because the synthetic corpus spans ~5 weeks —
    the grain a month-long event store actually dashboards.

    Scale (100 TB): events reduce ONCE to the DISTINCT (user, week)
    activity table; the per-user first week is a keyed min REUSING
    that user_id partitioning (aggregate + self-join on the same key —
    no second corpus scan); the grid aggregate is bounded by weeks^2
    (a 10-year store is ~136k cells), and the cohort-size join
    broadcasts the offset-0 diagonal.

    Determinism: week indices are integer day-diffs div 7, retention
    is truncating bigint ppm. Output: (cohort_week DATE, week_offset,
    n_active, cohort_size, retention_ppm) ordered by (cohort_week,
    week_offset).
    """
    uw = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr(
                f"cast(datediff(to_date(ts), date'{COHORT_EPOCH}') div 7"
                " as long)"
            ).alias("widx"),
        )
        .distinct()
    )
    first = uw.groupBy("user_id").agg(F.min("widx").alias("cidx"))
    act = uw.join(first, "user_id").select(
        "cidx", (F.col("widx") - F.col("cidx")).cast("long").alias("week_offset")
    )
    grid = act.groupBy("cidx", "week_offset").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    base = grid.filter(F.col("week_offset") == 0).select(
        F.col("cidx").alias("bidx"), F.col("n_active").alias("cohort_size")
    )
    return (
        grid.join(F.broadcast(base), F.col("cidx") == F.col("bidx"))
        .select(
            F.expr(
                f"date_add(date'{COHORT_EPOCH}', cast(cidx * 7 as int))"
            ).alias("cohort_week"),
            "week_offset",
            "n_active",
            "cohort_size",
            F.expr("n_active * 1000000L div cohort_size")
            .cast("long")
            .alias("retention_ppm"),
        )
        .orderBy("cohort_week", "week_offset")
    )


def _cohort_retention_sql(d: Dialect) -> str:
    ddiff = d.date_diff_days(f"DATE '{COHORT_EPOCH}'", "CAST(ts AS DATE)")
    return f"""
  WITH uw AS (
    SELECT DISTINCT user_id,
           CAST({ddiff} {d.div} 7 AS BIGINT) AS widx
    FROM events
  ),
  first_w AS (
    SELECT user_id, MIN(widx) AS cidx FROM uw GROUP BY user_id
  ),
  act AS (
    SELECT f.cidx, CAST(uw.widx - f.cidx AS BIGINT) AS week_offset
    FROM uw JOIN first_w f ON f.user_id = uw.user_id
  ),
  grid AS (
    SELECT cidx, week_offset, CAST(COUNT(*) AS BIGINT) AS n_active
    FROM act GROUP BY cidx, week_offset
  ),
  base AS (
    SELECT cidx, n_active AS cohort_size FROM grid WHERE week_offset = 0
  )
  SELECT DATE '{COHORT_EPOCH}' + CAST(g.cidx * 7 AS INT) AS cohort_week,
         g.week_offset AS week_offset,
         g.n_active AS n_active,
         b.cohort_size AS cohort_size,
         CAST(g.n_active * 1000000 {d.div} b.cohort_size AS BIGINT)
           AS retention_ppm
  FROM grid g JOIN base b ON b.cidx = g.cidx
  ORDER BY cohort_week, week_offset
"""


QUERIES = {
    "evt_new_users_daily": evt_new_users_daily,
    "evt_dau_wau": evt_dau_wau,
    "evt_cohort_retention": evt_cohort_retention,
}
# the new-users text runs on both engines as is
TEMPLATES = {
    "evt_new_users_daily": _NEW_USERS_BODY,
    "evt_dau_wau": _dau_wau_sql,
    "evt_cohort_retention": _cohort_retention_sql,
}
