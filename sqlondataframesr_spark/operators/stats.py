"""Inferential statistics on exact integer aggregates: closed-form
per-group OLS trend, a two-proportion A/B z-test, and MAD-robust
outlier days — the experimentation/trend surface of an analytics
engine, built so a 100 TB input reduces to a bounded frame before any
floating-point touches it.

North-star extensions (no reference counterpart — RDataFramesSQL.Rmd
has no regression/test-statistic surface; SURVEY.md north-star scope).

Scale design (100 TB):

- ``ml_ols_trend`` — the fact table is touched ONCE: a
  partial-aggregating shuffle down to (nation, month) rows (bounded by
  |nations| × |calendar months|), then a second tiny shuffle to one row
  per nation carrying the five OLS sufficient statistics
  (n, Σx, Σy, Σxy, Σx², Σy²). The regression itself is O(|nations|)
  arithmetic on those sums — no iterative fitting, no driver loop.
  Overflow: y is whole DOLLARS so Σy² fits BIGINT through ~sf10; the
  documented ≥sf100 path is DECIMAL(38,0) sums (Spark decimal sums are
  exact, DuckDB sums land in HUGEINT — see SCALE.md).
- ``ab_conversion_ztest`` — one shuffle keyed user_id collapses events
  to per-user conversion flags (partial agg moves (user, flag) pairs,
  not raw events); the arm split (user_id % 2 — a deterministic stand-in
  for the assignment column a real experiment carries) and the pooled
  z-statistic reduce to a SINGLE row.
- ``evt_mad_spikes`` / ``evt_cusum_shifts`` — daily totals first
  (partial-agg shuffle bounded by the calendar), then medians /
  running sums over the ≤ |days| frame. The unpartitioned windows here
  run ON that bounded frame (repo idiom: "the window runs on the
  matrix") — they never see event-sized data, so no single-task-sort
  hazard at any SF. CUSUM's max(0, S + x) recursion is unrolled into
  running_sum - running_min (exact, window-expressible) instead of a
  recursive scan.
- ``ml_discount_qty_corr`` — same sufficient-statistics shape as the
  OLS: lineitem ⋈ part reduces to 6 exact BIGINT sums per brand
  (discount in basis points ≤ 10, quantity ≤ 50: Σxy per brand stays
  < 2^63 beyond sf1000), then one mirrored float expression.

Determinism: every aggregate is exact BIGINT; doubles appear only in
final expressions built from +, -, *, /, sqrt on exact integers —
all IEEE-754 correctly rounded, mirrored token-for-token in the
oracles, hence bit-identical across engines. Guard rails: NULLIF on
every denominator — including the z-test's pooled-variance sqrt,
which is exactly 0.0 when the pooled rate is 0 or 1 (tiny SFs where
every sampled user converts). Degenerate inputs yield NULL, never an
ANSI div-by-zero.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..functions.dialect import SPARK, Dialect
from ..functions.rounding import r6_sql
from ..materialize import materialize

#: MAD multiplier for spike flagging (|x - med| > K * MAD); 2 rather
#: than the classic 3 because the events corpus spans only ~30 days —
#: K=3 flags nothing at sf<=0.01
MAD_K = 2

#: big-ticket conversion threshold for the A/B report (purchase value)
CONV_VALUE_MIN = 150


def _nation_monthly_dollars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_name, x, y): whole-dollar revenue y per nation and month index
    x (months since 1995-01) — the series both trend fits read."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(
            "n_name",
            (
                (F.year("o_orderdate") - F.lit(1995)) * 12
                + F.month("o_orderdate")
                - F.lit(1)
            )
            .cast("long")
            .alias("x"),
        )
        .agg(F.sum(F.expr("cast(round(o_totalprice) as bigint)")).alias("y"))
    )


def _moment_sums(n: str) -> list:
    """Exact BIGINT sufficient statistics of (x, y) per group: the row
    count as ``n`` and sx, sy, sxy, sxx, syy."""
    return [
        F.count(F.lit(1)).cast("long").alias(n),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    ]


def ml_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation linear revenue trend: OLS of monthly revenue (whole
    dollars) against month index, via exact sufficient statistics.

    Output: (n_name, n_months, slope_dollars_per_month, intercept_dollars,
    r2) — one row per nation, ordered by n_name.
    """
    monthly = _nation_monthly_dollars(spark, sf_dir)
    stats = monthly.groupBy("n_name").agg(*_moment_sums("n_months"))
    # mirrored token-for-token in the oracle (exact ints -> IEEE ops)
    return stats.selectExpr(
        "n_name",
        "n_months",
        "cast(n_months * sxy - sx * sy as double)"
        " / cast(nullif(n_months * sxx - sx * sx, 0) as double)"
        " as slope_dollars_per_month",
        "(cast(sy as double)"
        " - (cast(n_months * sxy - sx * sy as double)"
        "    / cast(nullif(n_months * sxx - sx * sx, 0) as double))"
        "   * cast(sx as double))"
        " / cast(n_months as double) as intercept_dollars",
        "(cast(n_months * sxy - sx * sy as double)"
        " * cast(n_months * sxy - sx * sy as double))"
        " / (cast(nullif(n_months * sxx - sx * sx, 0) as double)"
        "    * cast(nullif(n_months * syy - sy * sy, 0) as double)) as r2",
    ).orderBy("n_name")


def ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test of big-ticket conversion (a purchase of
    value >= CONV_VALUE_MIN — plain "any purchase" saturates to p=1 on
    this corpus) between arms (user_id % 2): a single-row experiment
    report with counts, exact ppm conversion rates, lift, and the
    pooled z statistic."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= CONV_VALUE_MIN),
                1,
            ).otherwise(0)
        ).alias("conv")
    )
    row = per_user.agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_control"),
        F.sum(F.when(F.col("user_id") % 2 == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_control"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_treat"),
        F.sum(F.when(F.col("user_id") % 2 == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_treat"),
    )
    return row.selectExpr(
        "n_control",
        "conv_control",
        "n_treat",
        "conv_treat",
        "conv_control * 1000000 div nullif(n_control, 0) as conv_control_ppm",
        "conv_treat * 1000000 div nullif(n_treat, 0) as conv_treat_ppm",
        "conv_treat * 1000000 div nullif(n_treat, 0)"
        " - conv_control * 1000000 div nullif(n_control, 0) as lift_ppm",
        # pooled two-proportion z; parenthesization mirrored in the oracle
        "(cast(conv_treat as double) / cast(nullif(n_treat, 0) as double)"
        " - cast(conv_control as double) / cast(nullif(n_control, 0) as double))"
        " / nullif(sqrt((cast(conv_control + conv_treat as double)"
        "         / cast(nullif(n_control + n_treat, 0) as double))"
        "        * (1.0 - cast(conv_control + conv_treat as double)"
        "               / cast(nullif(n_control + n_treat, 0) as double))"
        "        * (1.0 / cast(nullif(n_control, 0) as double)"
        "           + 1.0 / cast(nullif(n_treat, 0) as double))), 0.0d) as z_score",
    )


def _daily_purchase_median(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(daily, n_k, med): purchase cents per day, the lower-median rank
    k = (n+1) div 2 and the one-row lower median of the daily cents
    (total order (cents, day))."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.expr("cast(round(value * 100) as bigint)")).alias("cents")
    )
    # bounded frame (|calendar days| rows): unpartitioned windows are
    # safe here — they never see event-sized data
    n_k = daily.agg(F.expr("(count(1) + 1) div 2").alias("k"))
    w_med = Window.orderBy("cents", "day")
    med = (
        daily.withColumn("rn", F.row_number().over(w_med))
        .join(F.broadcast(n_k), F.col("rn") == F.col("k"))
        .select(F.col("cents").alias("med_cents"))
    )
    return daily, n_k, med


def evt_mad_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly days: daily purchase revenue whose absolute
    deviation from the LOWER MEDIAN exceeds MAD_K × MAD (median
    absolute deviation). Exact integer medians (k-th smallest at
    k = (n+1) div 2, total order (value, day)) — no interpolation, no
    floats. Output: (day, cents, med_cents, mad_cents, abs_dev) for
    spike days, ordered by day."""
    daily, n_k, med = _daily_purchase_median(spark, sf_dir)
    with_dev = daily.crossJoin(F.broadcast(med)).withColumn(
        "abs_dev", F.abs(F.col("cents") - F.col("med_cents"))
    )
    w_mad = Window.orderBy("abs_dev", "day")
    mad = (
        with_dev.withColumn("rn", F.row_number().over(w_mad))
        .join(F.broadcast(n_k), F.col("rn") == F.col("k"))
        .select(F.col("abs_dev").alias("mad_cents"))
    )
    return (
        with_dev.crossJoin(F.broadcast(mad))
        .filter(F.col("abs_dev") > MAD_K * F.col("mad_cents"))
        .select("day", "cents", "med_cents", "mad_cents", "abs_dev")
        .orderBy("day")
    )


def evt_cusum_shifts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upward change-point (CUSUM) series over daily purchase revenue:
    C_t = running_sum(cents - med) and cusum_pos = C_t - running_min(C),
    the classic max(0, S+x) recursion unrolled into two windows — all
    exact integers, no recursion, no floats.

    Output: (day, cents, cusum_pos) for every day, ordered; a sustained
    level shift shows as cusum_pos ramping away from zero."""
    daily, _, med = _daily_purchase_median(spark, sf_dir)
    w_run = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    run = (
        daily.crossJoin(F.broadcast(med))
        .withColumn("c_t", F.sum(F.col("cents") - F.col("med_cents")).over(w_run))
        .withColumn("c_min", F.min("c_t").over(w_run))
    )
    # LEAST(c_min, 0): the classic recursion's implicit empty prefix
    # (C_0 = 0) — without it a series that deviates upward from day one
    # would wrongly read cusum_pos = 0 on its first day
    return run.select(
        "day",
        "cents",
        (F.col("c_t") - F.least(F.col("c_min"), F.lit(0))).alias("cusum_pos"),
    ).orderBy("day")


def ml_discount_qty_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pearson correlation between discount (exact basis
    points) and quantity (exact units), from BIGINT sufficient
    statistics — the 'does discounting move volume' read, with the
    whole fact table reduced to 6 sums per brand before any float op.

    Output: (p_brand, n_lines, corr) ordered by p_brand."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("cast(round(l_discount * 100) as bigint)").alias("x"),
        F.expr("cast(round(l_quantity) as bigint)").alias("y"),
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    stats = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(*_moment_sums("n_lines"))
    )
    # mirrored token-for-token in the oracle
    return stats.selectExpr(
        "p_brand",
        "n_lines",
        "cast(n_lines * sxy - sx * sy as double)"
        " / nullif(sqrt(cast(n_lines * sxx - sx * sx as double))"
        "          * sqrt(cast(n_lines * syy - sy * sy as double)), 0.0d)"
        " as corr",
    ).orderBy("p_brand")


OLS_TREND_ORACLE = """
WITH monthly AS (
    SELECT n.n_name,
           CAST((extract(year FROM o.o_orderdate) - 1995) * 12
                + extract(month FROM o.o_orderdate) - 1 AS BIGINT) AS x,
           CAST(SUM(CAST(round(o.o_totalprice) AS BIGINT)) AS BIGINT) AS y
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name,
             (extract(year FROM o.o_orderdate) - 1995) * 12
             + extract(month FROM o.o_orderdate) - 1
),
stats AS (
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_months,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy
    FROM monthly
    GROUP BY n_name
)
SELECT n_name,
       n_months,
       CAST(n_months * sxy - sx * sy AS DOUBLE)
         / CAST(nullif(n_months * sxx - sx * sx, 0) AS DOUBLE)
         AS slope_dollars_per_month,
       (CAST(sy AS DOUBLE)
        - (CAST(n_months * sxy - sx * sy AS DOUBLE)
           / CAST(nullif(n_months * sxx - sx * sx, 0) AS DOUBLE))
          * CAST(sx AS DOUBLE))
        / CAST(n_months AS DOUBLE) AS intercept_dollars,
       (CAST(n_months * sxy - sx * sy AS DOUBLE)
        * CAST(n_months * sxy - sx * sy AS DOUBLE))
        / (CAST(nullif(n_months * sxx - sx * sx, 0) AS DOUBLE)
           * CAST(nullif(n_months * syy - sy * sy, 0) AS DOUBLE)) AS r2
FROM stats
ORDER BY n_name
"""


def _ztest_sql(d: Dialect) -> str:
    return f"""
WITH per_user AS (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'purchase' AND value >= {CONV_VALUE_MIN}
                    THEN 1 ELSE 0 END) AS conv
    FROM events
    GROUP BY user_id
),
row_agg AS (
    SELECT
      CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_control,
      CAST(SUM(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END) AS BIGINT)
        AS conv_control,
      CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_treat,
      CAST(SUM(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END) AS BIGINT)
        AS conv_treat
    FROM per_user
)
SELECT n_control, conv_control, n_treat, conv_treat,
       conv_control * 1000000 {d.div} nullif(n_control, 0) AS conv_control_ppm,
       conv_treat * 1000000 {d.div} nullif(n_treat, 0) AS conv_treat_ppm,
       conv_treat * 1000000 {d.div} nullif(n_treat, 0)
         - conv_control * 1000000 {d.div} nullif(n_control, 0) AS lift_ppm,
       (CAST(conv_treat AS DOUBLE) / CAST(nullif(n_treat, 0) AS DOUBLE)
        - CAST(conv_control AS DOUBLE) / CAST(nullif(n_control, 0) AS DOUBLE))
        / nullif(sqrt((CAST(conv_control + conv_treat AS DOUBLE)
                / CAST(nullif(n_control + n_treat, 0) AS DOUBLE))
               * (1.0 - CAST(conv_control + conv_treat AS DOUBLE)
                      / CAST(nullif(n_control + n_treat, 0) AS DOUBLE))
               * (1.0 / CAST(nullif(n_control, 0) AS DOUBLE)
                  + 1.0 / CAST(nullif(n_treat, 0) AS DOUBLE))), 0.0) AS z_score
FROM row_agg
"""


def _daily_median_sql(d: Dialect) -> str:
    """daily -> nk -> med: the oracle twin of :func:`_daily_purchase_median`."""
    return f"""daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY CAST(ts AS DATE)
),
nk AS (
    SELECT (CAST(COUNT(*) AS BIGINT) + 1) {d.div} 2 AS k FROM daily
),
med AS (
    SELECT cents AS med_cents
    FROM (SELECT cents,
                 ROW_NUMBER() OVER (ORDER BY cents, day) AS rn
          FROM daily) t, nk
    WHERE t.rn = nk.k
)"""


def _mad_spikes_sql(d: Dialect) -> str:
    return f"""
WITH {_daily_median_sql(d)},
with_dev AS (
    SELECT d.day, d.cents, m.med_cents,
           abs(d.cents - m.med_cents) AS abs_dev
    FROM daily d, med m
),
mad AS (
    SELECT abs_dev AS mad_cents
    FROM (SELECT abs_dev,
                 ROW_NUMBER() OVER (ORDER BY abs_dev, day) AS rn
          FROM with_dev) t, nk
    WHERE t.rn = nk.k
)
SELECT w.day, w.cents, w.med_cents, mad.mad_cents, w.abs_dev
FROM with_dev w, mad
WHERE w.abs_dev > {MAD_K} * mad.mad_cents
ORDER BY w.day
"""


def _cusum_sql(d: Dialect) -> str:
    return f"""
WITH {_daily_median_sql(d)},
run AS (
    SELECT d.day, d.cents,
           SUM(d.cents - m.med_cents)
             OVER (ORDER BY d.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c_t
    FROM daily d, med m
)
SELECT day, cents,
       CAST(c_t - LEAST(MIN(c_t) OVER (ORDER BY day
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND CURRENT ROW), 0)
            AS BIGINT) AS cusum_pos
FROM run
ORDER BY day
"""

DISCOUNT_CORR_ORACLE = """
WITH li AS (
    SELECT l_partkey,
           CAST(round(l_discount * 100) AS BIGINT) AS x,
           CAST(round(l_quantity) AS BIGINT) AS y
    FROM lineitem
),
stats AS (
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy
    FROM li
    JOIN part p ON li.l_partkey = p.p_partkey
    GROUP BY p.p_brand
)
SELECT p_brand,
       n_lines,
       CAST(n_lines * sxy - sx * sy AS DOUBLE)
         / nullif(sqrt(CAST(n_lines * sxx - sx * sx AS DOUBLE))
                  * sqrt(CAST(n_lines * syy - sy * sy AS DOUBLE)), 0.0)
         AS corr
FROM stats
ORDER BY p_brand
"""


def ml_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per nation: the MEDIAN of all pairwise
    monthly-revenue slopes — the estimator that shrugs off the outlier
    months OLS chases (complement to ml_ols_trend; same monthly grid).

    Integer contract: slope in MICRO-dollars/month =
    (y2-y1)·10^6 div (x2-x1); the median is the LOWER median (rank
    (n+1) div 2 of the sorted slopes) so it is a value from the data,
    identical in both engines with no even-count averaging. Ties in
    slope need no tie-break — the value at the median rank is
    well-defined whatever order equal slopes take. Range: |Δy|·10^6
    must fit int64, true through ~sf1000 monthly revenue (documented-
    range family, like OLS's Σy²).

    Scale (100 TB): the corpus collapses to the (nation × month) grid
    FIRST — bounded by calendar × |nations|, constant w.r.t. data
    volume — so the O(months²) pair join and the per-nation median
    window run on a broadcast-sized frame (≤ 84²/2 pairs per nation).

    Output: (n_name, n_months, n_pairs, theil_slope_micro) ordered by
    n_name."""
    monthly = _nation_monthly_dollars(spark, sf_dir)
    a = monthly.select(
        "n_name", F.col("x").alias("x1"), F.col("y").alias("y1")
    )
    b = monthly.select(
        F.col("n_name").alias("n2"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    )
    pairs = a.join(
        b, (F.col("n_name") == F.col("n2")) & (F.col("x1") < F.col("x2"))
    ).selectExpr(
        "n_name", "(y2 - y1) * 1000000 div (x2 - x1) as slope_micro"
    )
    w = Window.partitionBy("n_name").orderBy("slope_micro")
    ranked = pairs.withColumn("rn", F.row_number().over(w)).withColumn(
        "cnt", F.count(F.lit(1)).over(Window.partitionBy("n_name"))
    )
    med = ranked.filter(
        F.expr("rn = (cnt + 1) div 2")
    ).select(
        "n_name",
        F.col("cnt").cast("long").alias("n_pairs"),
        F.col("slope_micro").alias("theil_slope_micro"),
    )
    months = monthly.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_months")
    )
    return (
        months.join(med, "n_name")
        .select("n_name", "n_months", "n_pairs", "theil_slope_micro")
        .orderBy("n_name")
    )


def _theilsen_sql(d: Dialect) -> str:
    return f"""
WITH monthly AS (
    SELECT n.n_name,
           CAST((year(o.o_orderdate) - 1995) * 12
                + month(o.o_orderdate) - 1 AS BIGINT) AS x,
           CAST(SUM(CAST(round(o.o_totalprice) AS BIGINT)) AS BIGINT) AS y
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
),
pairs AS (
    SELECT a.n_name,
           (b.y - a.y) * 1000000 {d.div} (b.x - a.x) AS slope_micro
    FROM monthly a JOIN monthly b
      ON a.n_name = b.n_name AND a.x < b.x
),
ranked AS (
    SELECT n_name, slope_micro,
           row_number() OVER (PARTITION BY n_name
                              ORDER BY slope_micro) AS rn,
           COUNT(*) OVER (PARTITION BY n_name) AS cnt
    FROM pairs
),
med AS (
    SELECT n_name, CAST(cnt AS BIGINT) AS n_pairs,
           CAST(slope_micro AS BIGINT) AS theil_slope_micro
    FROM ranked WHERE rn = (cnt + 1) {d.div} 2
),
months AS (
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_months
    FROM monthly GROUP BY n_name
)
SELECT m.n_name, m.n_months, d.n_pairs, d.theil_slope_micro
FROM months m JOIN med d ON m.n_name = d.n_name
ORDER BY m.n_name
"""


def _wkend_sql(d: Dialect) -> str:
    """Weekend = ISO weekday in {Sat, Sun}."""
    return f"{d.isodow('ts')} >= 6"


def _cents_arm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cents, na, nb): purchases per cent value in arm A (weekday) and
    arm B (weekend) — the bounded frame both rank tests window over."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    return (
        ev.selectExpr(
            "cast(round(value * 100) as bigint) as cents",
            f"IF({_wkend_sql(SPARK)}, 1L, 0L) as is_b",
        )
        .groupBy("cents")
        .agg(
            F.sum(F.expr("1 - is_b")).cast("long").alias("na"),
            F.sum("is_b").cast("long").alias("nb"),
        )
    )


def _cents_arm_counts_sql(d: Dialect) -> str:
    """The oracle twin of :func:`_cents_arm_counts`."""
    return f"""per_v AS (
    SELECT CAST(round(value * 100) AS BIGINT) AS cents,
           CAST(SUM(CASE WHEN {_wkend_sql(d)} THEN 0 ELSE 1 END) AS BIGINT) AS na,
           CAST(SUM(CASE WHEN {_wkend_sql(d)} THEN 1 ELSE 0 END) AS BIGINT) AS nb
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
)"""


def dq_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance between weekday
    ('A') and weekend ('B') purchase-value distributions — "did the
    purchase-size distribution shift on weekends?".

    Integer contract: D = max_v |cumA(v)·nB − cumB(v)·nA| / (nA·nB);
    the numerator d_num is exact BIGINT, ks_ppm divides by the
    10^6-pre-divided denominator (house div-first pattern). Numerator
    bound: cum·n ≤ nA·nB — fits int64 through ~3×10^9 rows per arm
    (documented-range family, like OLS's Σy²).

    Scale (100 TB): one partial-aggregating shuffle collapses the
    corpus to per-CENT-VALUE counts — the value domain is PRICE-LIKE
    (≤ ~56k distinct cents at any SF), so the cumulative window runs
    on a bounded frame ("window on the matrix" idiom). For an
    unbounded domain, swap the window for operators.drank's
    distributed prefix sum — same formula, no single-task sort.

    Output: 1 row (n_a, n_b, n_points, d_num, ks_ppm)."""
    per_v = _cents_arm_counts(spark, sf_dir)
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    cum = per_v.select(
        "cents",
        "na",
        "nb",
        F.sum("na").over(w).alias("cum_a"),
        F.sum("nb").over(w).alias("cum_b"),
        F.sum("na").over(wt).alias("na_tot"),
        F.sum("nb").over(wt).alias("nb_tot"),
    )
    return cum.agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.max(
            F.abs(
                F.col("cum_a") * F.col("nb_tot")
                - F.col("cum_b") * F.col("na_tot")
            )
        )
        .cast("long")
        .alias("d_num"),
    ).selectExpr(
        "n_a",
        "n_b",
        "n_points",
        "d_num",
        "d_num div nullif((n_a * n_b) div 1000000, 0) as ks_ppm",
    )


def _ks_sql(d: Dialect) -> str:
    return f"""
WITH {_cents_arm_counts_sql(d)},
cum AS (
    SELECT cents, na, nb,
           SUM(na) OVER (ORDER BY cents
                         ROWS UNBOUNDED PRECEDING) AS cum_a,
           SUM(nb) OVER (ORDER BY cents
                         ROWS UNBOUNDED PRECEDING) AS cum_b,
           SUM(na) OVER () AS n_a,
           SUM(nb) OVER () AS n_b
    FROM per_v
),
agg AS (
    SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(MAX(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS d_num
    FROM cum
)
SELECT n_a, n_b, n_points, d_num,
       d_num {d.div} nullif((n_a * n_b) {d.div} 1000000, 0) AS ks_ppm
FROM agg
"""


def ab_mannwhitney_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) comparing weekday vs weekend purchase
    values, with the AUC effect size (P(A > B) + ½P(A = B)).

    Exact-integer trick: midranks are fractional (ties average to
    x.5), so everything is computed in DOUBLED ranks — the doubled
    midrank of a tied run spanning ranks [s, e] is s + e = 2·cum_before
    + cnt + 1, an integer. U2 = (doubled rank sum) − n(n+1) is exactly
    2U, and u2_a + u2_b = 2·nA·nB is the conservation invariant
    (property-tested). auc_ppm = U_A/(nA·nB) in ppm via the div-first
    pattern.

    Scale: identical shape to dq_ks_statistic — one partial-agg
    shuffle to the bounded per-cent-value frame, then windows on the
    matrix. Output: 1 row (n_a, n_b, u2_a, u2_b, auc_ppm)."""
    per_v = _cents_arm_counts(spark, sf_dir)
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.select(
        "na",
        "nb",
        F.coalesce(F.sum(F.expr("na + nb")).over(w), F.lit(0)).alias(
            "cum_before"
        ),
    ).selectExpr("na", "nb", "2 * cum_before + (na + nb) + 1 as dmr")
    return ranked.agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        F.sum(F.col("na") * F.col("dmr")).cast("long").alias("r2_a"),
        F.sum(F.col("nb") * F.col("dmr")).cast("long").alias("r2_b"),
    ).selectExpr(
        "n_a",
        "n_b",
        "r2_a - n_a * (n_a + 1) as u2_a",
        "r2_b - n_b * (n_b + 1) as u2_b",
        "(r2_a - n_a * (n_a + 1))"
        " div nullif((2 * n_a * n_b) div 1000000, 0) as auc_ppm",
    )


def _mwu_sql(d: Dialect) -> str:
    return f"""
WITH {_cents_arm_counts_sql(d)},
ranked AS (
    SELECT na, nb,
           2 * COALESCE(SUM(na + nb) OVER (ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + (na + nb) + 1 AS dmr
    FROM per_v
),
agg AS (
    SELECT CAST(SUM(na) AS BIGINT) AS n_a,
           CAST(SUM(nb) AS BIGINT) AS n_b,
           CAST(SUM(na * dmr) AS BIGINT) AS r2_a,
           CAST(SUM(nb * dmr) AS BIGINT) AS r2_b
    FROM ranked
)
SELECT n_a, n_b,
       r2_a - n_a * (n_a + 1) AS u2_a,
       r2_b - n_b * (n_b + 1) AS u2_b,
       (r2_a - n_a * (n_a + 1))
         {d.div} nullif((2 * n_a * n_b) {d.div} 1000000, 0) AS auc_ppm
FROM agg
"""


def evt_chisq_type_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit: is the event-type mix
    independent of the ISO weekday? Per contingency cell the observed
    count, the floor-integer expected count e = (row·col) div total,
    and the cell's chi-square contribution in MILLI units
    (d²·1000 div e — milli not micro so |d| < 9.6·10^7 stays in int64;
    documented-range family).

    Scale: ONE partial-agg shuffle to the |types|×7 matrix; row/col
    marginals are windows ON the matrix (≤ 35 rows). Output:
    (event_type, dow, o, e, chi_milli) ordered by (event_type, dow)."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.selectExpr("event_type", "cast(weekday(ts) as int) as dow")
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("dow")
    wt = Window.partitionBy()
    return (
        cells.select(
            "event_type",
            "dow",
            "o",
            F.sum("o").over(wr).alias("rt"),
            F.sum("o").over(wc).alias("ct"),
            F.sum("o").over(wt).alias("t"),
        )
        .selectExpr(
            "event_type",
            "dow",
            "o",
            "(rt * ct) div t as e",
            "(o - (rt * ct) div t) * (o - (rt * ct) div t) * 1000"
            " div nullif((rt * ct) div t, 0) as chi_milli",
        )
        .orderBy("event_type", "dow")
    )


def _chisq_sql(d: Dialect) -> str:
    return f"""
WITH cells AS (
    SELECT event_type, CAST({d.isodow('ts')} - 1 AS INT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS o
    FROM events GROUP BY 1, 2
),
marg AS (
    SELECT event_type, dow, o,
           SUM(o) OVER (PARTITION BY event_type) AS rt,
           SUM(o) OVER (PARTITION BY dow) AS ct,
           SUM(o) OVER () AS t
    FROM cells
)
SELECT event_type, dow, o,
       CAST((rt * ct) {d.div} t AS BIGINT) AS e,
       CAST((o - (rt * ct) {d.div} t) * (o - (rt * ct) {d.div} t) * 1000
            {d.div} nullif((rt * ct) {d.div} t, 0) AS BIGINT) AS chi_milli
FROM marg ORDER BY event_type, dow
"""


#: conformal split buckets out of 10: [0,6) train, [6,8) cal, [8,10) test
_CONF_TRAIN_HI = 6
_CONF_CAL_HI = 8
#: conformal miscoverage alpha = 0.1 -> the ceil(0.9(m+1)) calibration rank

def _conf_bucket_sql(d: Dialect) -> str:
    """The conformal split bucket of a line item out of 10
    (non-negative hash: ``%`` is ``pmod``)."""
    key = f"{d.cast_str('l_orderkey')} || ':' || {d.cast_str('l_linenumber')}"
    return f"({d.hex_bigint(f'substr(md5({key}), 1, 8)')} % 10)"


def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval around an OLS fit of
    line-item price on quantity (Vovk et al., "Algorithmic Learning in
    a Random World", 2005; Lei et al., JASA 2018 — public): fit on a
    60% hash split, take the ceil(0.9·(m+1))-th smallest absolute
    calibration residual as the interval radius, and report the
    empirical coverage of ±radius on the held-out 20% test split —
    the finite-sample-valid uncertainty a training pipeline attaches
    to any point predictor before acting on it.

    Determinism: the split is md5-uniform (a pure function of the
    row key); slope/intercept are ONE float expression over exact
    BIGINT sums computed once in a 1-row frame (token-identical in
    both engines); residuals are quantized to whole DOLLARS before
    the quantile, so rank selection and coverage counting are exact
    integer arithmetic.

    Scale (100 TB): two corpus scans — one for the train sums, one
    that histograms cal AND test residuals together — with the 1-row
    fit broadcast into the second (the perceptron's
    one-scan-per-round shape). The calibration quantile reads off a
    cumulative window over the DOLLAR histogram, whose size is
    bounded by the price domain (~10^5 buckets), not by row count —
    the evt_value_percentiles_exact policy, not a raw sort.

    Output: one row (n_train, slope, intercept, n_cal,
    q90_resid_usd, n_test, covered, coverage_ppm).
    """
    li = load_table(spark, sf_dir, "lineitem").selectExpr(
        f"{_conf_bucket_sql(SPARK)} as b",
        "cast(round(l_quantity) as bigint) as x",
        "cast(round(l_extendedprice * 100) as bigint) as y",
    )
    tr = li.filter(F.col("b") < _CONF_TRAIN_HI).agg(
        F.count(F.lit(1)).cast("long").alias("n_train"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    # n*sxy overflows int64 at row scale: go through double (exact
    # bigint inputs, one correctly-rounded expression, both engines)
    fit = tr.selectExpr(
        "n_train",
        "sx",
        "sy",
        "(cast(n_train as double) * cast(sxy as double)"
        " - cast(sx as double) * cast(sy as double))"
        " / nullif(cast(n_train as double) * cast(sxx as double)"
        "    - cast(sx as double) * cast(sx as double), 0.0d) as slope",
    ).selectExpr(
        "n_train",
        "slope",
        "(cast(sy as double) - slope * cast(sx as double))"
        " / cast(nullif(n_train, 0) as double) as intercept",
    )
    hist = (
        li.filter(F.col("b") >= _CONF_TRAIN_HI)
        .crossJoin(F.broadcast(fit))
        .selectExpr(
            f"IF(b < {_CONF_CAL_HI}, 'cal', 'test') as split",
            "cast(round(abs(cast(y as double)"
            " - (slope * cast(x as double) + intercept)) / 100.0)"
            " as bigint) as r_usd",
            "n_train",
            "slope",
            "intercept",
        )
        .groupBy("split", "r_usd", "n_train", "slope", "intercept")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        # hist feeds THREE consumers (cal quantile, test total, test
        # coverage): pin the bounded dollar histogram or each branch
        # re-scans the corpus (the lm_bigram tf lesson)
        .transform(materialize)
    )
    cal = hist.filter(F.col("split") == "cal")
    # cumulative window over the bounded dollar histogram (price
    # domain, not row count) — the percentile policy, no raw sort
    wcum = Window.orderBy("r_usd").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cal_cum = cal.select(
        "r_usd",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("m"),
    )
    q = cal_cum.selectExpr(
        "m",
        "cum",
        "r_usd",
        # clamp to m: with a tiny calibration split ceil(.9(m+1)) can
        # exceed m — the radius degrades to the max calibration
        # residual (the standard finite-sample fallback), never NULL
        "least((9 * (m + 1) + 9) div 10, m) as k",
    ).groupBy("m").agg(
        F.min(F.when(F.expr("cum >= k"), F.col("r_usd"))).alias(
            "q90_resid_usd"
        )
    )
    test = hist.filter(F.col("split") == "test").groupBy(
        "n_train", "slope", "intercept"
    ).agg(F.sum("cnt").cast("long").alias("n_test"))
    test_cov = (
        hist.filter(F.col("split") == "test")
        .crossJoin(F.broadcast(q))
        .agg(
            F.sum(
                F.when(F.col("r_usd") <= F.col("q90_resid_usd"), F.col("cnt"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("covered")
        )
    )
    return (
        test.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(test_cov))
        .selectExpr(
            "n_train",
            f"{r6_sql('slope')} as slope",
            f"{r6_sql('intercept')} as intercept",
            "m as n_cal",
            "q90_resid_usd",
            "n_test",
            "covered",
            "covered * 1000000 div nullif(n_test, 0) as coverage_ppm",
        )
    )


def _conformal_sql(d: Dialect) -> str:
    return f"""
WITH li AS (
    SELECT {_conf_bucket_sql(d)} AS b,
           CAST(round(l_quantity) AS BIGINT) AS x,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS y
    FROM lineitem
),
tr AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_train,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM li WHERE b < {_CONF_TRAIN_HI}
),
fit1 AS (
    SELECT n_train, sx, sy,
           (CAST(n_train AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / nullif(CAST(n_train AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0) AS slope
    FROM tr
),
fit AS (
    SELECT n_train, slope,
           (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
           / CAST(nullif(n_train, 0) AS DOUBLE) AS intercept
    FROM fit1
),
hist AS (
    SELECT CASE WHEN li.b < {_CONF_CAL_HI} THEN 'cal' ELSE 'test' END AS split,
           CAST(round(abs(CAST(li.y AS DOUBLE)
                - (f.slope * CAST(li.x AS DOUBLE) + f.intercept)) / 100.0)
                AS BIGINT) AS r_usd,
           f.n_train, f.slope, f.intercept,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM li CROSS JOIN fit f WHERE li.b >= {_CONF_TRAIN_HI}
    GROUP BY 1, 2, 3, 4, 5
),
cal_cum AS (
    SELECT r_usd,
           SUM(cnt) OVER (ORDER BY r_usd ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(cnt) OVER () AS m
    FROM hist WHERE split = 'cal'
),
q AS (
    SELECT m,
           MIN(CASE WHEN cum >= least((9 * (m + 1) + 9) {d.div} 10, m)
               THEN r_usd END) AS q90_resid_usd
    FROM cal_cum GROUP BY m
),
test AS (
    SELECT n_train, slope, intercept,
           CAST(SUM(cnt) AS BIGINT) AS n_test
    FROM hist WHERE split = 'test' GROUP BY 1, 2, 3
),
cov AS (
    SELECT CAST(SUM(CASE WHEN h.r_usd <= q.q90_resid_usd
                    THEN h.cnt ELSE 0 END) AS BIGINT) AS covered
    FROM hist h CROSS JOIN q WHERE h.split = 'test'
)
SELECT t.n_train,
       {r6_sql('t.slope')} AS slope,
       {r6_sql('t.intercept')} AS intercept,
       CAST(q.m AS BIGINT) AS n_cal,
       q.q90_resid_usd,
       t.n_test,
       c.covered,
       c.covered * 1000000 {d.div} nullif(t.n_test, 0) AS coverage_ppm
FROM test t CROSS JOIN q CROSS JOIN cov c
"""

QUERIES = {
    "ml_conformal_interval": ml_conformal_interval,
    "ml_ols_trend": ml_ols_trend,
    "ab_conversion_ztest": ab_conversion_ztest,
    "evt_mad_spikes": evt_mad_spikes,
    "evt_cusum_shifts": evt_cusum_shifts,
    "ml_discount_qty_corr": ml_discount_qty_corr,
    "ml_theilsen_trend": ml_theilsen_trend,
    "dq_ks_statistic": dq_ks_statistic,
    "ab_mannwhitney_auc": ab_mannwhitney_auc,
    "evt_chisq_type_weekday": evt_chisq_type_weekday,
}

TEMPLATES = {
    # these two texts are dialect-neutral
    "ml_ols_trend": OLS_TREND_ORACLE,
    "ml_discount_qty_corr": DISCOUNT_CORR_ORACLE,
    "ml_conformal_interval": _conformal_sql,
    "ab_conversion_ztest": _ztest_sql,
    "evt_mad_spikes": _mad_spikes_sql,
    "evt_cusum_shifts": _cusum_sql,
    "ml_theilsen_trend": _theilsen_sql,
    "dq_ks_statistic": _ks_sql,
    "ab_mannwhitney_auc": _mwu_sql,
    "evt_chisq_type_weekday": _chisq_sql,
}
