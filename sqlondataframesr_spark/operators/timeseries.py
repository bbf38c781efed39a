"""Time-series parity operators: time-weighted average (TimescaleDB
``time_weight('LOCF')`` shape) and OHLC candle bars — the two
downsampling reads a metrics/trading team runs on a 100 TB tick store.

North-star extensions (no reference counterpart — RDataFramesSQL.Rmd
has no time-series surface; SURVEY.md north-star scope). Related: the
continuous aggregate (operators/hypertable.py) maintains SUM/COUNT
rollups; these two add order-sensitive per-bucket shapes.

Scale design (100 TB):

- Both operators are ONE bucket-keyed window shuffle (day / hour) with
  the aggregation reusing the window's partitioning (grouping keys ⊇
  partition keys — no second data-sized exchange), then bounded output
  (|days| / |hours| rows). A hot bucket is a hot key — same inherent
  bound as sessionize's hot user, same documented cap escape.
- ``evt_time_weighted_avg`` — the LOCF integral: each observation
  holds its value until the next one (or midnight). Durations
  PARTITION the day, so the per-day integral Σ cents×dur_ms is
  bounded by max_cents × 86,400,000 — a constant w.r.t. data volume:
  the exact-BIGINT contract survives ANY scale factor (contrast the
  OLS Σy² whose bound grows with SF — SCALE.md).
- ``evt_ohlc_hourly`` — open/close are row_number endpoints on the
  total per-bucket order (ts, event_id) — NOT ``arg_min(v, ts)``,
  whose tie-break on equal timestamps is engine-dependent.

Determinism: integer cents × integer milliseconds, truncating div for
the weighted mean, total order (ts, event_id) for open/close — every
emitted value is exact BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..functions.dialect import Dialect

_CENTS = "cast(round(value * 100) as bigint)"


def evt_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day LOCF time-weighted average of the purchase-event value:
    each event's cents are weighted by the milliseconds until the next
    event of the day (the last event holds until midnight). The span
    before the first event has no observation and contributes nothing
    (document-parity with time_weight's first-point behavior).

    Output: (day, n_events, weighted_ms, twap_cents) ordered by day.
    twap_cents = Σ cents×dur_ms div Σ dur_ms (truncating)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("day").orderBy("t_ms", "event_id")
    obs = ev.select(
        F.to_date("ts").alias("day"),
        F.expr("unix_micros(ts) div 1000").alias("t_ms"),
        "event_id",
        F.expr(_CENTS).alias("cents"),
    )
    day_end_ms = F.expr(
        "unix_micros(cast(date_add(day, 1) as timestamp)) div 1000"
    )
    with_dur = obs.withColumn(
        "dur_ms",
        F.coalesce(F.lead("t_ms").over(w), day_end_ms) - F.col("t_ms"),
    )
    return (
        with_dur.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("cents") * F.col("dur_ms")).cast("long").alias(
                "weighted_ms"
            ),
            F.sum("dur_ms").cast("long").alias("span_ms"),
        )
        .selectExpr(
            "day",
            "n_events",
            "weighted_ms",
            "weighted_ms div nullif(span_ms, 0) as twap_cents",
        )
        .orderBy("day")
    )


def evt_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candle bars over purchase values: open/close are
    the first/last observation in (ts, event_id) order, high/low the
    extremes, volume the event count. Output: (hour, open_cents,
    high_cents, low_cents, close_cents, n_events) ordered by hour."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    obs = ev.select(
        F.date_trunc("hour", "ts").alias("hour"),
        "ts",
        "event_id",
        F.expr(_CENTS).alias("cents"),
    )
    w = Window.partitionBy("hour").orderBy("ts", "event_id")
    marked = obs.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_in", F.count(F.lit(1)).over(Window.partitionBy("hour"))
    )
    return (
        marked.groupBy("hour")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("cents"))).alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.max(F.when(F.col("rn") == F.col("n_in"), F.col("cents"))).alias(
                "close_cents"
            ),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .orderBy("hour")
    )


#: autocorrelation lags probed by evt_daily_acf
ACF_LAGS = 7


def _daily_purchase_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, x): the daily purchase-cents series."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    return (
        ev.select(F.to_date("ts").alias("day"), F.expr(_CENTS).alias("cents"))
        .groupBy("day")
        .agg(F.sum("cents").cast("long").alias("x"))
    )


def evt_daily_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily purchase-revenue series at lags
    1..ACF_LAGS, in exact integer ppm — the seasonality probe a
    metrics team runs before picking a forecasting window.

    Semantics (integer contract, identical in both engines): the
    series is centered on the FLOOR mean m = S div n; acf_ppm(k) =
    Σ r_t·r_{t+k} div (Σ r_t² div 10^6), all divisions truncating.
    The 10^6 pre-division of the denominator (instead of multiplying
    the numerator by 10^6) keeps every intermediate inside int64 for
    any series with daily revenue below ~5×10^8 dollars — the same
    documented-range contract as ml_ols_trend's Σy² (SCALE.md).

    Scale: ONE corpus scan collapses events to the daily series,
    whose length is the CALENDAR SPAN (30 rows here; 36,500 rows for
    a century) — a constant w.r.t. data volume, so the subsequent
    ordered window + lag self-join run on a broadcast-sized frame.
    Output: (lag, n_pairs, num, acf_ppm) ordered by lag."""
    daily = _daily_purchase_cents(spark, sf_dir)
    stats = daily.agg(
        F.sum("x").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    # bounded frame (calendar span): the global window is over the
    # AGGREGATED series, not the corpus — same policy as top-terms
    idx = (
        daily.crossJoin(F.broadcast(stats))
        .selectExpr("day", "x - (s div n) as r")
        .withColumn(
            "t", F.row_number().over(Window.orderBy("day"))
        )
    )
    den = idx.agg(F.sum(F.col("r") * F.col("r")).cast("long").alias("den"))
    lags = spark.range(1, ACF_LAGS + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = idx.select(F.col("t").alias("ta"), F.col("r").alias("r0"))
    b = idx.select(F.col("t").alias("tb"), F.col("r").alias("r1"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(F.broadcast(b), F.col("tb") == F.col("ta") + F.col("lag"))
    )
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("r0") * F.col("r1")).cast("long").alias("num"),
        )
        .crossJoin(F.broadcast(den))
        .selectExpr(
            "lag",
            "n_pairs",
            "num",
            "num div nullif(den div 1000000, 0) as acf_ppm",
        )
        .orderBy("lag")
    )


#: EWMA trailing depth (observations) and dyadic decay alpha = 1/2:
#: weight of the k-th most recent observation is 2^(EWMA_W-1-k) —
#: exact integers, no float pow anywhere
EWMA_W = 20


def evt_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily purchase revenue
    with dyadic decay (alpha = 1/2), exact in integer cents: the k-th
    most recent of the trailing {EWMA_W} observations carries weight
    2^({EWMA_W}-1-k), so every numerator term, the denominator, and
    the truncating-div mean are BIGINT — no recursive float state, no
    engine-dependent summation order.

    Semantics: ewma_cents(t) = Σ_k x_{{t-k}}·2^(W-1-k) div Σ_k 2^(W-1-k)
    over k = 0..min(W-1, t-1) — a warm-up-aware weighted mean, the
    batch twin of the streaming EWMA a metrics store materializes.

    Scale: ONE corpus scan collapses events to the calendar-bounded
    daily series (same policy as evt_daily_acf); the lag unroll is a
    broadcast fan over that AGGREGATED series ({EWMA_W}× a ~30-row
    frame), never over raw events. Int64 bound: daily cents ≤ 1.7e13
    keeps Σ x·2^19 under 2^63 — documented-range contract like
    ml_ols_trend's Σy².

    Output: (day, x_cents, n_terms, ewma_cents) ordered by day."""
    daily = _daily_purchase_cents(spark, sf_dir)
    idx = daily.withColumn("t", F.row_number().over(Window.orderBy("day")))
    lags = spark.range(0, EWMA_W).select(F.col("id").cast("int").alias("k"))
    a = idx.select("day", F.col("x"), F.col("t").alias("ta"))
    b = idx.select(F.col("t").alias("tb"), F.col("x").alias("xb"))
    terms = (
        a.crossJoin(F.broadcast(lags))
        .join(F.broadcast(b), F.col("tb") == F.col("ta") - F.col("k"))
    )
    pow2 = F.expr(f"cast(shiftleft(1L, {EWMA_W} - 1 - k) as bigint)")
    return (
        terms.groupBy("day", "x")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum(F.col("xb") * pow2).cast("long").alias("num"),
            F.sum(pow2).cast("long").alias("den"),
        )
        .selectExpr(
            "day",
            "x as x_cents",
            "n_terms",
            "num div den as ewma_cents",
        )
        .orderBy("day")
    )


def _ewma_sql(d: Dialect) -> str:
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
idx AS (
    SELECT day, x, row_number() OVER (ORDER BY day) AS t FROM daily
),
lags AS (SELECT {d.fn('unnest', d.seq(0, EWMA_W))} AS k),
terms AS (
    SELECT a.day, a.x, l.k, b.x AS xb,
           CAST(1 AS BIGINT) << ({EWMA_W} - 1 - l.k) AS w
    FROM idx a
    JOIN lags l ON TRUE
    JOIN idx b ON b.t = a.t - l.k
)
SELECT day, x AS x_cents,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(xb * w) AS BIGINT) {d.div} CAST(SUM(w) AS BIGINT)
         AS ewma_cents
FROM terms GROUP BY day, x ORDER BY day
"""


def _acf_sql(d: Dialect) -> str:
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
    FROM events WHERE event_type = 'purchase' GROUP BY 1
),
st AS (
    SELECT CAST(SUM(x) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
    FROM daily
),
idx AS (
    SELECT x - (SELECT s {d.div} n FROM st) AS r,
           row_number() OVER (ORDER BY day) AS t
    FROM daily
),
den AS (SELECT CAST(SUM(r * r) AS BIGINT) AS den FROM idx),
lags AS (SELECT {d.fn('unnest', d.seq(1, ACF_LAGS + 1))} AS lag),
pairs AS (
    SELECT l.lag, a.r AS r0, b.r AS r1
    FROM lags l
    JOIN idx a ON TRUE
    JOIN idx b ON b.t = a.t + l.lag
)
SELECT CAST(lag AS INT) AS lag,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(r0 * r1) AS BIGINT) AS num,
       CAST(SUM(r0 * r1) AS BIGINT)
         {d.div} nullif((SELECT den FROM den) {d.div} 1000000, 0) AS acf_ppm
FROM pairs GROUP BY lag ORDER BY lag
"""


def orders_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE evaluation of the seasonal-naive forecast on monthly order
    revenue: forecast(m) = revenue(m-12), scaled by the one-step naive
    |revenue(m) - revenue(m-1)| — the standard "is seasonality worth
    modeling?" baseline check before anyone ships a forecaster.

    Integer contract: revenues in exact cents; mase_ppm = SAE div
    (SANE div 10^6) (house div-first — both error sums stay int64
    through ~sf30's monthly revenue, documented-range family). Both
    sums run over the SAME eval months (m >= 12, both lags present on
    the contiguous 1995-2001 grid). mase_ppm < 10^6 means the seasonal
    forecast beats the naive.

    Scale: one corpus scan to the calendar-bounded monthly grid; the
    two lags are windows ON that grid. Output: 1 row
    (n_eval, sae_c, sane_c, mase_ppm)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            (
                (F.year("o_orderdate") - F.lit(1995)) * 12
                + F.month("o_orderdate")
                - F.lit(1)
            )
            .cast("long")
            .alias("x")
        )
        .agg(
            F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)"))
            .cast("long")
            .alias("y")
        )
    )
    w = Window.orderBy("x")
    lagged = monthly.select(
        "x",
        "y",
        F.lag("y", 12).over(w).alias("y_season"),
        F.lag("y", 1).over(w).alias("y_naive"),
    ).filter(F.col("x") >= 12)
    return lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum(F.abs(F.col("y") - F.col("y_season"))).cast("long").alias("sae_c"),
        F.sum(F.abs(F.col("y") - F.col("y_naive"))).cast("long").alias("sane_c"),
    ).selectExpr(
        "n_eval",
        "sae_c",
        "sane_c",
        "sae_c div nullif(sane_c div 1000000, 0) as mase_ppm",
    )


def _mase_sql(d: Dialect) -> str:
    return f"""
WITH monthly AS (
    SELECT CAST((year(o_orderdate) - 1995) * 12
                + month(o_orderdate) - 1 AS BIGINT) AS x,
           CAST(SUM({_O_CENTS}) AS BIGINT) AS y
    FROM orders GROUP BY 1
),
lagged AS (
    SELECT x, y,
           lag(y, 12) OVER (ORDER BY x) AS y_season,
           lag(y, 1) OVER (ORDER BY x) AS y_naive
    FROM monthly
),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
           CAST(SUM(abs(y - y_season)) AS BIGINT) AS sae_c,
           CAST(SUM(abs(y - y_naive)) AS BIGINT) AS sane_c
    FROM lagged WHERE x >= 12
)
SELECT n_eval, sae_c, sane_c,
       sae_c {d.div} nullif(sane_c {d.div} 1000000, 0) AS mase_ppm
FROM agg
"""

_O_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"


def _twap_sql(d: Dialect) -> str:
    next_day_us = d.fn("epoch_us", f"CAST(day + INTERVAL {d.interval(1, 'DAY')} AS TIMESTAMP)")
    return f"""
WITH obs AS (
    SELECT CAST(ts AS DATE) AS day,
           {d.fn('epoch_us', 'ts')} {d.div} 1000 AS t_ms,
           event_id,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
    WHERE event_type = 'purchase'
),
with_dur AS (
    SELECT day, cents,
           COALESCE(
               LEAD(t_ms) OVER (PARTITION BY day ORDER BY t_ms, event_id),
               {next_day_us} {d.div} 1000
           ) - t_ms AS dur_ms
    FROM obs
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents * dur_ms) AS BIGINT) AS weighted_ms,
       CAST(SUM(cents * dur_ms) AS BIGINT)
         {d.div} nullif(CAST(SUM(dur_ms) AS BIGINT), 0) AS twap_cents
FROM with_dur
GROUP BY day
ORDER BY day
"""

OHLC_ORACLE = """
WITH obs AS (
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
           ts, event_id,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
    WHERE event_type = 'purchase'
),
marked AS (
    SELECT hour, cents,
           ROW_NUMBER() OVER (PARTITION BY hour ORDER BY ts, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY hour) AS n_in
    FROM obs
)
SELECT hour,
       MAX(CASE WHEN rn = 1 THEN cents END) AS open_cents,
       MAX(cents) AS high_cents,
       MIN(cents) AS low_cents,
       MAX(CASE WHEN rn = n_in THEN cents END) AS close_cents,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM marked
GROUP BY hour
ORDER BY hour
"""

QUERIES = {
    "evt_time_weighted_avg": evt_time_weighted_avg,
    "evt_ohlc_hourly": evt_ohlc_hourly,
    "evt_daily_acf": evt_daily_acf,
    "evt_ewma_daily": evt_ewma_daily,
    "orders_seasonal_naive_mase": orders_seasonal_naive_mase,
}

TEMPLATES = {
    # the OHLC text is fully portable
    "evt_ohlc_hourly": OHLC_ORACLE,
    "evt_time_weighted_avg": _twap_sql,
    "evt_daily_acf": _acf_sql,
    "evt_ewma_daily": _ewma_sql,
    "orders_seasonal_naive_mase": _mase_sql,
}
