"""Customer-journey analytics over ``events`` and ``orders``: Markov
transition matrix, RFM segmentation, and an append-only snapshot diff.

North-star extensions (no reference counterpart — RDataFramesSQL.Rmd is
six one-shot queries over a static Stack-Exchange dump): the three
reports a growth/analytics team runs weekly on a 100 TB event store.

Scale design:

- ``evt_transition_matrix`` — ONE window shuffle keyed by ``user_id``
  (the lag), then a partial-aggregating shuffle straight down to the
  |event_types|^2 matrix (25 rows here; bounded by the type vocabulary,
  never by data volume). The row-normalizing window runs ON the matrix,
  so its exchange moves <= 25 rows.
- ``cust_rfm_segments`` — recency/frequency/monetary reduce to ONE row
  per customer in a single partial-aggregated shuffle (the fact table
  is touched once); the three exact quintiles are then computed over
  the customer-level aggregate by ``operators.drank.with_global_rank``
  (range shuffle + parallel per-partition sorts + broadcast offsets —
  VERDICT r9 item 1 replaced the old unpartitioned ``ntile``, which
  was a single-task sort at 10^8+ customers) and converted to NTILE
  buckets by the exact closed form ``drank.ntile_expr``. Bit-for-bit
  the quintiles the oracle's plain ``NTILE(5) OVER (ORDER BY ...)``
  assigns, because every order ends in the unique ``o_custkey``.
- ``orders_snapshot_diff`` — change-data-capture between the snapshot
  at cutoff T1 and the current snapshot, FUSED into one conditional
  aggregation pass (``sum(if(date < T1, cents, 0))`` vs ``sum(cents)``)
  because both snapshots derive from one append-only table — no
  self-join, no second scan. (The general two-source full-outer diff
  shape is queries/extensions.py q25.) Top movers come out through
  TakeOrderedAndProject, never a global sort.

Determinism: money is integer CENTS, transition probabilities are
integer PPM (``n * 1000000 div total`` — bigint division truncates
identically in Spark and DuckDB for non-negative operands), and every
window order key ends in a unique column, so both engines assign
identical ntile buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..functions.dialect import Dialect
from ..materialize import materialize
from .drank import ntile_expr, with_global_rank
from .sessionize import user_cap_report, user_cap_report_sql

_CENTS = "cast(round(o_totalprice * 100) as bigint)"

#: snapshot cutoff for the CDC diff — mid-corpus (orders span
#: 1995-01-01 .. 2001-08-01 at every SF), so all three change classes
#: (new / grown / flat) are populated
SNAPSHOT_T1 = "1999-01-01 00:00:00"

#: top movers emitted by the snapshot diff
DIFF_TOP_K = 100

#: RFM quantile buckets (classic quintiles, 1 = best)
RFM_BUCKETS = 5


def evt_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix of event types: for each observed
    (prev_type, next_type) pair of consecutive events of one user
    (time order, ties on event_id), the transition count and the
    row-normalized probability in integer ppm.

    Output: (prev_type, next_type, n_transitions, prob_ppm) ordered by
    (prev_type, next_type) — at most |event_types|^2 rows.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.withColumn("prev_type", F.lag("event_type").over(w)).filter(
        F.col("prev_type").isNotNull()
    )
    counts = pairs.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    return (
        counts.withColumn(
            "prob_ppm",
            # integer div, not float /: truncation is engine-portable
            F.expr(
                "n_transitions * 1000000L div "
                "sum(n_transitions) over (partition by prev_type)"
            ).cast("long"),
        )
        .orderBy("prev_type", "next_type")
    )


def _transition_sql(d: Dialect) -> str:
    return f"""
  WITH pairs AS (
    SELECT lag(event_type) OVER
             (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
           event_type AS next_type
    FROM events
  ),
  counts AS (
    SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM pairs WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
  )
  SELECT prev_type, next_type, n_transitions,
         CAST(n_transitions * 1000000 {d.div}
              SUM(n_transitions) OVER (PARTITION BY prev_type) AS BIGINT)
           AS prob_ppm
  FROM counts
  ORDER BY prev_type, next_type
"""


def cust_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per (r_q, f_q, m_q) quintile cell (1 = best),
    the customer count and total monetary value in cents.

    Recency is days from the corpus max order date to the customer's
    last order; frequency is order count; monetary is lifetime spend.
    Output: (r_q, f_q, m_q, n_customers, monetary_c) ordered by the
    three quintiles — at most 125 rows.
    """
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("f_orders"),
            F.expr(f"sum({_CENTS})").cast("long").alias("m_cents"),
        )
    )
    ref = per_cust.agg(F.max("last_order").alias("ref_date"))
    scored = per_cust.crossJoin(F.broadcast(ref)).withColumn(
        "r_days", F.datediff("ref_date", "last_order").cast("long")
    )
    n = RFM_BUCKETS
    axes = [
        ("r_q", [("r_days", "asc"), ("o_custkey", "asc")]),
        ("f_q", [("f_orders", "desc"), ("o_custkey", "asc")]),
        ("m_q", [("m_cents", "desc"), ("o_custkey", "asc")]),
    ]
    cur = scored
    for q_name, order in axes:
        cur = with_global_rank(
            cur, order, rank_name="__rank", total_name="__n"
        ).withColumn(q_name, ntile_expr("__rank", "__n", n)).drop("__rank", "__n")
    quintiled = cur.select("r_q", "f_q", "m_q", "m_cents")
    return (
        quintiled.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("m_cents").cast("long").alias("monetary_c"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


def _rfm_sql(d: Dialect) -> str:
    return f"""
  WITH per_cust AS (
    SELECT o_custkey, MAX(o_orderdate) AS last_order,
           CAST(COUNT(*) AS BIGINT) AS f_orders,
           CAST(SUM({_CENTS}) AS BIGINT) AS m_cents
    FROM orders GROUP BY o_custkey
  ),
  scored AS (
    SELECT o_custkey, f_orders, m_cents,
           CAST({d.date_diff_days('last_order', 'ref_date')} AS BIGINT) AS r_days
    FROM per_cust, (SELECT MAX(last_order) AS ref_date FROM per_cust)
  ),
  quintiled AS (
    SELECT CAST(NTILE({RFM_BUCKETS}) OVER
             (ORDER BY r_days ASC, o_custkey ASC) AS BIGINT) AS r_q,
           CAST(NTILE({RFM_BUCKETS}) OVER
             (ORDER BY f_orders DESC, o_custkey ASC) AS BIGINT) AS f_q,
           CAST(NTILE({RFM_BUCKETS}) OVER
             (ORDER BY m_cents DESC, o_custkey ASC) AS BIGINT) AS m_q,
           m_cents
    FROM scored
  )
  SELECT r_q, f_q, m_q, CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(m_cents) AS BIGINT) AS monetary_c
  FROM quintiled GROUP BY r_q, f_q, m_q
  ORDER BY r_q, f_q, m_q
"""


def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC diff of per-customer spend between the order snapshot at
    :data:`SNAPSHOT_T1` and the full (current) snapshot: the top
    :data:`DIFF_TOP_K` movers by spend delta.

    change_type: 'new' (first order after T1), 'grown' (spend
    increased), 'flat' (no orders since T1). Output: (c_custkey,
    spend_t1_c, spend_t2_c, delta_c, change_type) ordered by
    (delta_c desc, c_custkey asc).
    """
    per = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.expr(
                f"sum(if(o_orderdate < timestamp'{SNAPSHOT_T1}', {_CENTS}, 0L))"
            )
            .cast("long")
            .alias("spend_t1_c"),
            F.expr(f"sum({_CENTS})").cast("long").alias("spend_t2_c"),
        )
    )
    return (
        per.withColumn(
            "delta_c", (F.col("spend_t2_c") - F.col("spend_t1_c")).cast("long")
        )
        .withColumn(
            "change_type",
            F.when(F.col("spend_t1_c") == 0, F.lit("new"))
            .when(F.col("delta_c") > 0, F.lit("grown"))
            .otherwise(F.lit("flat")),
        )
        .orderBy(F.col("delta_c").desc(), F.col("c_custkey").asc())
        .limit(DIFF_TOP_K)
    )


_DIFF_BODY = f"""
  WITH per AS (
    SELECT o_custkey AS c_custkey,
           CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '{SNAPSHOT_T1}'
                         THEN {_CENTS} ELSE 0 END) AS BIGINT) AS spend_t1_c,
           CAST(SUM({_CENTS}) AS BIGINT) AS spend_t2_c
    FROM orders GROUP BY o_custkey
  )
  SELECT c_custkey, spend_t1_c, spend_t2_c,
         CAST(spend_t2_c - spend_t1_c AS BIGINT) AS delta_c,
         CASE WHEN spend_t1_c = 0 THEN 'new'
              WHEN spend_t2_c > spend_t1_c THEN 'grown'
              ELSE 'flat' END AS change_type
  FROM per
  ORDER BY delta_c DESC, c_custkey ASC
  LIMIT {DIFF_TOP_K}
"""


def evt_daily_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily volume anomalies per event type: days whose event count
    exceeds 1.25x the type's daily mean ('spike') or falls below 0.8x
    ('dip').

    The thresholds are EXACT integer inequalities on the daily-count
    aggregate — ``4*n*n_days > 5*total`` and ``5*n*n_days < 4*total``
    — so no float mean/stddev ever enters the comparison (a z-score
    variant would need (n*nd - S)^2 which overflows int64 once daily
    counts reach ~1e9 at corpus scale; the ratio form stays in range
    through ~2e9 events/day over a 10-year retention window).
    Scale: one partial-aggregated shuffle to |types| x |days| rows;
    the per-type stats window runs on that bounded aggregate.

    Output: (event_type, day, n_events, mean_m, kind) — mean_m is the
    type's daily mean in milli-events — ordered by (event_type, day).
    """
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    w = Window.partitionBy("event_type")
    stats = daily.withColumn("total", F.sum("n_events").over(w)).withColumn(
        "n_days", F.count(F.lit(1)).over(w)
    )
    return (
        stats.withColumn(
            "kind",
            F.when(
                F.expr("4 * n_events * n_days > 5 * total"), F.lit("spike")
            ).when(F.expr("5 * n_events * n_days < 4 * total"), F.lit("dip")),
        )
        .filter(F.col("kind").isNotNull())
        .select(
            "event_type",
            "day",
            "n_events",
            F.expr("total * 1000 div n_days").cast("long").alias("mean_m"),
            "kind",
        )
        .orderBy("event_type", "day")
    )


def _spikes_sql(d: Dialect) -> str:
    return f"""
  WITH daily AS (
    -- CAST pins the day to TIMESTAMP: DuckDB's date_trunc('day')
    -- yields DATE where Spark's yields TIMESTAMP
    SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type, date_trunc('day', ts)
  ),
  stats AS (
    SELECT event_type, day, n_events,
           CAST(SUM(n_events) OVER (PARTITION BY event_type) AS BIGINT)
             AS total,
           CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
    FROM daily
  )
  SELECT event_type, day, n_events,
         CAST(total * 1000 {d.div} n_days AS BIGINT) AS mean_m,
         CASE WHEN 4 * n_events * n_days > 5 * total THEN 'spike'
              ELSE 'dip' END AS kind
  FROM stats
  WHERE 4 * n_events * n_days > 5 * total
     OR 5 * n_events * n_days < 4 * total
  ORDER BY event_type, day
"""


def orders_yoy_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with the year-over-year ratio: for each
    (year, month), revenue in cents and ``yoy_ratio_ppm`` =
    this-year revenue as ppm of the same month last year (1e6 = flat;
    NULL when that month has no prior year).

    One partial-aggregated shuffle to the year x month grid (<= 84
    rows here; bounded by the calendar at any corpus size), then a
    self-join ON THE GRID matching (o_year - 1, o_month) exactly — NOT
    a per-month lag, which on a sparse calendar silently compares
    against a >1-year-old month (r9 ADVICE); a missing prior year now
    yields NULL, which is what the column name promises. The ratio
    form keeps the ppm numerator non-negative — no reliance on
    negative-division semantics anywhere in the repo's oracle
    contract.
    """
    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.month("o_orderdate").cast("long").alias("o_month"),
        )
        .agg(F.expr(f"sum({_CENTS})").cast("long").alias("revenue_c"))
    )
    prev = rev.select(
        (F.col("o_year") + 1).alias("o_year"),
        "o_month",
        F.col("revenue_c").alias("prev_year_c"),
    )
    return (
        rev.join(F.broadcast(prev), ["o_year", "o_month"], "left")
        .withColumn(
            "yoy_ratio_ppm",
            F.expr(
                "cast(revenue_c * 1000000L div nullif(prev_year_c, 0L)"
                " as bigint)"
            ),
        )
        .select("o_year", "o_month", "revenue_c", "prev_year_c", "yoy_ratio_ppm")
        .orderBy("o_year", "o_month")
    )


def _yoy_sql(d: Dialect) -> str:
    return f"""
  WITH rev AS (
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS o_month,
           CAST(SUM({_CENTS}) AS BIGINT) AS revenue_c
    FROM orders GROUP BY 1, 2
  ),
  joined AS (
    SELECT r.o_year, r.o_month, r.revenue_c, p.revenue_c AS prev_year_c
    FROM rev r LEFT JOIN rev p
      ON p.o_year = r.o_year - 1 AND p.o_month = r.o_month
  )
  SELECT o_year, o_month, revenue_c, CAST(prev_year_c AS BIGINT) AS prev_year_c,
         CAST(revenue_c * 1000000 {d.div} NULLIF(prev_year_c, 0) AS BIGINT)
           AS yoy_ratio_ppm
  FROM joined
  ORDER BY o_year, o_month
"""


#: attribution lookback window (hours before the purchase)
ATTR_WINDOW_HOURS = 24


def evt_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase's cents are split
    EQUALLY across the same user's clicks in the 24 h before it
    (click ts in (purchase - 24h, purchase]); the truncation remainder
    goes to the LAST touch (latest ts, event_id tie-break) so every
    purchase's cents are conserved exactly. Purchases with no touch in
    the window are attributed to a 'direct' channel on the purchase
    day. Complements evt_asof_attribution (last-touch only).

    Conservation invariant (property-tested): SUM(att_cents) over the
    output == SUM(round(value*100)) over all purchases.

    Scale (100 TB): the touch join is a per-user equi-join with the
    range predicate applied inside the sort-merge — candidate fan-out
    is clicks-within-24h × purchases per user, the output's own size.
    A bot user is a hot key whose clicks × purchases fan is quadratic:
    ``evt_linear_attribution_capped`` is the shipped escape hatch
    (VERDICT r10 item 4) and ``evt_attribution_cap_report`` makes the
    drop loud. The per-purchase window partitions on purchase_id
    (never global).

    Output: (day, channel, att_cents, n_touches) ordered by
    day, channel."""
    ev = load_table(spark, sf_dir, "events")
    return _linear_attribution_of(ev)


def _linear_attribution_of(ev: DataFrame) -> DataFrame:
    cents = "cast(round(value * 100) as bigint)"
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
        F.expr(cents).alias("cents"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    j = purchases.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (
            F.col("c_ts")
            > F.col("p_ts") - F.expr(f"INTERVAL {ATTR_WINDOW_HOURS} HOURS")
        ),
        "left",
    )
    wp = Window.partitionBy("p_id")
    wlast = Window.partitionBy("p_id").orderBy(
        F.desc("c_ts"), F.desc("c_id")
    )
    attributed = (
        j.withColumn("n_touch", F.count("c_id").over(wp))
        .withColumn("rn", F.row_number().over(wlast))
        .selectExpr(
            "IF(c_id IS NULL, to_date(p_ts), to_date(c_ts)) as day",
            "IF(c_id IS NULL, 'direct', 'click') as channel",
            "CASE WHEN c_id IS NULL THEN cents"
            "     WHEN rn = 1 THEN cents - (cents div n_touch) * (n_touch - 1)"
            "     ELSE cents div n_touch END as att",
        )
    )
    return (
        attributed.groupBy("day", "channel")
        .agg(
            F.sum("att").cast("long").alias("att_cents"),
            F.count(F.lit(1)).cast("long").alias("n_touches"),
        )
        .orderBy("day", "channel")
    )


#: max events per user admitted by the capped attribution (bot guard —
#: a bot's clicks × purchases join fan is quadratic in its event count;
#: synthetic per-user counts run ~45..99 at every SF, so 80 binds)
ATTR_USER_EVENTS_CAP = 80


def evt_linear_attribution_capped(
    spark: SparkSession, sf_dir: str, cap: int = ATTR_USER_EVENTS_CAP
) -> DataFrame:
    """:func:`evt_linear_attribution` restricted to users with at most
    ``cap`` events (counted over ALL their events, before the
    purchase/click split — the bot definition is activity volume, not
    channel mix). The per-user touch join fans out as clicks ×
    purchases per user — quadratic on a hot key — so the cap bounds
    the worst key's join output and :func:`evt_attribution_cap_report`
    counts what was dropped (the sessionize cap idiom). With
    ``cap >= max per-user count`` the output is identical to the
    uncapped attribution (property-tested)."""
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    ev = (
        ev.withColumn("u_n", F.count(F.lit(1)).over(wu))
        .filter(F.col("u_n") <= cap)
        .drop("u_n")
    )
    return _linear_attribution_of(ev)


def evt_attribution_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap-binding signal for :func:`evt_linear_attribution_capped`
    (the shared per-user-event-count report)."""
    return user_cap_report(spark, sf_dir, ATTR_USER_EVENTS_CAP)


def _attribution_sql(d: Dialect, capped: bool) -> str:
    src = "capped" if capped else "events"
    return f"""
WITH {_ATTR_CAPPED_CTE if capped else ''}purchases AS (
    SELECT user_id, ts AS p_ts, event_id AS p_id,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM {src} WHERE event_type = 'purchase'
),
clicks AS (
    SELECT user_id AS c_user, ts AS c_ts, event_id AS c_id
    FROM {src} WHERE event_type = 'click'
),
j AS (
    SELECT p.*, c.c_ts, c.c_id
    FROM purchases p
    LEFT JOIN clicks c
      ON c.c_user = p.user_id
     AND c.c_ts <= p.p_ts
     AND c.c_ts > p.p_ts - INTERVAL {d.interval(ATTR_WINDOW_HOURS, 'HOURS')}
),
marked AS (
    SELECT *,
           COUNT(c_id) OVER (PARTITION BY p_id) AS n_touch,
           row_number() OVER (
               PARTITION BY p_id ORDER BY c_ts DESC, c_id DESC
           ) AS rn
    FROM j
),
attributed AS (
    SELECT CASE WHEN c_id IS NULL THEN CAST(p_ts AS DATE)
                ELSE CAST(c_ts AS DATE) END AS day,
           CASE WHEN c_id IS NULL THEN 'direct' ELSE 'click' END AS channel,
           CASE WHEN c_id IS NULL THEN cents
                WHEN rn = 1
                  THEN cents - (cents {d.div} n_touch) * (n_touch - 1)
                ELSE cents {d.div} n_touch END AS att
    FROM marked
)
SELECT day, channel,
       CAST(SUM(att) AS BIGINT) AS att_cents,
       CAST(COUNT(*) AS BIGINT) AS n_touches
FROM attributed GROUP BY day, channel ORDER BY day, channel
"""

_ATTR_CAPPED_CTE = f"""capped AS (
    SELECT * FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY user_id) AS u_n FROM events
    ) WHERE u_n <= {ATTR_USER_EVENTS_CAP}
),
"""


ATTR_CAP_REPORT_SQL = user_cap_report_sql(ATTR_USER_EVENTS_CAP)


#: absorption horizon for the Markov attribution: T^12 via repeated
#: squaring (T2=T*T, T4, T8, T12=T8*T4) — 4 matrix joins instead of 12
#: vector steps; both engines run the SAME truncated-ppm products
MARKOV_POW = 12


def evt_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain (removal-effect) multi-touch attribution (Anderl
    et al., "Mapping the Customer Journey", 2014 — public): build the
    first-order journey chain (start → touch types → conv/null, each
    user's history truncated at the FIRST purchase = conversion),
    estimate conversion probability as {MARKOV_POW}-step absorption
    mass, re-estimate with each channel removed (its edges deleted;
    the lost mass drains to null), and attribute conversions by the
    normalized removal effects. Complements evt_linear_attribution
    (position-based) with the data-driven counterfactual model.

    Exactness contract: transition probabilities and masses are
    integer ppm with truncating division; both engines compute the
    IDENTICAL truncated matrix powers (T² = (Σ_k T(f,k)·T(k,t))
    div 10⁶ entrywise, then T⁴, T⁸, T¹² = T⁸·T⁴; conv/null held by
    10⁶ self-loops; p = T¹²(start, conv)), so every output cell is
    EXACT-comparable. Truncation dust is clamped at 0 in the removal
    effect.

    Scale (100 TB): ONE user-keyed window shuffle builds the journey
    edges (the sessionize/transition-matrix shape); everything after
    is bounded by |event types|² — the transition matrix, the
    |channels|+1 scenario fan, and the FOUR matrix-squaring joins all
    run on ≤ tens of rows (the PageRank distill-then-iterate idiom,
    operators/graph.py:81, with repeated squaring cutting the job
    chain from horizon length to log₂).

    Output: (channel, p_full_ppm, p_removed_ppm, removal_effect_ppm,
    attribution_ppm) ordered by channel.
    """
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id",
        "ts",
        "event_id",
        "IF(event_type = 'purchase', 'conv', event_type) as st",
        "IF(event_type = 'purchase', 1, 0) as is_conv",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "st",
        F.row_number().over(w).alias("rn"),
        F.coalesce(
            F.sum("is_conv").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("prev_convs"),
    )
    # prefix-closed truncation at the first conversion: rn stays 1..m
    kept = ordered.filter(F.col("prev_convs") == 0)
    wk = Window.partitionBy("user_id").orderBy("rn")
    tr = kept.withColumn("nxt", F.lead("st").over(wk))
    edges = (
        kept.filter(F.col("rn") == 1)
        .selectExpr("'start' as f", "st as t")
        .unionByName(
            tr.filter(F.col("nxt").isNotNull()).selectExpr(
                "st as f", "nxt as t"
            )
        )
        .unionByName(
            tr.filter(
                F.col("nxt").isNull() & (F.col("st") != "conv")
            ).selectExpr("st as f", "'null' as t")
        )
    )
    cnt = edges.groupBy("f", "t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tm = cnt.select(
        "f",
        "t",
        F.expr(
            "c * 1000000L div sum(c) over (partition by f)"
        ).cast("long").alias("p_ppm"),
    )
    chans = tm.select(F.col("f").alias("ch")).filter(
        F.col("ch") != "start"
    ).distinct()
    scen = (
        spark.range(1)
        .selectExpr("'__full__' as sc")
        .unionByName(chans.select(F.col("ch").alias("sc")))
    )
    absorb = (
        scen.crossJoin(
            F.broadcast(
                spark.range(1)
                .selectExpr("'conv' as a")
                .unionByName(spark.range(1).selectExpr("'null' as a"))
            )
        )
        .selectExpr("sc", "a as f", "a as t",
                    "cast(1000000 as bigint) as p_ppm")
    )
    # r14 (guide §1.2 per-task work, stagebreak-measured): the scenario
    # matrix is ≤ (|channels|+1) x |types|² rows — a few hundred — but
    # its union legs inherit 32+ scan partitions, so EVERY matmul map
    # stage downstream dispatched ~128 near-empty tasks (~8 such
    # stages/run). coalesce(1) before the pin makes the cache (and all
    # downstream map stages over it) single-task; the matrix is
    # distilled, so this LOSES no parallelism that matters and is
    # row-count-bounded at any corpus scale (the corpus-sized work —
    # the journey window and edge counts — happened upstream of tm).
    smat = materialize(
        scen.join(
            F.broadcast(tm),
            F.expr("sc = '__full__' OR (f != sc AND t != sc)"),
        )
        .select("sc", "f", "t", "p_ppm")
        .unionByName(absorb)
        .coalesce(1)
    )
    def matmul(ma, mb):
        a = ma.selectExpr("sc", "f", "t as k", "p_ppm as pa")
        b = mb.selectExpr("sc as sc_b", "f as k_b", "t", "p_ppm as pb")
        return (
            a.join(
                b,
                (a.sc == b.sc_b) & (a.k == b.k_b),
            )
            .select(
                "sc", "f", "t",
                F.expr("pa * pb div 1000000").alias("m"),
            )
            .groupBy("sc", "f", "t")
            .agg(F.sum("m").cast("long").alias("p_ppm"))
        )

    t2 = matmul(smat, smat)
    # same single-task pin as smat: t4 is ≤ a few hundred rows and
    # feeds three matmul consumers
    t4 = materialize(matmul(t2, t2).coalesce(1))
    t8 = matmul(t4, t4)
    t12 = matmul(t8, t4)
    conv = t12.filter(
        (F.col("f") == "start") & (F.col("t") == "conv")
    ).select("sc", F.col("p_ppm").alias("mass"))
    p_full = conv.filter(F.col("sc") == "__full__").select(
        F.col("mass").alias("p_full_ppm")
    )
    per_chan = (
        chans.crossJoin(F.broadcast(p_full))
        .join(
            conv.select(F.col("sc").alias("ch"),
                        F.col("mass").alias("p_removed_ppm")),
            "ch",
            "left",
        )
        .selectExpr(
            "ch",
            "p_full_ppm",
            "coalesce(p_removed_ppm, 0L) as p_removed_ppm",
            "greatest((p_full_ppm - coalesce(p_removed_ppm, 0L))"
            " * 1000000 div nullif(p_full_ppm, 0), 0L)"
            " as removal_effect_ppm",
        )
    )
    return (
        per_chan.select(
            F.col("ch").alias("channel"),
            "p_full_ppm",
            "p_removed_ppm",
            "removal_effect_ppm",
            F.expr(
                "removal_effect_ppm * 1000000"
                " div nullif(sum(removal_effect_ppm) over (), 0)"
            ).cast("long").alias("attribution_ppm"),
        )
        .orderBy("channel")
    )


def _markov_sql(d: Dialect) -> str:
    """The SAME unrolled computation as SQL."""
    div = d.div
    sql = f"""
WITH ev AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase' THEN 'conv'
              ELSE event_type END AS st,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv
  FROM events
),
ordered AS (
  SELECT user_id, st,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn,
         COALESCE(SUM(is_conv) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS prev_convs
  FROM ev
),
kept AS (SELECT user_id, st, rn FROM ordered WHERE prev_convs = 0),
tr AS (
  SELECT user_id, st, rn,
         lead(st) OVER (PARTITION BY user_id ORDER BY rn) AS nxt
  FROM kept
),
edges AS (
  SELECT 'start' AS f, st AS t FROM kept WHERE rn = 1
  UNION ALL
  SELECT st, nxt FROM tr WHERE nxt IS NOT NULL
  UNION ALL
  SELECT st, 'null' FROM tr WHERE nxt IS NULL AND st <> 'conv'
),
cnt AS (SELECT f, t, CAST(COUNT(*) AS BIGINT) AS c FROM edges GROUP BY 1, 2),
tm AS (
  SELECT f, t,
         CAST(c * 1000000 {div} SUM(c) OVER (PARTITION BY f) AS BIGINT)
           AS p_ppm
  FROM cnt
),
chans AS (SELECT DISTINCT f AS ch FROM tm WHERE f <> 'start'),
scen AS (SELECT '__full__' AS sc UNION ALL SELECT ch FROM chans),
smat AS (
  SELECT s.sc, m.f, m.t, m.p_ppm
  FROM scen s JOIN tm m
    ON (s.sc = '__full__' OR (m.f <> s.sc AND m.t <> s.sc))
  UNION ALL
  SELECT s.sc, x.a, x.a, CAST(1000000 AS BIGINT)
  FROM scen s CROSS JOIN
       (SELECT 'conv' AS a UNION ALL SELECT 'null') x
),
t1 AS (SELECT sc, f, t, p_ppm FROM smat)"""
    for name, la, lb in [("t2", "t1", "t1"), ("t4", "t2", "t2"),
                         ("t8", "t4", "t4"), ("t12", "t8", "t4")]:
        sql += f""",
{name} AS (
  SELECT a.sc, a.f, b.t,
         CAST(SUM(a.p_ppm * b.p_ppm {div} 1000000) AS BIGINT) AS p_ppm
  FROM {la} a JOIN {lb} b ON a.sc = b.sc AND a.t = b.f
  GROUP BY 1, 2, 3)"""
    sql += f""",
conv AS (SELECT sc, p_ppm AS mass FROM t12
         WHERE f = 'start' AND t = 'conv'),
pf AS (SELECT mass AS p_full_ppm FROM conv WHERE sc = '__full__'),
per_chan AS (
  SELECT c.ch, pf.p_full_ppm,
         COALESCE(r.mass, 0) AS p_removed_ppm,
         greatest((pf.p_full_ppm - COALESCE(r.mass, 0)) * 1000000
                  {div} nullif(pf.p_full_ppm, 0), 0) AS removal_effect_ppm
  FROM chans c CROSS JOIN pf
  LEFT JOIN conv r ON r.sc = c.ch
)
SELECT ch AS channel, p_full_ppm, p_removed_ppm,
       CAST(removal_effect_ppm AS BIGINT) AS removal_effect_ppm,
       CAST(removal_effect_ppm * 1000000
            {div} nullif(SUM(removal_effect_ppm) OVER (), 0) AS BIGINT)
         AS attribution_ppm
FROM per_chan ORDER BY channel"""
    return sql


QUERIES = {
    "evt_markov_attribution": evt_markov_attribution,
    "evt_transition_matrix": evt_transition_matrix,
    "cust_rfm_segments": cust_rfm_segments,
    "orders_snapshot_diff": orders_snapshot_diff,
    "evt_daily_spikes": evt_daily_spikes,
    "orders_yoy_seasonality": orders_yoy_seasonality,
    "evt_linear_attribution": evt_linear_attribution,
    "evt_linear_attribution_capped": evt_linear_attribution_capped,
    "evt_attribution_cap_report": evt_attribution_cap_report,
}


TEMPLATES = {
    # one text, both engines
    "orders_snapshot_diff": _DIFF_BODY,
    "evt_attribution_cap_report": ATTR_CAP_REPORT_SQL,
    "evt_markov_attribution": _markov_sql,
    "evt_transition_matrix": _transition_sql,
    "cust_rfm_segments": _rfm_sql,
    "evt_daily_spikes": _spikes_sql,
    "orders_yoy_seasonality": _yoy_sql,
    "evt_linear_attribution": lambda d: _attribution_sql(d, capped=False),
    "evt_linear_attribution_capped": lambda d: _attribution_sql(d, capped=True),
}
