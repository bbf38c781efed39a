"""Event-time windowing over the ``events`` table — batch AND stream.

The reference is batch-only (SURVEY.md §2.8: no windows, no streaming),
so this module is north-star surface. The design principle is Spark's
own: **the same transformation runs in both executions**. Each
function below takes an events DataFrame — batch (`spark.read`) or
streaming (`spark.readStream`) — and returns the windowed aggregate;
Structured Streaming's incrementalization is Catalyst's job, not ours.

Operators:

- :func:`tumbling` — fixed windows via ``F.window(ts, width)``.
- :func:`sliding` — overlapping windows via ``F.window(ts, width,
  slide)`` (each event lands in width/slide windows).
- :func:`sessionized` — per-user activity sessions via
  ``F.session_window(ts, gap)``: a session extends while consecutive
  events arrive within ``gap``; window end = last event + gap.
- :func:`stream_events` / :func:`with_watermark` — the streaming
  source (file source over the parquet) and late-data bound.
- :func:`dedup_stream` — stateful exact dedup on event_id
  (``dropDuplicates`` keyed state; with a watermark the state is
  GC-able, the unbounded-state fix for infinite streams).

Batch forms of the three window shapes are registered as oracle-checked
queries (DuckDB: ``time_bucket`` for tumbling/sliding, gaps-and-islands
SQL for sessions — the session oracle *derives* Spark's merge semantics
independently, a real differential check of the operator).

Scale (100 TB posture): windowed aggregation shuffles once on
(window x key) — partial aggregation happens map-side; session windows
shuffle on user_id so state for one user is on one executor, and the
watermark bounds state size (sessions closed > delay ago are evicted).
Alignment is epoch-based (UTC session timezone), so window boundaries
are identical across engines and across restarts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..catalog import canonicalize_ts, load_table
from ..functions.dialect import DUCK, SPARK, Dialect, dual
from ..operators.timeseries import OHLC_ORACLE
from ..operators.sketches import cms_bucket_sql, cms_depth_axis, cms_depth_sql

TUMBLE_WIDTH = "1 day"
SLIDE_WIDTH = "1 day"
SLIDE_STEP = "12 hours"
SESSION_GAP = "1 hour"
WATERMARK_DELAY = "1 hour"


def _raw_events_schema(spark: SparkSession, sf_dir: str):
    """Schema for the streaming file source, read from the batch
    parquet footer — NOT pinned. The testdata generator has changed
    the ts encoding across rounds (int64 nanos, micros-NTZ); a pinned
    StructType silently mis-reads whichever encoding it wasn't written
    for, so stream and batch must derive from the same footer and both
    pass through :func:`sqlondataframesr_spark.catalog.canonicalize_ts`."""
    return spark.read.parquet(f"{sf_dir}/events.parquet").schema


def _stream_dir(sf_dir: str) -> str:
    """The file stream source requires a *directory*; the testdata ships
    one parquet file per table, so expose it through a symlink dir."""
    import hashlib
    import os
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), "sqlondataframesr_stream", tag)
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    target = f"{sf_dir}/events.parquet"
    # lexists (not exists) so a dangling symlink is detected and
    # replaced; tolerate a concurrent session winning the race
    if os.path.lexists(link) and os.path.realpath(link) != os.path.realpath(target):
        os.unlink(link)
    if not os.path.lexists(link):
        try:
            os.symlink(target, link)
        except FileExistsError:
            pass
    return d


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a Structured Streaming file source."""
    raw = (
        spark.readStream.schema(_raw_events_schema(spark, sf_dir))
        .format("parquet")
        .load(_stream_dir(sf_dir))
    )
    return canonicalize_ts(raw)


def with_watermark(events: DataFrame, delay: str = WATERMARK_DELAY) -> DataFrame:
    """Bound event-time lateness: rows later than max(ts) - delay drop,
    and window/session state older than the bound is evicted."""
    return events.withWatermark("ts", delay)


def _count_and_total() -> list[Column]:
    """n_events and total_value: every window aggregate's two columns."""
    return [
        F.count(F.lit(1)).alias("n_events"),
        # exact bigint cent sum (value is cent-valued) — the raw
        # double SUM is summation-order-nondeterministic cross-engine
        F.round(
            F.sum(F.expr("cast(round(value * 100) as bigint)"))
            .cast("double") / F.lit(100.0), 2
        ).alias("total_value"),
    ]


def tumbling(events: DataFrame, width: str = TUMBLE_WIDTH) -> DataFrame:
    """Fixed event-time windows x event_type: count + total value."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(*_count_and_total())
        .select(
            F.col("w.start").alias("ws"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding(
    events: DataFrame, width: str = SLIDE_WIDTH, slide: str = SLIDE_STEP
) -> DataFrame:
    """Overlapping windows (width 1d, step 12h → 2 windows/event)."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(*_count_and_total())
        .select(F.col("w.start").alias("ws"), "n_events", "total_value")
    )


def sessionized(events: DataFrame, gap: str = SESSION_GAP) -> DataFrame:
    """Per-user sessions: events within ``gap`` of each other merge;
    session end = last event ts + gap (Spark's half-open semantics)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(*_count_and_total())
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def session_funnel(events: DataFrame, gap: str = SESSION_GAP) -> DataFrame:
    """Per-session funnel flags — batch AND stream (VERDICT r10 item
    8: the capped/funnel sessionize family had no streaming parity).
    One ``session_window`` aggregate per (session, user) computes the
    within-session conversion signal: ``has_click`` and ``converted``
    (a purchase AT or AFTER the first click — expressible as
    max(purchase ts) >= min(click ts), so it needs no second stateful
    op and streams with the same single shuffle as :func:`sessionized`).

    Downstream funnel COUNTS are a stateless batch rollup of this
    output (see tests) — in production the stream writes session rows
    to the sink and the funnel report reads the sink, so the streaming
    job keeps exactly one stateful operator."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(
                F.when(F.col("event_type") == "click", F.col("ts"))
            ).alias("first_click"),
            F.max(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("last_purchase"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            F.col("first_click").isNotNull().alias("has_click"),
            (
                F.col("first_click").isNotNull()
                & F.col("last_purchase").isNotNull()
                & (F.col("last_purchase") >= F.col("first_click"))
            ).alias("converted"),
        )
    )


def capped_session_profile(sessions: DataFrame, cap: int) -> DataFrame:
    """The bot-guard cap applied to SESSION rows (the output of
    :func:`sessionized` — from either execution mode): drop every
    session of users whose TOTAL event count exceeds ``cap``, then
    profile sessions by size. The cap needs the user's corpus-wide
    total, which no single-pass stream can know mid-stream, so the
    production shape is stream-writes-sessions, batch-curates-sink:
    this function IS that batch curation step, and the stream≡batch
    test proves stream-sink + this ≡ batch-sessionize + this."""
    # renamed key: the totals frame derives from `sessions` itself, and
    # a same-name self-join of a memory-sink table trips Spark's
    # conflicting-attribute check
    totals = (
        sessions.select(F.col("user_id").alias("u_id"), "n_events")
        .groupBy("u_id")
        .agg(F.sum("n_events").cast("long").alias("u_n"))
    )
    kept = (
        sessions.join(totals, sessions["user_id"] == totals["u_id"])
        .filter(F.col("u_n") <= cap)
        .drop("u_id", "u_n")
    )
    return (
        kept.groupBy("n_events")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy("n_events")
    )


def dedup_stream(events: DataFrame) -> DataFrame:
    """Exact streaming dedup on event_id (keyed state per id)."""
    return with_watermark(events).dropDuplicates(["event_id"])


def enriched_by_segment(
    events: DataFrame, customer: DataFrame, width: str = TUMBLE_WIDTH
) -> DataFrame:
    """Stream-static enrichment join + windowed rollup: events joined
    to the customer dimension on user_id, aggregated per (day window,
    market segment). The same transformation runs over a batch or a
    streaming ``events`` — for a stream, Spark re-reads/broadcasts the
    static side per micro-batch and the join is stateless (only the
    downstream window agg keeps state).

    Scale: ``customer`` grows with SF, so no pinned broadcast hint —
    the planner broadcasts the two projected columns whenever its size
    estimate fits (the projection is what makes that likely); past the
    threshold the join degrades to a per-batch shuffle instead of an
    executor OOM. The windowed agg is one keyed shuffle on
    (window x segment) with map-side partials.
    """
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment")
    )
    return (
        events.join(dim, "user_id")
        .groupBy(F.window("ts", width).alias("w"), "c_mktsegment")
        .agg(*_count_and_total())
        .select(
            F.col("w.start").alias("ws"),
            F.col("c_mktsegment").alias("segment"),
            "n_events",
            "total_value",
        )
    )


JOIN_HORIZON = "2 hours"


def _clicks_join_purchases(events: DataFrame, how: str) -> DataFrame:
    """Clicks (click_id, c_user, click_ts) joined ``how`` to the same
    user's purchases (purchase_id, p_user, purchase_ts) inside
    [click, click + JOIN_HORIZON)."""
    c = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") < F.col("click_ts") + F.expr(f"INTERVAL {JOIN_HORIZON}")),
        how,
    )


def click_purchase_pairs(events: DataFrame) -> DataFrame:
    """Stream-stream (self) join: every (click, purchase) pair of the
    same user with the purchase inside [click, click + 2h).

    Batch and stream run the identical transformation. In streaming
    mode this is Spark's stateful stream-stream inner join: both sides
    buffer rows in state, and the **time-range condition plus the
    watermark** is what makes the state finite — a click older than
    watermark - 2h can never match a future purchase, so the join
    operator evicts it. Without the range condition the state would
    grow forever; that eviction bound is the entire scale story of
    stream-stream joins.

    Scale (batch): an equi-join keyed on user_id with the range as a
    residual predicate — one shuffle per side; per-user in-horizon
    density bounds the output, AQE handles hot users.
    """
    return _clicks_join_purchases(events, "inner").select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("dt_us"),
    )


def write_stream_parquet(df: DataFrame, out_dir: str, checkpoint_dir: str):
    """Durable file sink: append-mode parquet with a checkpoint.

    The checkpoint (WAL + source offsets + operator state) is what
    makes the pipeline exactly-once across restarts: on recovery the
    query resumes from the last committed offsets and the sink's
    transaction log ignores already-committed files. At scale the sink
    partitions by event-time date (``partitionBy`` on the writer) so
    downstream scans prune; kept unpartitioned here because testdata
    spans a handful of days. Returns the started StreamingQuery.
    """
    return (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


# --- batch-shaped registry entries (oracle-checked) -----------------


def evt_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling(load_table(spark, sf_dir, "events")).orderBy("ws", "event_type")


def evt_sliding_12h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding(load_table(spark, sf_dir, "events")).orderBy("ws")


def evt_sessions_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionized(load_table(spark, sf_dir, "events")).orderBy(
        "user_id", "session_start"
    )


def evt_segment_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return enriched_by_segment(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    ).orderBy("ws", "segment")


EVT_SEGMENT_DAILY_ORACLE = """
SELECT time_bucket(INTERVAL '1 day', e.ts) AS ws,
       c.c_mktsegment AS segment,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY ws, segment
ORDER BY ws, segment
"""


EVT_TUMBLING_DAILY_ORACLE = """
SELECT time_bucket(INTERVAL '1 day', ts) AS ws,
       event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_value
FROM events
GROUP BY ws, event_type
ORDER BY ws, event_type
"""

# Each event belongs to the two 1-day windows starting at its 12h
# bucket and the bucket 12h earlier.
EVT_SLIDING_12H_ORACLE = """
SELECT time_bucket(INTERVAL '12 hours', ts) - INTERVAL 12 HOURS * t.k AS ws,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_value
FROM events, range(0, 2) t(k)
GROUP BY ws
ORDER BY ws
"""

# Gaps-and-islands: a new session starts when the previous event of the
# same user is >= 1h older; session end = last event + gap. This
# re-derives session_window's merge semantics from first principles.
EVT_SESSIONS_1H_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   < INTERVAL 1 HOUR THEN 0 ELSE 1 END AS new_session
  FROM events
),
islands AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 1 HOUR AS session_end,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_value
FROM islands
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def evt_click_purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return click_purchase_pairs(load_table(spark, sf_dir, "events")).orderBy(
        "click_id", "purchase_id"
    )


def _click_purchase_pairs_sql(d: Dialect) -> str:
    return f"""
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       CAST({d.fn("epoch_us", "p.ts")} - {d.fn("epoch_us", "c.ts")} AS BIGINT) AS dt_us
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND p.event_type = 'purchase'
 AND p.ts >= c.ts
 AND p.ts < c.ts + INTERVAL 2 HOUR
ORDER BY click_id, purchase_id
"""


def click_purchase_left(events: DataFrame) -> DataFrame:
    """Stream-stream LEFT OUTER join: every click, with its in-horizon
    purchases — or a NULL purchase when none arrives within 2h.

    The outer side is the hard case of streaming joins: an unmatched
    click can only be emitted once the watermark proves no future
    purchase can still match (watermark > click_ts + horizon), so
    null-padded rows trail the inner results by up to
    horizon + watermark-delay. The stream≡batch test compares on the
    CLOSED horizon (clicks old enough that the final watermark
    flushed them) — the tail younger than that is withheld by design,
    not wrong.

    Scale: same state story as the inner join — the time-range bound
    plus the watermark evicts click state at watermark - 2h; without
    them outer state is unbounded.
    """
    return _clicks_join_purchases(events, "left_outer").select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("dt_us"),
    )


def evt_click_purchase_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    # click_ts is canonical session-TZ micros; emit unix micros so the
    # driver hash sees an integer, not a tz-rendered timestamp
    return (
        click_purchase_left(load_table(spark, sf_dir, "events"))
        .select(
            "user_id",
            "click_id",
            F.unix_micros("click_ts").alias("click_us"),
            "purchase_id",
            "dt_us",
        )
        .orderBy("click_id", "purchase_id")
    )


def _click_purchase_left_sql(d: Dialect) -> str:
    return f"""
SELECT c.user_id, c.event_id AS click_id,
       {d.fn("epoch_us", "c.ts")} AS click_us,
       p.event_id AS purchase_id,
       {d.fn("epoch_us", "p.ts")} - {d.fn("epoch_us", "c.ts")} AS dt_us
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 2 HOURS
ORDER BY click_id, purchase_id
"""


def ohlc_candles(events: DataFrame) -> DataFrame:
    """Hourly OHLC candle bars of purchase values, window-function-free
    so the SAME transformation runs under Structured Streaming:
    open/close via min_by/max_by on the total (ts, event_id) order
    (row_number is not stream-expressible; the unique event_id makes
    the pick deterministic — streaming aggregation state is one
    (cents, ts, event_id) pair per endpoint per open window). The
    row_number batch strategy lives in operators/timeseries.py
    (evt_ohlc_hourly); both check against the same oracle."""
    cents = "cast(round(value * 100) as bigint)"
    return (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.expr(f"min_by({cents}, struct(ts, event_id))").alias("open_cents"),
            F.max(F.expr(cents)).alias("high_cents"),
            F.min(F.expr(cents)).alias("low_cents"),
            F.expr(f"max_by({cents}, struct(ts, event_id))").alias("close_cents"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select(
            F.col("w.start").alias("hour"),
            "open_cents",
            "high_cents",
            "low_cents",
            "close_cents",
            "n_events",
        )
    )


def evt_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ohlc_candles(load_table(spark, sf_dir, "events")).orderBy("hour")


def cms_user_cells(events: DataFrame) -> DataFrame:
    """Per-day count-min sketch cells over the USER stream — the
    top-talker / heavy-hitter sketch a stream processor keeps instead
    of a per-user counter. Window-function-free, so the SAME
    transformation runs under Structured Streaming: explode the depth
    axis map-side, then a windowed (day × j × bucket) count — ordinary
    streaming aggregation state, ≤ 4096 cells per open day.

    Deterministic: md5 buckets (the sketches.py contract), so batch,
    stream, and the DuckDB oracle agree bit-for-bit."""
    js = cms_depth_axis()
    return (
        events.select(F.col("ts"), F.col("user_id"))
        .withColumn("j", F.explode(js))
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            "j",
            F.expr(_cms_user_bucket_sql(SPARK)).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cell_cnt"))
        .select(F.col("w.start").cast("date").alias("day"), "j", "bucket", "cell_cnt")
    )


def evt_cms_daily_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of :func:`cms_user_cells` (the stream≡batch
    differential lives in tests/test_streaming.py). Output:
    (day, j, bucket, cell_cnt) ordered."""
    return cms_user_cells(load_table(spark, sf_dir, "events")).orderBy(
        "day", "j", "bucket"
    )


#: top users probed by the merge report
CMS_USER_TOP = 10


def evt_cms_user_merge_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge the per-day CMS cells across ALL days (cell-wise sum —
    count-min's merge operation) and probe the merged sketch at the
    exact top-{CMS_USER_TOP} users: sketch estimate >= exact count,
    always. This is the rollup a stream processor serves all-time
    top-talker queries from without keeping per-user state.

    Scale: the merge aggregates |days| × 4096 cells down to 4096 —
    broadcast-sized — and the probe joins against it broadcast. One
    corpus-sized shuffle total (the windowed cells), reused from the
    sketch a stream job would already be maintaining.

    Output: (user_id, exact_cnt, cms_cnt, overcount, rnk) by rank."""
    ev = load_table(spark, sf_dir, "events")
    merged = (
        cms_user_cells(ev)
        .groupBy("j", "bucket")
        .agg(F.sum("cell_cnt").cast("long").alias("cell_cnt"))
    )
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt")
    )
    from pyspark.sql import Window

    top = exact.orderBy(F.desc("exact_cnt"), "user_id").limit(CMS_USER_TOP)
    w = Window.orderBy(F.desc("exact_cnt"), "user_id")
    top = top.withColumn("rnk", F.row_number().over(w))
    js = cms_depth_axis()
    probes = top.withColumn("j", F.explode(js)).withColumn(
        "bucket", F.expr(_cms_user_bucket_sql(SPARK))
    )
    return (
        probes.join(F.broadcast(merged), ["j", "bucket"])
        .groupBy("user_id", "exact_cnt", "rnk")
        .agg(F.min("cell_cnt").alias("cms_cnt"))
        .selectExpr(
            "user_id",
            "exact_cnt",
            "cms_cnt",
            "cms_cnt - exact_cnt as overcount",
            "rnk",
        )
        .orderBy("rnk")
    )


def _cms_user_bucket_sql(d: Dialect) -> str:
    """The count-min bucket of ``user_id`` in row ``j``."""
    return cms_bucket_sql(d, d.cast_str("user_id"))


def _cms_daily_cells_sql(d: Dialect) -> str:
    return f"""
WITH stream AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id, j.j
    FROM events CROSS JOIN (SELECT {d.fn('unnest', cms_depth_sql(d))} AS j) j
)
SELECT day, j, {_cms_user_bucket_sql(d)} AS bucket,
       CAST(COUNT(*) AS BIGINT) AS cell_cnt
FROM stream GROUP BY 1, 2, 3 ORDER BY day, j, bucket
"""

_TOP_USERS = """SELECT user_id, exact_cnt,
           row_number() OVER (ORDER BY exact_cnt DESC, user_id) AS rnk
    FROM exact"""


def _cms_user_merge_sql(d: Dialect) -> str:
    return f"""
WITH stream AS (
    SELECT user_id, j.j
    FROM events CROSS JOIN (SELECT {d.fn('unnest', cms_depth_sql(d))} AS j) j
),
merged AS (
    SELECT j, {_cms_user_bucket_sql(d)} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cell_cnt
    FROM stream GROUP BY 1, 2
),
exact AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
    FROM events GROUP BY user_id
),
top AS (
    {d.qualify(_TOP_USERS, f"rnk <= {CMS_USER_TOP}")}
),
probes AS (
    SELECT t.user_id, t.exact_cnt, t.rnk, j.j,
           {_cms_user_bucket_sql(d)} AS bucket
    FROM top t CROSS JOIN (SELECT {d.fn('unnest', cms_depth_sql(d))} AS j) j
)
SELECT p.user_id, p.exact_cnt,
       MIN(c.cell_cnt) AS cms_cnt,
       MIN(c.cell_cnt) - p.exact_cnt AS overcount,
       p.rnk
FROM probes p JOIN merged c ON p.j = c.j AND p.bucket = c.bucket
GROUP BY p.user_id, p.exact_cnt, p.rnk
ORDER BY p.rnk
"""


QUERIES = {
    "evt_ohlc_candles": evt_ohlc_candles,
    "evt_click_purchase_pairs": evt_click_purchase_pairs,
    "evt_click_purchase_left": evt_click_purchase_left,
    "evt_tumbling_daily": evt_tumbling_daily,
    "evt_sliding_12h": evt_sliding_12h,
    "evt_sessions_1h": evt_sessions_1h,
    "evt_segment_daily": evt_segment_daily,
    "evt_cms_daily_cells": evt_cms_daily_cells,
    "evt_cms_user_merge_report": evt_cms_user_merge_report,
}

TEMPLATES = {
    "evt_click_purchase_pairs": _click_purchase_pairs_sql,
    "evt_click_purchase_left": _click_purchase_left_sql,
    "evt_cms_user_merge_report": _cms_user_merge_sql,
    # deliberate duals: Spark's event-time spelling (GROUP BY window(...) /
    # session_window(...), min_by/max_by endpoints) against the oracles'
    # date_trunc / row_number forms, so the check proves the windowed
    # aggregation the streaming plans run ≡ the batch arithmetic.
    # evt_ohlc_candles shares operators/timeseries.evt_ohlc_hourly's
    # oracle: the differential proves the min_by strategy ≡ the
    # row_number strategy
    "evt_ohlc_candles": dual(OHLC_ORACLE, """
SELECT w.window.start AS hour, w.open_cents, w.high_cents, w.low_cents,
       w.close_cents, w.n_events
FROM (
  SELECT window,
         min_by(cast(round(value * 100) as bigint), struct(ts, event_id)) AS open_cents,
         MAX(cast(round(value * 100) as bigint)) AS high_cents,
         MIN(cast(round(value * 100) as bigint)) AS low_cents,
         max_by(cast(round(value * 100) as bigint), struct(ts, event_id)) AS close_cents,
         CAST(COUNT(1) AS BIGINT) AS n_events
  FROM events
  WHERE event_type = 'purchase'
  GROUP BY window(ts, '1 hour')
) w
ORDER BY hour
"""),
    "evt_segment_daily": dual(EVT_SEGMENT_DAILY_ORACLE, """
SELECT w.window.start AS ws, w.segment, w.n_events, w.total_value
FROM (
  SELECT window, c.c_mktsegment AS segment,
         COUNT(*) AS n_events,
         ROUND(CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_value
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
  GROUP BY window(e.ts, '1 day'), c.c_mktsegment
) w
ORDER BY ws, segment
"""),
    "evt_tumbling_daily": dual(EVT_TUMBLING_DAILY_ORACLE, """
SELECT w.window.start AS ws, w.event_type, w.n_events, w.total_value
FROM (
  SELECT window, event_type,
         COUNT(*) AS n_events,
         ROUND(CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_value
  FROM events
  GROUP BY window(ts, '1 day'), event_type
) w
ORDER BY ws, event_type
"""),
    "evt_sliding_12h": dual(EVT_SLIDING_12H_ORACLE, """
SELECT w.window.start AS ws, w.n_events, w.total_value
FROM (
  SELECT window, COUNT(*) AS n_events, ROUND(CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_value
  FROM events
  GROUP BY window(ts, '1 day', '12 hours')
) w
ORDER BY ws
"""),
    "evt_sessions_1h": dual(EVT_SESSIONS_1H_ORACLE, """
SELECT w.user_id,
       w.session_window.start AS session_start,
       w.session_window.end AS session_end,
       w.n_events, w.total_value
FROM (
  SELECT session_window, user_id,
         COUNT(*) AS n_events,
         ROUND(CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_value
  FROM events
  GROUP BY session_window(ts, '1 hour'), user_id
) w
ORDER BY user_id, session_start
"""),
    "evt_cms_daily_cells": dual(lambda: _cms_daily_cells_sql(DUCK), lambda: f"""
SELECT CAST(w.window.start AS DATE) AS day, w.j, w.bucket, w.cell_cnt
FROM (
  SELECT window, j, {_cms_user_bucket_sql(SPARK)} AS bucket,
         CAST(COUNT(1) AS BIGINT) AS cell_cnt
  FROM (SELECT ts, user_id, explode({cms_depth_sql(SPARK)}) AS j FROM events)
  GROUP BY window(ts, '1 day'), j, {_cms_user_bucket_sql(SPARK)}
) w
ORDER BY day, j, bucket
"""),
}
