"""The reference's six query shapes, transposed onto the synthetic
star schema (transposition map: FIXTURES.md §C).

Each task keeps the exact operator shape of its original
(`/root/reference/RDataFramesSQL.Rmd`) — filter/aggregate/join/argmax/
top-k/semi-join structure — re-targeted at the driver's TPC-H-ish
tables. Every query exists in two forms that must agree (N-version
discipline, Rmd:40-53): the fluent DataFrame build here and the
SQL text in ``TEMPLATES``, which Spark SQL runs as is and which the
DuckDB oracle runs as the external ground truth.

Determinism policy (SURVEY.md §7 "What's hard"): SQLite's bare-column
argmax (Rmd:77-81, 176-180, 400-404) returns *an arbitrary* max row on
ties; we instead fix a total order everywhere — rank by the measure
descending, then by the group's natural key ascending — so all three
engines agree row-for-row.

Float policy: values produced by order-sensitive float reductions
(SUM over doubles) are rounded to 2 decimals in BOTH engines; values
that are exact selections (MAX, single subtraction of stored doubles)
are left untouched — they're bit-identical across engines.

Scale notes are inline per query; the common ones:
- aggregates are expressed with groupBy().agg() so Catalyst emits
  partial (map-side) aggregation before the shuffle;
- filters and projections sit directly on the scan so they push into
  parquet (verify with .explain: PushedFilters / ReadSchema);
- joins of two already-aggregated sides shuffle only the aggregated
  (small) data, never the raw fact table twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..catalog import load_table


# ---------------------------------------------------------------------------
# Task 1 (Rmd:75-81): per-year upvote counts -> argmax order per year.
# Shape: filter -> count by (key, year(date)) -> join -> argmax per year.
# ---------------------------------------------------------------------------

def q1_yearly_top_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each ship-year, the order with the most 'N'-flag lineitems.

    Scale: the count aggregates lineitem down to (order, year); the
    per-year argmax is a SECOND aggregation (argmax_maxby), i.e. a
    partial-aggregating shuffle on yr — NOT a window, whose
    per-year partitions would serialize onto 7 tasks no matter how
    big the data. The <=7 argmax rows then broadcast-join orders.
    """
    from ..operators.argmax import argmax_maxby

    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    upvotes = (
        lineitem.filter(F.col("l_returnflag") == "N")  # pushed to scan
        .select("l_orderkey", F.year("l_shipdate").cast("int").alias("yr"))
        .groupBy("l_orderkey", "yr")
        .agg(F.count(F.lit(1)).alias("n_upvotes"))
    )
    top = argmax_maxby(
        upvotes, ["yr"], "n_upvotes", payload=["l_orderkey"], tiebreak="l_orderkey"
    )
    return (
        F.broadcast(top).join(orders, top.l_orderkey == orders.o_orderkey, "inner")
        .select(
            "yr",
            F.col("o_orderkey"),
            F.col("o_orderpriority"),
            F.col("n_upvotes"),
        )
        .orderBy("yr")
    )


Q1_SQL = """
WITH upy AS (
  SELECT l_orderkey, CAST(year(l_shipdate) AS INT) AS yr, COUNT(*) AS n_upvotes
  FROM lineitem WHERE l_returnflag = 'N'
  GROUP BY 1, 2
), ranked AS (
  SELECT yr, l_orderkey, n_upvotes,
         ROW_NUMBER() OVER (PARTITION BY yr ORDER BY n_upvotes DESC, l_orderkey ASC) AS rn
  FROM upy
)
SELECT r.yr, o.o_orderkey, o.o_orderpriority, r.n_upvotes
FROM ranked r JOIN orders o ON o.o_orderkey = r.l_orderkey
WHERE r.rn = 1
ORDER BY r.yr
"""


# ---------------------------------------------------------------------------
# Task 2 (Rmd:176-181): per-user NULL-skipping SUM + MAX + argmax, join
# users, top-10. The CASE introduces NULLs so the SUM-skips-NULLs path
# (Rmd:202, 221: na.rm=TRUE vs SQLite SUM) actually fires.
# ---------------------------------------------------------------------------

def q2_top_customers_by_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by finished-order spend, with their best order.

    Scale: ONE shuffle total over orders — sums, max, count and the
    argmax (max_by) all ride the same partial-aggregating groupBy, so
    orders is scanned once and never shuffled a second time for a
    window. The customer join is on its primary key (AQE picks
    broadcast at small SF, sort-merge at 100 TB).
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    # Single-pass aggregation: the argmax rides in the same groupBy as
    # the sums via max_by over a (price, -key) struct — max price, and
    # the smallest orderkey among ties — instead of a second
    # window-shuffle + join over orders. The SQL form keeps the
    # window formulation, so the N-version check proves the two
    # strategies equivalent.
    agg = orders.groupBy("o_custkey").agg(
        # NULL-skipping conditional SUM over exact bigint cents (the
        # CASE yields NULL for non-'F' rows, which SUM skips in both
        # engines); a raw double sum is summation-order-nondeterministic
        F.round(
            F.sum(
                F.expr(
                    "cast(round((case when o_orderstatus = 'F'"
                    " then o_totalprice end) * 100) as bigint)"
                )
            ).cast("double") / F.lit(100.0),
            2,
        ).alias("finished_spend"),
        F.max("o_totalprice").alias("max_order_price"),
        F.count(F.lit(1)).alias("n_orders"),
        F.max_by(
            "o_orderkey", F.struct(F.col("o_totalprice"), -F.col("o_orderkey"))
        ).alias("best_orderkey"),
    )
    return (
        agg.join(customer, agg.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            "finished_spend",
            "max_order_price",
            "n_orders",
            "best_orderkey",
        )
        .orderBy(F.col("finished_spend").desc_nulls_last(), F.col("c_custkey").asc())
        .limit(10)
    )


Q2_SQL = """
WITH agg AS (
  SELECT o_custkey,
         ROUND(CAST(SUM(CAST(round((CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS finished_spend,
         MAX(o_totalprice) AS max_order_price,
         COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey
), best AS (
  SELECT o_custkey, o_orderkey AS best_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
)
SELECT c.c_custkey, c.c_name, c.c_mktsegment,
       a.finished_spend, a.max_order_price, a.n_orders, b.best_orderkey
FROM agg a
JOIN best b ON b.o_custkey = a.o_custkey AND b.rn = 1
JOIN customer c ON c.c_custkey = a.o_custkey
ORDER BY a.finished_spend DESC NULLS LAST, c.c_custkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Task 3 (Rmd:289-298): derived count table -> join -> top-10.
# The smallest complete query; also the flagship entry() query.
# ---------------------------------------------------------------------------

def q3_top_orders_by_big_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 orders by number of high-quantity lineitems.

    Scale: filter pushes to the parquet scan; count aggregates
    lineitem to one row per order *before* joining orders, so the join
    moves (orderkey, count) pairs, not raw lineitems. ORDER BY+LIMIT
    lowers to TakeOrderedAndProject — no global sort materializes.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    counts = (
        lineitem.filter(F.col("l_quantity") > 25)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_big_items"))
    )
    return (
        counts.join(orders, counts.l_orderkey == orders.o_orderkey, "inner")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "n_big_items")
        .orderBy(F.col("n_big_items").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


Q3_SQL = """
WITH counts AS (
  SELECT l_orderkey, COUNT(*) AS n_big_items
  FROM lineitem WHERE l_quantity > 25
  GROUP BY l_orderkey
)
SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice, c.n_big_items
FROM counts c JOIN orders o ON o.o_orderkey = c.l_orderkey
ORDER BY c.n_big_items DESC, o.o_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Task 4 (Rmd:396-412): two derived tables -> 3-way self-join -> computed
# difference -> filter on the computed value (the SQLite alias-in-WHERE,
# Rmd:411, inlined here per SURVEY §4 rewrite 2) -> full descending sort.
# ---------------------------------------------------------------------------

def q4_price_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders where the max lineitem price beats the first lineitem's
    price by more than 1000, sorted by the spread.

    Scale: the reference's logical shape is two derived tables (best
    price per order; first-linenumber price per order) 3-way
    self-joined (Rmd:398-410). Per-order "first line" is a *conditional
    aggregate* of the same grouping, so we collapse the self-join into
    ONE pass over lineitem — one scan, one partial-aggregating shuffle,
    zero self-joins; the rewrite an optimizer would want is done at
    plan-construction time. The SQL form keeps the two-derived-
    tables join, and the N-version check proves them equivalent. The
    spread is a single IEEE subtraction of stored doubles —
    bit-identical across engines, no rounding needed.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    # l_linenumber is NOT unique per order in the synthetic data, so
    # "the first lineitem's price" is pinned deterministically as the
    # MIN price among an order's linenumber-1 rows.
    per_order = lineitem.groupBy("l_orderkey").agg(
        F.max("l_extendedprice").alias("max_price"),
        F.min(
            F.when(F.col("l_linenumber") == 1, F.col("l_extendedprice"))
        ).alias("first_price"),
    )
    # the spread filter references only aggregate columns, so it is
    # applied BEFORE the orders join — the join probes with the ~3% of
    # orders that survive, and AQE sees a broadcast-sized build side at
    # runtime (no hint: the surviving set grows with SF)
    spread = (
        per_order.filter(F.col("first_price").isNotNull())
        .withColumn("price_spread", F.col("max_price") - F.col("first_price"))
        .filter(F.col("price_spread") > 1000)  # alias-in-WHERE, inlined
    )
    return (
        spread.join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .select("o_orderkey", "o_orderpriority", "max_price", "first_price", "price_spread")
        .orderBy(F.col("price_spread").desc(), F.col("o_orderkey").asc())
    )


Q4_SQL = """
WITH best AS (
  SELECT l_orderkey, MAX(l_extendedprice) AS max_price
  FROM lineitem GROUP BY l_orderkey
), first_item AS (
  SELECT l_orderkey, MIN(l_extendedprice) AS first_price
  FROM lineitem WHERE l_linenumber = 1 GROUP BY l_orderkey
)
SELECT o.o_orderkey, o.o_orderpriority, b.max_price, f.first_price,
       b.max_price - f.first_price AS price_spread
FROM best b
JOIN first_item f ON f.l_orderkey = b.l_orderkey
JOIN orders o ON o.o_orderkey = b.l_orderkey
WHERE b.max_price - f.first_price > 1000
ORDER BY price_spread DESC, o.o_orderkey ASC
"""


# ---------------------------------------------------------------------------
# Task 5 (Rmd:522-532): SUM by (key1, key2) -> composite-key join ->
# top-10. Two derived aggregates joined on BOTH keys.
# ---------------------------------------------------------------------------

def q5_user_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 (user, event_type) pairs by total value, annotated with
    the max high-value event — a composite-key join of two aggregates.

    Scale: both sides aggregate events first (map-side partial agg),
    then join on the composite key — identical partitioning
    expressions on both sides, so the shuffle of one side is reusable
    and no re-partitioning happens after the join.
    """
    events = load_table(spark, sf_dir, "events")

    totals = events.groupBy("user_id", "event_type").agg(
        # exact bigint cent sum — total_value drives the top-10 ORDER,
        # so a summation-order flip could change membership
        F.round(
            F.sum(F.expr("cast(round(value * 100) as bigint)")).cast("double")
            / F.lit(100.0),
            2,
        ).alias("total_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    big = (
        events.filter(F.col("value") > 100)
        .groupBy("user_id", "event_type")
        .agg(F.max("value").alias("max_big_value"))
    )
    return (
        totals.join(big, ["user_id", "event_type"], "inner")
        .select("user_id", "event_type", "total_value", "n_events", "max_big_value")
        .orderBy(
            F.col("total_value").desc(),
            F.col("user_id").asc(),
            F.col("event_type").asc(),
        )
        .limit(10)
    )


Q5_SQL = """
WITH totals AS (
  SELECT user_id, event_type,
         ROUND(CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_value,
         COUNT(*) AS n_events
  FROM events GROUP BY user_id, event_type
), big AS (
  SELECT user_id, event_type, MAX(value) AS max_big_value
  FROM events WHERE value > 100 GROUP BY user_id, event_type
)
SELECT t.user_id, t.event_type, t.total_value, t.n_events, b.max_big_value
FROM totals t
JOIN big b ON b.user_id = t.user_id AND b.event_type = t.event_type
ORDER BY t.total_value DESC, t.user_id ASC, t.event_type ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Task 6 (Rmd:613-627): HAVING-band -> IN-subquery (left-semi join) ->
# join dimensions -> multi-column DISTINCT. The HAVING band uses AVG so
# it stays selective at every scale factor (a COUNT band degenerates as
# rows scale — see SURVEY §7 on scale-dependent constants).
# ---------------------------------------------------------------------------

def q6_distinct_suppliers_of_qualifying_brands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distinct suppliers (with nation) shipping parts of brands in a
    HAVING band, via a left-semi join (the IN-subquery form, Rmd:618).

    Scale: the qualifying-brand set is tiny (<= 25 brands) and the
    semi-join against part broadcasts it; nation (25 rows, fixed at
    any SF) is broadcast explicitly. The DISTINCT is pushed all the
    way down to the bare ``l_suppkey`` BEFORE the supplier join —
    s_suppkey is supplier's key, so joining the deduped key set
    against supplier (then nation) cannot reintroduce duplicates, and
    the dedup shuffle carries one bigint per surviving lineitem row
    instead of four wide columns per joined row. ``part`` feeds the
    semi-join projected to its two used columns, so the parquet scan
    reads nothing else.
    """
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    # the HAVING band's average derives from an EXACT bigint cent sum
    # (p_retailprice is cent-valued), so the BETWEEN comparison is the
    # same deterministic double in every engine — a raw AVG could
    # straddle the band edge differently per summation order
    brands = (
        part.filter(F.col("p_size") < 15)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.expr("cast(round(p_retailprice * 100) as bigint)")).alias(
                "sum_cents"
            ),
        )
        .filter(
            (F.col("cnt") >= 2)
            & (
                F.col("sum_cents").cast("double") / F.lit(100.0) / F.col("cnt")
            ).between(905.0, 952.0)
        )
        .select("p_brand")
    )
    qualifying_parts = (
        part.select("p_partkey", "p_brand")
        .join(F.broadcast(brands), "p_brand", "left_semi")
        .select("p_partkey")
    )
    supp_keys = (
        lineitem.select("l_partkey", "l_suppkey")
        .join(
            qualifying_parts,
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp_keys.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select("s_suppkey", "s_name", "n_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


Q6_SQL = """
SELECT DISTINCT s.s_suppkey, s.s_name, n.n_name, s.s_acctbal
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE l.l_partkey IN (
  SELECT p_partkey FROM part
  WHERE p_brand IN (
    SELECT p_brand FROM part WHERE p_size < 15
    GROUP BY p_brand
    HAVING COUNT(*) >= 2
       AND CAST(SUM(CAST(round(p_retailprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 / COUNT(*)
           BETWEEN 905.0 AND 952.0
  )
)
ORDER BY s_suppkey
"""


QUERIES = {
    "q1_yearly_top_order": q1_yearly_top_order,
    "q2_top_customers_by_spend": q2_top_customers_by_spend,
    "q3_top_orders_by_big_items": q3_top_orders_by_big_items,
    "q4_price_spread": q4_price_spread,
    "q5_user_event_totals": q5_user_event_totals,
    "q6_distinct_suppliers_of_qualifying_brands": q6_distinct_suppliers_of_qualifying_brands,
}

# one text, both engines
TEMPLATES = {
    "q1_yearly_top_order": Q1_SQL,
    "q2_top_customers_by_spend": Q2_SQL,
    "q3_top_orders_by_big_items": Q3_SQL,
    # the SQL form keeps the reference's two-derived-tables 3-way join
    # (Rmd:398-410); the fluent form collapses it to one conditional-agg
    # pass. The N-version test proves the strategies equivalent.
    "q4_price_spread": Q4_SQL,
    "q5_user_event_totals": Q5_SQL,
    "q6_distinct_suppliers_of_qualifying_brands": Q6_SQL,
}
