"""Classic TPC-H decision-support join shapes (Q8/Q13/Q14/Q15/Q16/Q22
analogues) — coverage beyond the reference surface.

The reference workload (RDataFramesSQL.Rmd:60-704) never exercises
conditional-share aggregates, zero-preserving outer-join distributions,
scalar-subquery-over-aggregate filters, or NOT-IN exclusion joins; a
user migrating real warehouse queries will. Each query here is a
faithful *shape* transplant of a TPC-H query onto the driver's
synthetic tables (which lack partsupp and comment columns, so Q15/Q16
substitute `lineitem`'s (partkey, suppkey) pairs and an acctbal
exclusion list respectively).

Determinism contract (shared with queries/extensions.py): every money
SUM is cent-quantized to bigint before summing (double addition order
differs between engines and grows error with SF), shares round to 6dp,
and every output carries a total ORDER BY.

Scale notes per query below. Common theme: bounded dims (region,
nation — 5/25 rows at ANY scale factor) are broadcast explicitly;
SF-growing sides (part, supplier, customer, orders, lineitem) are left
to Catalyst/AQE, which sees real sizes at runtime; each query lowers to
a small number of keyed shuffles with partial aggregation map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..functions.rounding import r6 as _r6

#: revenue in exact cents: bigint, summable in any order at any SF
_REV_CENTS = "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"
_REV_CENTS_SQL = "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"

#: Q14's "promo" class — the synthetic p_type domain has 6 values
#: ('ECONOMY', 'SMALL', ...); 'S%' picks a deterministic subset the
#: same way TPC-H's 'PROMO%' prefix does.
_PROMO_PREFIX = "S%"

#: Q15's revenue quarter
_Q15_START, _Q15_END = "1997-01-01", "1997-04-01"


def q34_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: per order-year, the revenue share delivered by
    AMERICA-region suppliers.

    Plan: lineitem joins supplier (AQE-sized shuffle or broadcast),
    then nation+region (explicit broadcast — schema-bounded dims), then
    orders on orderkey (the one big-big shuffle). The share is a
    conditional SUM over one grouped pass — no second scan, no join
    back. At 100 TB the orderkey shuffle dominates; everything else is
    map-side.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.expr(_REV_CENTS).alias("rev_c")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .join(ords, li.l_orderkey == ords.o_orderkey)
        .groupBy("o_year")
        .agg(
            F.sum(F.when(F.col("r_name") == "AMERICA", F.col("rev_c")).otherwise(F.lit(0)))
            .alias("america_c"),
            F.sum("rev_c").alias("total_c"),
        )
        .select(
            "o_year",
            F.round(F.col("america_c").cast("double") / 100.0, 2).alias("america_revenue"),
            F.round(F.col("total_c").cast("double") / 100.0, 2).alias("total_revenue"),
            _r6(F.col("america_c").cast("double") / F.col("total_c").cast("double"))
            .alias("mkt_share"),
        )
        .orderBy("o_year")
    )


Q34_SQL = f"""
SELECT year(o.o_orderdate) AS o_year,
       round(CAST(SUM(CASE WHEN r.r_name = 'AMERICA' THEN {_REV_CENTS_SQL} ELSE 0 END) AS DOUBLE) / 100.0, 2) AS america_revenue,
       round(CAST(SUM({_REV_CENTS_SQL}) AS DOUBLE) / 100.0, 2) AS total_revenue,
       (floor((CAST(SUM(CASE WHEN r.r_name = 'AMERICA' THEN {_REV_CENTS_SQL} ELSE 0 END) AS DOUBLE)
             / CAST(SUM({_REV_CENTS_SQL}) AS DOUBLE)) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) AS mkt_share
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY year(o.o_orderdate)
ORDER BY o_year
"""


def q35_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts,
    INCLUDING zero-order customers (the left join is the point — an
    inner join silently drops the c_count=0 bucket).

    Plan: one left join on custkey (AQE decides strategy), one groupBy
    custkey, one tiny groupBy c_count. The right side is pre-filtered
    (priority exclusion pushed to the orders scan).
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    ords = (
        load_table(spark, sf_dir, "orders")
        .filter(~F.col("o_orderpriority").like("1%"))
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(ords, cust.c_custkey == ords.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q35_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority NOT LIKE '1%'
  GROUP BY c.c_custkey
) pc
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q36_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-class revenue share for one ship-year.
    Single joined aggregate → one row; the shipdate band is pushed to
    the lineitem scan (PushedFilters), so at 100 TB with date
    partitioning this reads one year, not the corpus.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_partkey", F.expr(_REV_CENTS).alias("rev_c"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    return joined.agg(
        _r6(
            F.lit(100.0)
            * F.sum(
                F.when(F.col("p_type").like(_PROMO_PREFIX), F.col("rev_c")).otherwise(F.lit(0))
            ).cast("double")
            / F.sum("rev_c").cast("double")).alias("promo_share_pct"),
        F.round(F.sum("rev_c").cast("double") / 100.0, 2).alias("total_revenue"),
    )


Q36_SQL = f"""
SELECT (floor((100.0 * CAST(SUM(CASE WHEN p.p_type LIKE '{_PROMO_PREFIX}' THEN {_REV_CENTS_SQL} ELSE 0 END) AS DOUBLE)
             / CAST(SUM({_REV_CENTS_SQL}) AS DOUBLE)) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)) AS promo_share_pct,
       round(CAST(SUM({_REV_CENTS_SQL}) AS DOUBLE) / 100.0, 2) AS total_revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
"""


def q37_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) whose quarterly revenue equals the
    maximum quarterly revenue — scalar subquery over an aggregate,
    preserving ties (which a LIMIT 1 would break).

    Plan: one grouped pass over the quarter's lineitem builds per-
    supplier revenue; the global MAX is a single-row broadcast back
    onto it (Catalyst lowers the scalar subquery to exactly that); the
    supplier join is AQE-sized. The revenue relation is reused for
    both the max and the filter — one shuffle, two tiny follow-ups.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit(_Q15_START).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(_Q15_END).cast("timestamp"))
        )
        .select("l_suppkey", F.expr(_REV_CENTS).alias("rev_c"))
    )
    revenue = li.groupBy("l_suppkey").agg(F.sum("rev_c").alias("total_c"))
    max_rev = revenue.agg(F.max("total_c").alias("max_c"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_c") == F.col("max_c"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey"),
            F.col("s_name"),
            F.round(F.col("total_c").cast("double") / 100.0, 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


Q37_SQL = f"""
WITH revenue AS (
  SELECT l_suppkey, SUM({_REV_CENTS_SQL}) AS total_c
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '{_Q15_START}'
    AND l_shipdate < TIMESTAMP '{_Q15_END}'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       round(CAST(r.total_c AS DOUBLE) / 100.0, 2) AS total_revenue
FROM revenue r
JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_c = (SELECT MAX(total_c) FROM revenue)
ORDER BY s.s_suppkey
"""


def q38_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type,
    size) for a part slice, excluding a supplier denylist via NOT IN
    (here: suppliers with negative account balance; the synthetic
    schema has no comment column).

    Plan: lineitem supplies the (partkey, suppkey) pairs (no partsupp
    table); pairs are DISTINCTed *before* the part join to shrink the
    shuffle; the denylist is a left_anti against a small filtered
    supplier slice. count(DISTINCT s) is the final keyed shuffle.
    """
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    deny = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") != "Brand#1") & (F.col("p_size") <= 20))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        pairs.join(deny, pairs.l_suppkey == deny.s_suppkey, "left_anti")
        .join(part, pairs.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q38_SQL = """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part p ON ps.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size <= 20
  AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


#: q39 dormancy cutoff — the synthetic order stream is dense (~10
#: orders/customer at every SF), so "no orders at all" selects zero
#: rows; "no orders since the cutoff" keeps the Q22 shape (scalar
#: subquery + NOT EXISTS) while selecting a real, SF-stable slice.
_Q22_CUTOFF = "1999-01-01"


def q39_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: per nation, customers whose balance exceeds
    the global average POSITIVE balance and who have placed no order
    since the dormancy cutoff — scalar aggregate subquery + NOT
    EXISTS (anti join with pushed date filter), grouped.

    Plan: the global average is one scalar broadcast; the anti join
    shuffles on custkey (orders side pre-projected to the key only);
    nation is a bounded-dim broadcast. Three shuffles total at any SF,
    each partial-aggregated.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    ords = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(_Q22_CUTOFF).cast("timestamp"))
        .select("o_custkey")
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(ords, cust.c_custkey == ords.o_custkey, "left_anti")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(
                F.sum(F.expr("cast(round(c_acctbal * 100) as bigint)")).cast("double")
                / 100.0,
                2,
            ).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


Q39_SQL = f"""
SELECT n.n_name, COUNT(*) AS numcust,
       round(CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS totacctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '{_Q22_CUTOFF}')
GROUP BY n.n_name
ORDER BY n.n_name
"""


def q40_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): unshipped-revenue top-10 for
    one market segment at a cutoff date.

    Plan: the segment filter prunes customer BEFORE its join (pushed
    to the scan), the two date bands push to the orders/lineitem
    scans, revenue partial-aggregates on the (orderkey, date,
    priority) key, and the top-10 lowers to TakeOrderedAndProject —
    no global sort. At 100 TB the date bands are the partition-prune
    lever; customer after the segment filter is ~1/5 of customers and
    is left to AQE to broadcast or shuffle on runtime size.
    """
    cutoff = F.lit("1998-06-15").cast("timestamp")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    ords = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", F.expr(_REV_CENTS).alias("rev_c"))
    )
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(cust, ords.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum("rev_c").cast("double") / 100.0, 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
    )


Q40_SQL = f"""
SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
       round(CAST(SUM({_REV_CENTS_SQL}) AS DOUBLE) / 100.0, 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-15'
  AND l.l_shipdate > TIMESTAMP '1998-06-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderdate ASC, l.l_orderkey ASC
LIMIT 10
"""


def q41_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bilateral trade between two
    nations by ship year — supplier nation on the lineitem side,
    customer nation through orders, either direction.

    Plan: both nation filters reduce supplier/customer to 1/25 before
    their joins; nation is a broadcast dim; the disjunctive pair
    condition is applied AFTER both nationkeys are attached (a
    residual filter, not a join explosion). Shuffles: lineitem-orders
    on orderkey, then small keyed aggregation. The year extraction
    groups on a computed key — partial-aggregated.
    """
    n1, n2 = "NATION_1", "NATION_2"
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin(n1, n2))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin(n1, n2))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    ords = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            F.year("l_shipdate").alias("l_year"),
            F.expr(_REV_CENTS).alias("rev_c"),
        )
    )
    return (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(ords, li.l_orderkey == ords.o_orderkey)
        .join(cust, ords.o_custkey == cust.c_custkey)
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("rev_c").cast("double") / 100.0, 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q41_SQL = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l.l_shipdate) AS l_year,
       round(CAST(SUM({_REV_CENTS_SQL}) AS DOUBLE) / 100.0, 2) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
"""


def q42_returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned items): lost revenue per customer
    from returned lineitems in one quarter's orders, top-20.

    Plan: the returnflag filter and the order-date band push to their
    scans; the join chain aggregates to one row per customer before
    the bounded nation broadcast; top-20 is TakeOrderedAndProject.
    """
    ords = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", F.expr(_REV_CENTS).alias("rev_c"))
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(cust, ords.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum("rev_c").cast("double") / 100.0, 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


Q42_SQL = f"""
SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
       round(CAST(SUM({_REV_CENTS_SQL}) AS DOUBLE) / 100.0, 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1997-07-01'
  AND o.o_orderdate < TIMESTAMP '1997-10-01'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
"""


def q43_disjunctive_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue): revenue from three
    disjunctive (brand x size-band x quantity-band) clause groups —
    the classic test that an optimizer extracts the COMMON conjuncts
    from a disjunction and pushes them to the scans.

    Plan: the common bounds (l_quantity <= 36, p_size >= 1) plus the
    brand IN-set are derivable from the OR; Spark pushes the partkey
    equi-key and evaluates the residual disjunction after the join.
    The join itself is partkey-equi (AQE decides broadcast vs
    shuffle from part's runtime size) — never a cartesian.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", F.expr(_REV_CENTS).alias("rev_c")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q, p = F.col("l_quantity"), F.col("p_size")
    branch = (
        ((F.col("p_brand") == "Brand#1") & p.between(1, 10) & q.between(1, 12))
        | ((F.col("p_brand") == "Brand#7") & p.between(1, 20) & q.between(10, 24))
        | ((F.col("p_brand") == "Brand#13") & p.between(1, 40) & q.between(20, 36))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(branch)
        .agg(
            F.round(F.sum("rev_c").cast("double") / 100.0, 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


Q43_SQL = f"""
SELECT round(CAST(SUM({_REV_CENTS_SQL}) AS DOUBLE) / 100.0, 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 1 AND 12)
   OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 1 AND 20 AND l.l_quantity BETWEEN 10 AND 24)
   OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 40 AND l.l_quantity BETWEEN 20 AND 36)
"""


def q47_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity order revenue): average yearly
    revenue lost if small orders of one brand/type class were no
    longer taken — a CORRELATED scalar aggregate threshold
    (``l_quantity < 0.2 * avg(l_quantity) of the same part``),
    decorrelated as a per-part aggregate joined back.

    Determinism: quantities in the synthetic data are integral, so
    the 0.2·avg comparison is evaluated in exact integer arithmetic —
    ``5·qty·cnt < sum(qty)`` ⟺ ``qty < 0.2·(sum/cnt)`` — immune to
    the summation-order float drift a naive AVG comparison inherits;
    revenue is cent-quantized before summing.

    Plan/scale: the brand/type filter prunes part at the scan and the
    pruned part broadcasts into lineitem; the per-part threshold is
    computed AFTER that semi-restriction (aggregate only qualifying
    parts' rows, not all of lineitem) and joined back on l_partkey —
    the aggregation and the join-back share one shuffle key. The
    final scalar is a single partial-aggregated reduce.
    """
    p = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#4") & F.col("p_type").like("S%"))
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_partkey",
            F.expr("cast(l_quantity as bigint)").alias("qty"),
            F.expr("cast(round(l_extendedprice * 100) as bigint)").alias("price_c"),
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    )
    th = li.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        li.join(th, "l_partkey")
        .filter(F.col("qty") * F.col("cnt") * F.lit(5) < F.col("sum_qty"))
        .agg(
            F.round(
                F.sum("price_c").cast("double") / 100.0 / 7.0, 2
            ).alias("avg_yearly")
        )
    )


Q47_SQL = """
SELECT round(CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN (SELECT l_partkey, SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY l_partkey) t ON t.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#4' AND p.p_type LIKE 'S%'
  AND CAST(l.l_quantity AS BIGINT) * t.cnt * 5 < t.sum_qty
"""


def q48_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    line quantity exceeds a threshold, with their customer and order
    detail — the grouped-``HAVING``-subquery-feeds-``IN`` pattern.

    Decorrelation: the per-order quantity aggregate is computed ONCE
    and reused both as the membership filter and as the reported
    ``total_qty`` — a naive translation aggregates lineitem twice.

    Plan/scale: one lineitem shuffle (orderkey agg, partial map-side);
    the ~0.1%-selective survivor set then drives the orders/customer
    joins (AQE broadcasts it at runtime), and top-100 lowers to
    TakeOrderedAndProject. total_qty is exact bigint.
    """
    oq = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", F.expr("cast(l_quantity as bigint)").alias("qty"))
        .groupBy("l_orderkey")
        .agg(F.sum("qty").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        oq.join(ords, oq.l_orderkey == ords.o_orderkey)
        .join(cust, ords.o_custkey == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


Q48_SQL = """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       o.o_totalprice, t.total_qty
FROM (SELECT l_orderkey,
             -- DuckDB SUM(BIGINT) yields HUGEINT; pin to BIGINT so
             -- the driver's declared-type hash matches Spark's long
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 150) t
JOIN orders o ON o.o_orderkey = t.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT 100
"""


def q49_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): for one
    nation, count per supplier the finished multi-supplier orders
    where THIS supplier shipped late and NO OTHER supplier did — the
    double-correlated ``EXISTS`` + ``NOT EXISTS`` shape, the hardest
    join pattern in the TPC-H suite.

    Adaptation: the synthetic lineitem has no commit/receipt dates, so
    "late" := ``l_shipdate > o_orderdate + 90 days`` (documented
    substitute with the same per-line semantics).

    Decorrelation (the 100 TB-safe plan): instead of two correlated
    sub-scans of lineitem per outer row, build each order's supplier
    profile ONCE — ``n_supp`` distinct suppliers and ``n_late_supp``
    distinct LATE suppliers per finished order (one shuffle on
    orderkey) — then the EXISTS pair collapses to the filter
    ``n_supp > 1 AND n_late_supp = 1`` joined back to the late lines.
    supplier/nation are broadcast dims; the SQL twin keeps the
    correlated EXISTS spelling, so the differential also proves the
    rewrite ≡ the textbook form.
    """
    ords = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "late",
            F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL '90' DAY"),
        )
    )
    prof = li.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nat = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name") == "NATION_3")
        .select("n_nationkey")
    )
    return (
        li.filter(F.col("late"))
        .select("l_orderkey", "l_suppkey").distinct()
        .join(
            prof.filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)),
            "l_orderkey",
        )
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(25)
    )


Q49_SQL = """
SELECT s.s_name, COUNT(*) AS numwait
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN (SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
      FROM lineitem l1
      JOIN orders o ON o.o_orderkey = l1.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l1.l_shipdate > o.o_orderdate + INTERVAL '90' DAY
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_shipdate > o.o_orderdate + INTERVAL '90' DAY)
     ) w ON w.l_suppkey = s.s_suppkey
WHERE n.n_name = 'NATION_3'
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name ASC
LIMIT 25
"""


def q50_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): count the quarter's
    orders per priority where at least ONE line shipped late — the
    textbook correlated ``EXISTS`` whose inner predicate references
    BOTH sides (``l_shipdate > o_orderdate + 30 days``).

    Adaptation: synthetic lineitem has no commit/receipt dates, so
    "late" := shipped >30 days after order date (same per-line
    semantics as Q49's substitute).

    Plan/scale: the quarter filter prunes orders at the scan; the
    EXISTS lowers to one LEFT SEMI hash join on orderkey with the
    date inequality as the join residual — Spark dedups the probe
    side internally, so lineitem is scanned once and never
    aggregated. The SQL twin keeps the correlated spelling, proving
    semi-join ≡ EXISTS differentially.
    """
    ords = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        ords.join(
            li,
            (ords.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.expr("o_orderdate + INTERVAL '30' DAY")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q50_SQL = """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL '30' DAY)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


def q51_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): 1997 revenue per ASIA
    nation counting only lines where the CUSTOMER and the SUPPLIER
    sit in the same nation — the 6-table join whose distinguishing
    predicate (``c_nationkey = s_nationkey``) links two dimensions
    that never join directly.

    Plan/scale: the year filter prunes orders at the scan; the join
    order is big-to-small (lineitem⋈orders⋈customer on their natural
    keys — two keyed shuffles AQE can size — then supplier, then the
    broadcast nation/region dims); the nation-equality predicate is
    applied as a residual once both nationkeys are in scope, so no
    cross-dimension shuffle exists. Revenue is cent-exact bigint.
    """
    ords = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.expr(_REV_CENTS).alias("rev_c")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    reg = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(cust, ords.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("rev_c").cast("double") / 100.0, 2).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


Q51_SQL = f"""
SELECT n.n_name,
       round(CAST(SUM({_REV_CENTS_SQL}) AS DOUBLE) / 100.0, 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
                AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name ASC
"""


def q52_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit per supplier
    nation per order year over one part class, where profit mixes
    revenue with a cost term from ANOTHER table's column — the
    Q9 signature (ps_supplycost · l_quantity) adapted to
    ``p_retailprice · l_quantity`` since the synthetic schema has no
    partsupp.

    Determinism: both terms are cent-quantized bigints BEFORE the
    subtraction, so profit is exact integer arithmetic at any SF and
    any summation order (profit may legitimately be negative).

    Plan/scale: the part-class filter prunes part at the scan and
    broadcasts it into lineitem (map-side); supplier joins next, the
    25-row nation broadcast resolves the group key, and the one
    big-big shuffle is lineitem⋈orders on orderkey. Group-by is
    (nation, year) — 25·7 cells, partials collapse map-side.
    """
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select(
            "p_partkey",
            F.expr("cast(round(p_retailprice * 100) as bigint)").alias("cost_unit_c"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        F.expr("cast(l_quantity as bigint)").alias("qty"),
        F.expr(_REV_CENTS).alias("rev_c"),
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(ords, li.l_orderkey == ords.o_orderkey)
        .select(
            "n_name",
            "o_year",
            (F.col("rev_c") - F.col("cost_unit_c") * F.col("qty")).alias("profit_c"),
        )
        .groupBy("n_name", "o_year")
        .agg(F.round(F.sum("profit_c").cast("double") / 100.0, 2).alias("profit"))
        .orderBy(F.col("n_name").asc(), F.col("o_year").desc())
    )


Q52_SQL = f"""
SELECT n.n_name, year(o.o_orderdate) AS o_year,
       round(CAST(SUM({_REV_CENTS_SQL}
                      - CAST(round(p.p_retailprice * 100) AS BIGINT)
                        * CAST(l.l_quantity AS BIGINT)) AS DOUBLE) / 100.0, 2) AS profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE p.p_type = 'PROMO'
GROUP BY n.n_name, year(o.o_orderdate)
ORDER BY n.n_name ASC, o_year DESC
"""


def q53_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification): parts whose
    total lineitem revenue exceeds a GLOBAL-aggregate-derived
    threshold — the scalar-subquery-in-HAVING pattern.

    Adaptation: Q11's ``> 0.0001/SF · Σvalue`` fraction is replaced
    by ``> 1.5 × the mean per-part value``, which is scale-free by
    construction (the qualifying share depends on the value
    distribution's shape, not the row count — measured 2/29/252
    qualifiers at sf0.001/0.01/0.1, ~1%). The comparison is
    evaluated in exact integer cross-multiplied form
    (``2 · value_c · n_parts > 3 · total_c``) — no float division on
    either engine.

    Plan/scale: ONE shuffle builds the per-part aggregate; the global
    (total, count) pair is a 1-row reduce of that same aggregate,
    broadcast back via scalar cross-join — the base table is scanned
    once. The per-part aggregate feeds two consumers (the filter and
    the totals reduce), so it is pinned via ``materialize`` — without
    the pin Catalyst recomputes the branch and lineitem is scanned
    TWICE (caught by the plan test). The pinned frame is |parts| rows
    (key + bigint), not lineitem. At 100 TB the partkey shuffle with
    map-side partials is the whole cost.
    """
    from ..materialize import materialize

    per_part = materialize(
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", F.expr(_REV_CENTS).alias("rev_c"))
        .groupBy("l_partkey")
        .agg(F.sum("rev_c").alias("value_c"))
    )
    totals = per_part.agg(
        F.sum("value_c").alias("total_c"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        per_part.crossJoin(F.broadcast(totals))
        .filter(
            F.lit(2) * F.col("value_c") * F.col("n_parts")
            > F.lit(3) * F.col("total_c")
        )
        .select(
            "l_partkey",
            F.round(F.col("value_c").cast("double") / 100.0, 2).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), F.col("l_partkey").asc())
    )


Q53_SQL = f"""
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM({_REV_CENTS_SQL}) AS BIGINT) AS value_c
  FROM lineitem l
  GROUP BY l_partkey
),
totals AS (
  SELECT CAST(SUM(value_c) AS BIGINT) AS total_c,
         COUNT(*) AS n_parts
  FROM per_part
)
SELECT p.l_partkey,
       round(CAST(p.value_c AS DOUBLE) / 100.0, 2) AS part_value
FROM per_part p CROSS JOIN totals t
WHERE 2 * p.value_c * t.n_parts > 3 * t.total_c
ORDER BY part_value DESC, p.l_partkey ASC
"""


def q54_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): for each part of one
    size/type class, THE supplier with the minimum account balance
    among the EUROPE-region suppliers that have actually shipped it —
    Q2's correlated-MIN-subquery, decorrelated as a per-part
    ``row_number`` window (acctbal ASC, suppkey ASC pins ties, which
    the textbook MIN spelling leaves ambiguous).

    Adaptation: no partsupp table, so "supplies part p" :=
    ``DISTINCT (l_partkey, l_suppkey)`` from lineitem and the
    minimized cost is ``s_acctbal`` (passes through unrounded — both
    engines read the identical parquet doubles).

    Plan/scale: the DISTINCT pair-set and the window share the
    partkey-hash partitioning (one shuffle, no re-exchange); the
    part-class filter broadcasts into the pair-set BEFORE the window,
    so only qualifying partitions sort; supplier/nation/region are
    broadcast dims. Per-part group sizes are bounded by |suppliers
    per part| — no skew risk.
    """
    from pyspark.sql import Window

    p = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 20)
        )
        .select("p_partkey", "p_brand")
    )
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "p_brand", "l_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    reg = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    w = Window.partitionBy("p_partkey").orderBy(
        F.col("s_acctbal").asc(), F.col("s_suppkey").asc()
    )
    return (
        pairs.join(supp, pairs.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_brand", "s_name", "s_acctbal", "n_name")
        .orderBy(F.col("p_partkey").asc())
    )


Q54_SQL = """
SELECT p_partkey, p_brand, s_name, s_acctbal, n_name
FROM (
  SELECT p.p_partkey, p.p_brand, s.s_name, s.s_acctbal, n.n_name,
         row_number() OVER (PARTITION BY p.p_partkey
                            ORDER BY s.s_acctbal ASC, s.s_suppkey ASC) AS rn
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pl
  JOIN part p ON pl.l_partkey = p.p_partkey
  JOIN supplier s ON pl.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE p.p_type = 'STANDARD' AND p.p_size BETWEEN 10 AND 20
    AND r.r_name = 'EUROPE'
) ranked
WHERE rn = 1
ORDER BY p_partkey ASC
"""


def q55_excess_quantity_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers who
    shipped MORE THAN HALF of some ECONOMY-class part's total 1997
    volume, with their nation — Q20's nested
    IN-(grouped-HAVING-vs-aggregate-threshold) membership chain.

    Adaptation: Q20's ``0.5 · available quantity`` (partsupp) becomes
    ``0.5 · the part's total shipped quantity in the window``; the
    comparison is the exact-integer cross-multiplied
    ``2 · sup_qty > part_qty`` (11/90/1007 qualifying cells at
    sf0.001/0.01/0.1). Q20's nation restriction is replaced by
    REPORTING the nation — at small SF the 10-supplier pool makes
    any single-region filter degenerate to zero rows, which would
    leave the differential trivially green.

    Plan/scale: ONE scan of the filtered lineitem aggregates to
    (partkey, suppkey) cells; the per-part total is a window-SUM over
    that aggregate, REUSING its partkey hash partitioning instead of
    re-scanning lineitem (the SQL twin spells it as two grouped
    subqueries — the differential proves window-over-agg ≡
    agg-join-agg). Survivor suppkeys then LEFT SEMI into the
    broadcast-dim-filtered supplier table.
    """
    from pyspark.sql import Window

    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    cells = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_partkey", "l_suppkey", F.expr("cast(l_quantity as bigint)").alias("qty"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("qty").alias("sup_qty"))
    )
    winners = (
        cells.withColumn(
            "part_qty", F.sum("sup_qty").over(Window.partitionBy("l_partkey"))
        )
        .filter(F.lit(2) * F.col("sup_qty") > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    return (
        supp.join(winners, supp.s_suppkey == winners.l_suppkey, "left_semi")
        .orderBy(F.col("s_name").asc())
    )


Q55_SQL = """
SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_suppkey IN (
    SELECT pq.l_suppkey
    FROM (SELECT l.l_partkey, l.l_suppkey,
                 CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sup_qty
          FROM lineitem l
          JOIN part p ON l.l_partkey = p.p_partkey
          WHERE p.p_type = 'ECONOMY'
            AND l.l_shipdate >= TIMESTAMP '1997-01-01'
            AND l.l_shipdate < TIMESTAMP '1998-01-01'
          GROUP BY l.l_partkey, l.l_suppkey) pq
    JOIN (SELECT l.l_partkey,
                 CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS part_qty
          FROM lineitem l
          JOIN part p ON l.l_partkey = p.p_partkey
          WHERE p.p_type = 'ECONOMY'
            AND l.l_shipdate >= TIMESTAMP '1997-01-01'
            AND l.l_shipdate < TIMESTAMP '1998-01-01'
          GROUP BY l.l_partkey) pt ON pq.l_partkey = pt.l_partkey
    WHERE 2 * pq.sup_qty > pt.part_qty
  )
ORDER BY s.s_name ASC
"""


def q56_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): the scan-only
    aggregate — one year band, a discount band, a quantity cap, ONE
    global SUM of ``l_extendedprice · l_discount``. The simplest and
    most IO-bound of the 22: its entire 100 TB story is pushdown (all
    three predicates must reach the parquet reader) and map-side
    partial aggregation; there is no join and no group key.

    Determinism: the product is quantized to hundredths-of-cents
    bigints before summing (two factors of 100; discounts are
    2-decimal, prices 2-decimal, so the product is exact at 1e-4).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.02, 0.06)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(
            F.sum(
                F.expr(
                    "cast(round(l_extendedprice * 100) as bigint)"
                    " * cast(round(l_discount * 100) as bigint)"
                )
            ).cast("double")
            / 10000.0,
            2,
        ).alias("revenue_delta")
    )


Q56_SQL = """
SELECT round(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
             / 10000.0, 2) AS revenue_delta
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 24
"""


def q57_priority_shipping_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes & order priority): per line
    class, how many CRITICAL (1-URGENT/2-HIGH) vs non-critical orders
    it carried — the conditional-CASE-count-inside-GROUP-BY pattern.

    Adaptation: no l_shipmode column; the grouped class is
    ``l_returnflag`` restricted to lines shipped >60 days after the
    order date in 1997 (Q12's "received late within the year" band,
    same late-predicate substitute as Q49/Q50).

    Plan/scale: one orderkey join (lineitem⋈orders, the only
    shuffle-sized edge; at toy SF AQE broadcasts the date-pruned
    orders side), both CASE-sums collapse in one grouped pass over
    ~|returnflag| cells, partials map-side.
    """
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_returnflag", "l_shipdate")
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(ords, (li.l_orderkey == ords.o_orderkey))
        .filter(F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL '60' DAY"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(crit, F.lit(1)).otherwise(F.lit(0))).alias("high_line_count"),
            F.sum(F.when(~crit, F.lit(1)).otherwise(F.lit(0))).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q57_SQL = """
SELECT l.l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > o.o_orderdate + INTERVAL '60' DAY
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""


QUERIES = {
    "q34_market_share": q34_market_share,
    "q35_order_count_distribution": q35_order_count_distribution,
    "q36_promo_revenue": q36_promo_revenue,
    "q37_top_supplier": q37_top_supplier,
    "q38_parts_supplier_count": q38_parts_supplier_count,
    "q39_dormant_rich_customers": q39_dormant_rich_customers,
    "q40_shipping_priority": q40_shipping_priority,
    "q41_nation_trade_volume": q41_nation_trade_volume,
    "q42_returned_item_revenue": q42_returned_item_revenue,
    "q43_disjunctive_promo": q43_disjunctive_promo,
    "q47_small_quantity_revenue": q47_small_quantity_revenue,
    "q48_large_order_customers": q48_large_order_customers,
    "q49_waiting_suppliers": q49_waiting_suppliers,
    "q50_order_priority_exists": q50_order_priority_exists,
    "q51_local_supplier_volume": q51_local_supplier_volume,
    "q52_product_type_profit": q52_product_type_profit,
    "q53_important_parts": q53_important_parts,
    "q54_min_acctbal_supplier": q54_min_acctbal_supplier,
    "q55_excess_quantity_suppliers": q55_excess_quantity_suppliers,
    "q56_forecast_revenue_change": q56_forecast_revenue_change,
    "q57_priority_shipping_split": q57_priority_shipping_split,
}

# The SQL strings above are written in the dialect intersection of
# DuckDB and Spark SQL (year(), TIMESTAMP literals, NOT EXISTS /
# NOT IN, CASE) — the SAME text serves as DuckDB oracle AND Spark-SQL
# N-version twin, which is itself evidence the queries are portable
# warehouse SQL rather than engine tricks.
TEMPLATES = {
    "q34_market_share": Q34_SQL,
    "q35_order_count_distribution": Q35_SQL,
    "q36_promo_revenue": Q36_SQL,
    "q37_top_supplier": Q37_SQL,
    "q38_parts_supplier_count": Q38_SQL,
    "q39_dormant_rich_customers": Q39_SQL,
    "q40_shipping_priority": Q40_SQL,
    "q41_nation_trade_volume": Q41_SQL,
    "q42_returned_item_revenue": Q42_SQL,
    "q43_disjunctive_promo": Q43_SQL,
    "q47_small_quantity_revenue": Q47_SQL,
    "q48_large_order_customers": Q48_SQL,
    "q49_waiting_suppliers": Q49_SQL,
    "q50_order_priority_exists": Q50_SQL,
    "q51_local_supplier_volume": Q51_SQL,
    "q52_product_type_profit": Q52_SQL,
    "q53_important_parts": Q53_SQL,
    "q54_min_acctbal_supplier": Q54_SQL,
    "q55_excess_quantity_suppliers": Q55_SQL,
    "q56_forecast_revenue_change": Q56_SQL,
    "q57_priority_shipping_split": Q57_SQL,
}
