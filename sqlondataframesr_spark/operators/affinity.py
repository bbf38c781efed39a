"""Market-basket affinity: co-occurring part pairs with exact lift.

North-star extension (no reference counterpart): the classic
recommender/assortment primitive — which parts appear in the same
order far more often than chance.

Scale design (100 TB):

- Baskets first reduce to DISTINCT (order, part) — dedup before any
  pair work, same discipline as the dedup family.
- The pair generator is a self-equi-join on ``l_orderkey`` with
  ``part_a < part_b``: quadratic in BASKET SIZE only (TPC-H-shaped
  baskets are <= 7 lines). For corpora with mega-baskets,
  :func:`basket_top_pairs_capped` restricts the analysis to baskets
  of at most :data:`BASKET_SIZE_CAP` distinct parts — degrading
  LOUDLY via :func:`basket_cap_report` (the
  llm/dedup.dedup_substring_cap_report pattern), never quadratically.
  With ``cap >= max basket size`` the capped operator is identical to
  the uncapped one (property-tested).
- The support filter (``n_orders >= MIN_SUPPORT``) runs BEFORE the
  per-part-count joins, so lift is computed for the surviving pairs
  only (3% of candidates at sf0.01), and the final leaderboard is
  fused top-k, never a global sort.

Determinism: lift is integer PPM — ``n_ab * n_baskets * 1000000 div
(n_a * n_b)`` with bigint truncating division, identical in Spark and
DuckDB. Overflow contract: the numerator must stay below 2^63
(n_ab * n_baskets * 10^6 < 9.2e18) — holds through ~10^5 x TPC-H
basket statistics because n_ab counts CO-occurrences (bounded by the
less popular part); corpora beyond that range should compute lift in
double as a documented approximation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..functions.dialect import Dialect

#: minimum co-occurrence count for a pair to be scored
MIN_SUPPORT = 2

#: leaderboard depth
TOP_PAIRS_K = 50

#: max DISTINCT parts per basket admitted by the capped variant —
#: TPC-H baskets run 1..7 distinct parts, so 6 genuinely binds on this
#: corpus and the report proves it (a cap that never binds tests
#: nothing)
BASKET_SIZE_CAP = 6


def _baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (order, part) — dedup before any pair work."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )


def basket_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-:data:`TOP_PAIRS_K` part pairs by co-occurrence support,
    with exact lift in ppm (lift > 1e6 = appears together more than
    independence predicts).

    Output: (part_a, part_b, n_orders, n_a, n_b, lift_ppm) ordered by
    (n_orders desc, lift_ppm desc, part_a, part_b).
    """
    return _affinity_pipeline(_baskets(spark, sf_dir))


def _affinity_pipeline(li: DataFrame) -> DataFrame:
    """Pair generation + support filter + lift over a DISTINCT
    (l_orderkey, l_partkey) basket relation (possibly pre-capped)."""
    a = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_a")
    )
    b = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "k")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .filter(F.col("n_orders") >= MIN_SUPPORT)
    )
    part_n = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_part")
    )
    n_baskets = li.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_baskets")
    )
    return (
        pairs.join(
            part_n.withColumnRenamed("l_partkey", "part_a").withColumnRenamed(
                "n_part", "n_a"
            ),
            "part_a",
        )
        .join(
            part_n.withColumnRenamed("l_partkey", "part_b").withColumnRenamed(
                "n_part", "n_b"
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "part_a",
            "part_b",
            "n_orders",
            "n_a",
            "n_b",
            F.expr("n_orders * n_baskets * 1000000L div (n_a * n_b)")
            .cast("long")
            .alias("lift_ppm"),
        )
        .orderBy(
            F.col("n_orders").desc(),
            F.col("lift_ppm").desc(),
            F.col("part_a").asc(),
            F.col("part_b").asc(),
        )
        .limit(TOP_PAIRS_K)
    )


def _lift_sql(d: Dialect) -> str:
    """pairs -> part_n -> tot -> the top lift pairs, over an ``li``
    (l_orderkey, l_partkey) basket CTE: the oracle twin of
    :func:`_affinity_pipeline`."""
    return f"""  pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {MIN_SUPPORT}
  ),
  part_n AS (
    SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_part
    FROM li GROUP BY l_partkey
  ),
  tot AS (
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM li
  )
  SELECT p.part_a, p.part_b, p.n_orders,
         na.n_part AS n_a, nb.n_part AS n_b,
         CAST(p.n_orders * t.n_baskets * 1000000 {d.div}
              (na.n_part * nb.n_part) AS BIGINT) AS lift_ppm
  FROM pairs p
  JOIN part_n na ON na.l_partkey = p.part_a
  JOIN part_n nb ON nb.l_partkey = p.part_b
  CROSS JOIN tot t
  ORDER BY p.n_orders DESC, lift_ppm DESC, p.part_a ASC, p.part_b ASC
  LIMIT {TOP_PAIRS_K}
"""


def _pairs_sql(d: Dialect) -> str:
    return f"""
  WITH li AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  ),
{_lift_sql(d)}"""


def basket_top_pairs_capped(
    spark: SparkSession, sf_dir: str, cap: int = BASKET_SIZE_CAP
) -> DataFrame:
    """:func:`basket_top_pairs` restricted to baskets of at most
    ``cap`` DISTINCT parts — the loud-degradation variant for corpora
    with mega-baskets (a 10^5-line basket contributes 10^10 pairs to
    the uncapped join; here it contributes zero and is COUNTED by
    :func:`basket_cap_report` instead).

    Semantics: the sub-corpus of qualifying baskets is analyzed end to
    end — supports, per-part counts and n_baskets all come from the
    capped relation, so lift stays internally consistent. With
    ``cap >= max basket size`` the output is identical to the uncapped
    operator (property-tested).

    Scale: the size filter is one count per basket on the already
    l_orderkey-keyed relation + a left-semi join reusing that key —
    no new shuffle key is introduced before the pair join.
    """
    li = _baskets(spark, sf_dir)
    keep = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("sz"))
        .filter(F.col("sz") <= cap)
        .select("l_orderkey")
    )
    return _affinity_pipeline(li.join(keep, "l_orderkey", "left_semi"))


def _pairs_capped_sql(d: Dialect) -> str:
    return f"""
  WITH li0 AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  ),
  keep AS (
    SELECT l_orderkey FROM li0 GROUP BY l_orderkey
    HAVING COUNT(*) <= {BASKET_SIZE_CAP}
  ),
  li AS (
    SELECT li0.l_orderkey, li0.l_partkey FROM li0
    JOIN keep ON keep.l_orderkey = li0.l_orderkey
  ),
{_lift_sql(d)}"""


def basket_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap-binding signal for :func:`basket_top_pairs_capped` (the
    dedup_substring_cap_report pattern): one row saying whether
    :data:`BASKET_SIZE_CAP` binds on this corpus. ``cap_binds = true``
    means some basket exceeded the cap, so the capped affinity is a
    sub-corpus analysis — production runs this alongside it and alerts.
    Costs one keyed count over the already-distinct basket relation.

    Output: (n_baskets, max_basket_size, size_cap, n_baskets_dropped,
    cap_binds).
    """
    sizes = (
        _baskets(spark, sf_dir)
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
    )
    return sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_baskets"),
        F.max("sz").cast("long").alias("max_basket_size"),
        F.lit(BASKET_SIZE_CAP).cast("long").alias("size_cap"),
        F.sum(F.expr(f"if(sz > {BASKET_SIZE_CAP}, 1L, 0L)"))
        .cast("long")
        .alias("n_baskets_dropped"),
        (F.max("sz") > F.lit(BASKET_SIZE_CAP)).alias("cap_binds"),
    )


BASKET_CAP_REPORT_ORACLE = f"""
  WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
  sizes AS (
    SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS sz
    FROM li GROUP BY l_orderkey
  )
  SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets,
         CAST(MAX(sz) AS BIGINT) AS max_basket_size,
         CAST({BASKET_SIZE_CAP} AS BIGINT) AS size_cap,
         CAST(SUM(CASE WHEN sz > {BASKET_SIZE_CAP} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_baskets_dropped,
         MAX(sz) > {BASKET_SIZE_CAP} AS cap_binds
  FROM sizes
"""


QUERIES = {
    "basket_top_pairs": basket_top_pairs,
    "basket_top_pairs_capped": basket_top_pairs_capped,
    "basket_cap_report": basket_cap_report,
}
TEMPLATES = {
    "basket_top_pairs": _pairs_sql,
    "basket_top_pairs_capped": _pairs_capped_sql,
    # the cap report is engine-portable SQL — one text, both engines
    "basket_cap_report": BASKET_CAP_REPORT_ORACLE,
}
