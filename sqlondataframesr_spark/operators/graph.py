"""Iterative graph analytics: PageRank over a distilled entity graph.

North-star operator (the reference, RDataFramesSQL.Rmd:60-704, has no
iterative surface). The 100 TB shape worth copying is the TWO-LEVEL
split, same as llm/dedup.dedup_clusters:

1. DISTILL — one heavy, fully-distributed join/aggregate pass reduces
   the corpus-sized fact table to an entity graph whose node count is
   bounded by the dimension (here: nation -> nation trade edges,
   <= 25 x 25 rows, from lineitem x orders x customer x supplier).
   This is where all the bytes are, and it is ordinary partial-
   aggregated shuffle work.
2. ITERATE — PageRank runs on the distilled graph, which is broadcast-
   sized BY CONSTRUCTION at any corpus scale. Five unrolled
   small-join iterations; nothing corpus-sized is touched again.

Determinism contract: every iteration is INTEGER arithmetic.
Rank is carried in micro-units (bigint); each edge contribution is
``rank_us * weight div out_weight`` (bigint division truncates
identically in Spark and DuckDB for non-negative operands), the
damping is ``85 * sum div 100``, and sums are exact bigint adds —
order-independent, so the Spark plan and the DuckDB oracle (the SAME
unrolled SQL text) agree to the last digit. The float PageRank a
textbook writes is summation-order-nondeterministic across engines;
the integer form is the price of an EXACT cross-engine oracle, and
the quantization error (1e-6 of rank mass per edge) is far below any
ranking-relevant signal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..functions.dialect import Dialect
from ..materialize import materialize

#: damping factor 0.85 expressed as integer percent, and rank scale
_DAMP_PCT = 85
_SCALE_US = 1_000_000
_N_ITERS = 5


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cust_nation -> supp_nation revenue-weighted edges (cents).

    The distill pass: corpus-sized joins, bounded output. Nation is a
    broadcast dim on both legs; self-edges (domestic trade) are kept —
    PageRank handles them fine and dropping them would be an arbitrary
    semantic choice.
    """
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    ords = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.expr(
            "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"
        ).alias("rev_c"),
    )
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(cust, ords.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("cust_nation").alias("src"), F.col("supp_nation").alias("dst")
        )
        .agg(F.sum("rev_c").alias("w"))
    )


def graph_nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the nation trade graph, 5 unrolled iterations in
    exact integer micro-units.

    Output: (nation, rank_us) ordered by rank_us desc, nation asc.
    """
    edges = materialize(_trade_edges(spark, sf_dir))
    nodes = materialize(
        edges.select(F.col("src").alias("nation"))
        .union(edges.select("dst"))
        .distinct()
    )
    n = nodes.count()  # bounded by the nation dim (25), not the corpus
    if n == 0:  # empty graph (no trade rows): the ranking is empty too
        return nodes.select(
            "nation", F.lit(0).cast("long").alias("rank_us")
        ).orderBy(F.col("rank_us").desc(), F.col("nation").asc())
    base_us = (100 - _DAMP_PCT) * _SCALE_US // (100 * n)

    out_w = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    # (src, dst, w, ow) — the per-edge share denominator attached once
    g = materialize(edges.join(out_w, "src"))

    ranks = nodes.select(
        "nation", F.lit(_SCALE_US // n).cast("long").alias("rank_us")
    )
    for _ in range(_N_ITERS):
        contrib = (
            g.join(ranks, g.src == ranks.nation)
            .select(
                "dst",
                F.expr("rank_us * w div ow").alias("c_us"),
            )
            .groupBy("dst")
            .agg(F.sum("c_us").alias("in_us"))
        )
        ranks = nodes.join(
            contrib, nodes.nation == contrib.dst, "left"
        ).select(
            "nation",
            (
                F.lit(base_us)
                + F.expr(f"{_DAMP_PCT} * coalesce(in_us, 0L) div 100")
            ).cast("long").alias("rank_us"),
        )
    return ranks.orderBy(F.col("rank_us").desc(), F.col("nation").asc())


#: customer nation -> supplier nation over every lineitem, one group
#: per directed nation pair: the FROM .. GROUP BY of both edge CTEs
_TRADE_JOIN = """  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
  GROUP BY nc.n_name, ns.n_name
"""


def _pagerank_sql(d: Dialect, n_nations: int) -> str:
    """The SAME unrolled computation as SQL. ``n_nations`` must equal
    the distinct node count — asserted by the node-count CTE
    cross-check below."""
    base = d.idiv(f"({100 - _DAMP_PCT} * {_SCALE_US})", f"(100 * {n_nations})")
    r0 = d.idiv(_SCALE_US, n_nations)
    sql = f"""
WITH edges AS (
  SELECT nc.n_name AS src, ns.n_name AS dst,
         SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS w
{_TRADE_JOIN}),
nodes AS (SELECT DISTINCT src AS nation FROM edges
          UNION SELECT DISTINCT dst FROM edges),
g AS (SELECT e.src, e.dst, e.w, ow.ow
      FROM edges e JOIN (SELECT src, SUM(w) AS ow FROM edges GROUP BY src) ow
      ON e.src = ow.src),
r0 AS (SELECT nation, CAST({r0} AS BIGINT) AS rank_us FROM nodes)"""
    for i in range(_N_ITERS):
        sql += f""",
c{i} AS (SELECT g.dst, SUM({d.idiv('r.rank_us * g.w', 'g.ow')}) AS in_us
         FROM g JOIN r{i} r ON g.src = r.nation GROUP BY g.dst),
r{i + 1} AS (SELECT n.nation,
             CAST({base} + {d.idiv(f'{_DAMP_PCT} * COALESCE(c.in_us, 0)', 100)} AS BIGINT)
               AS rank_us
             FROM nodes n LEFT JOIN c{i} c ON n.nation = c.dst)"""
    sql += f"""
SELECT nation, rank_us FROM r{_N_ITERS}
ORDER BY rank_us DESC, nation ASC"""
    return sql


#: the testdata nation dim is 25 rows at every SF and every nation
#: trades (dense synthetic data) — the oracle pins n = 25 and the
#: pytest cross-checks it against the live node count
N_NATIONS = 25


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation triangle participation over the undirected nation
    trade graph (motif counting — the classic clustering primitive).

    Same two-level split as PageRank: the DISTILL pass (corpus-sized
    joins down to <= 25x25 edges) carries all the bytes; the triangle
    enumeration then runs on a dimension-bounded graph, so the two
    self-joins are broadcast-sized BY CONSTRUCTION. Triangles are
    enumerated once each via the canonical ordering a < b < c
    (undirected edges stored with a < b, so the (a,b)x(b,c)x(a,c)
    join cannot double-count). Self-loop EDGES (domestic trade) are
    excluded — a triangle is three distinct nations — but the node set
    is built from the RAW edge list before that filter, so a nation
    whose only trade is domestic still appears with zero triangles
    (r9 ADVICE: it used to vanish entirely).

    Output: (nation, n_triangles) for every trading nation, zeros
    included, ordered by (n_triangles desc, nation asc).
    """
    # pin the distilled edge list: BOTH the undirected edge set and
    # the (raw, self-loops included) node set read it, and the distill
    # pass is the only corpus-sized work here
    edges = materialize(_trade_edges(spark, sf_dir).select("src", "dst"))
    und = materialize(
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    nodes = edges.select(F.col("src").alias("nation")).union(
        edges.select("dst")
    ).distinct()
    parts = (
        tri.select(F.col("x").alias("nation"))
        .unionAll(tri.select("y"))
        .unionAll(tri.select("z"))
    )
    return (
        nodes.join(parts.withColumn("one", F.lit(1)), "nation", "left")
        .groupBy("nation")
        .agg(F.count("one").cast("long").alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), F.col("nation").asc())
    )


_EDGES_CTE = f"""
  SELECT nc.n_name AS src, ns.n_name AS dst
{_TRADE_JOIN}"""

GRAPH_TRIANGLE_COUNT_ORACLE = f"""
WITH edges AS ({_EDGES_CTE}),
und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM edges WHERE src <> dst),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
nodes AS (SELECT DISTINCT src AS nation FROM edges
          UNION SELECT DISTINCT dst FROM edges),
parts AS (SELECT x AS nation FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
SELECT n.nation AS nation, CAST(COUNT(p.nation) AS BIGINT) AS n_triangles
FROM nodes n LEFT JOIN parts p ON p.nation = n.nation
GROUP BY n.nation
ORDER BY n_triangles DESC, n.nation ASC"""


QUERIES = {
    "graph_nation_pagerank": graph_nation_pagerank,
    "graph_triangle_count": graph_triangle_count,
}
# the triangle text runs on both engines as is
TEMPLATES = {
    "graph_nation_pagerank": lambda d: _pagerank_sql(d, N_NATIONS),
    "graph_triangle_count": GRAPH_TRIANGLE_COUNT_ORACLE,
}
