"""Hybrid retrieval: reciprocal-rank fusion (RRF) of the BM25 lexical
ranking and the exact-cosine embedding ranking — the standard fuse
production search stacks run (Cormack et al., SIGIR'09: rank-based
fusion is robust because it needs no score calibration between
engines):

    rrf(q, d) = Σ_lists 1 / (RRF_K + rank_list(q, d))

Identity assumption, stated: ``embeddings.vec_id`` indexes
``documents.doc_id`` (the synthetic embeddings are one-per-document at
matching ids), so the two rankings share an id space. Queries are the
intersection convention: ids < BM25_N_QUERIES.

Determinism: ranks are exact ints; 1/(K+rank) is one IEEE division;
fused scores round to 6 dp with id tie-breaks.

Scale: both inputs are already top-k (N_QUERIES·k rows each) — the
fusion itself is a toy-sized full-outer join + window, regardless of
corpus size. The cost lives in the two upstream rankings, each with
its own documented plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import vector as V
from ..functions.dialect import Dialect
from ..functions.rounding import r6 as _r6
from .bm25 import (
    BM25_N_QUERIES,
    BM25_TOP_K,
    bm25_ctes,
    bm25_topk,
)
from .similarity import DIM, TOP_K, ann_cosine_topk, vec_sql

RRF_K = 60

# The fluent path reuses ann_cosine_topk (cut at similarity.TOP_K)
# while the SQL/oracle duals cut at BM25_TOP_K; the fusion is only
# well-defined when both lists are the same depth, so pin the
# coincidence at import time (ADVICE r6) — changing either constant
# independently must fail loudly, not silently desynchronize the
# fluent form from its oracle.
if BM25_TOP_K != TOP_K:
    raise AssertionError(
        f"hybrid RRF requires BM25_TOP_K == similarity.TOP_K "
        f"(got {BM25_TOP_K} != {TOP_K})"
    )


def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = bm25_topk(spark, sf_dir).select(
        "q_id", F.col("doc_id").alias("id"), F.col("rnk").alias("b_rnk")
    )
    a = (
        ann_cosine_topk(spark, sf_dir)
        .filter(F.col("q_id") < BM25_N_QUERIES)
        .select("q_id", F.col("neighbor_id").alias("id"), F.col("rnk").alias("a_rnk"))
    )
    fused = (
        b.join(a, ["q_id", "id"], "full_outer")
        .withColumn(
            "rrf_score",
            _r6(
                F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("b_rnk")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("a_rnk")), F.lit(0.0))),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("rrf_score").desc(), F.col("id").asc())
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= BM25_TOP_K)
        .select("q_id", "id", "rrf_score", "rnk")
        .orderBy("q_id", "rnk")
    )


def _ann_ctes(d: Dialect) -> str:
    return f"""vec AS ({vec_sql(d)}),
ann_scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         {V.cosine(d, 'q.v', 'c.v', 'q.nrm', 'c.nrm', DIM)} AS cosine
  FROM vec q JOIN vec c ON c.vec_id != q.vec_id
  WHERE q.vec_id < {BM25_N_QUERIES}
),
ann_ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM ann_scored
)"""


def _fusion_tail() -> str:
    return f"""fused AS (
  SELECT COALESCE(b.q_id, a.q_id) AS q_id,
         COALESCE(b.doc_id, a.neighbor_id) AS id,
         -- CAST(1 AS DOUBLE): a bare 1.0 literal is DECIMAL in Spark
         -- SQL (decimal division would round differently than the
         -- fluent/DuckDB double path)
         round(COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + b.rnk), CAST(0 AS DOUBLE))
               + COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + a.rnk), CAST(0 AS DOUBLE)), 6) AS rrf_score
  FROM (SELECT * FROM bm25_ranked WHERE rnk <= {BM25_TOP_K}) b
  FULL JOIN (SELECT * FROM ann_ranked WHERE rnk <= {BM25_TOP_K}) a
    ON b.q_id = a.q_id AND b.doc_id = a.neighbor_id
),
fr AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY rrf_score DESC, id ASC) AS rnk
  FROM fused
)
SELECT q_id, id, rrf_score, rnk FROM fr WHERE rnk <= {BM25_TOP_K}
ORDER BY q_id, rnk"""


def _hybrid_sql(d: Dialect) -> str:
    return "WITH " + bm25_ctes(d) + ",\n" + _ann_ctes(d) + ",\n" + _fusion_tail()


QUERIES = {"hybrid_rrf_topk": hybrid_rrf_topk}
TEMPLATES = {
    "hybrid_rrf_topk": _hybrid_sql,
}
