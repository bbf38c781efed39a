"""Contrastive training-pair mining over the semantic-cluster
structure — the step that turns a deduped embedding corpus into
(anchor, positive, hard-negative) triples for embedding-model /
reranker training.

North-star operator (no reference counterpart). The recipe every
retrieval-training pipeline uses:

- POSITIVE: the anchor's most-similar cluster-mate with cosine >=
  POS_T (a near-duplicate / paraphrase — "same thing said twice");
- HARD NEGATIVE: the most-similar cluster-mate inside the band
  [NEG_LO, NEG_HI) — close enough to be confusable, far enough to be
  genuinely different. Random negatives are easy; the band is what
  makes them hard.

Both are confined to trained k-means clusters (llm/similarity's
unrolled-Lloyd codebook, same as SemDeDup) — the quadratic term is
per-cluster, never corpus-wide, and the cluster count bounds the
broadcast. Determinism: argmax on the RAW cosine (identical
expression text both engines), ties to the smaller candidate id;
reported cosines rounded to 6 dp.

Scale: identical posture to llm/semdedup.semdedup — one corpus-sized
assignment pass, per-cluster pair joins keyed on the cluster id, and
a keyed argmax (max_by) per anchor with map-side partial aggregation.
Since round 5 the candidate side of the pair join is capped to the
CLUSTER_PAIR_CAP smallest-id members per cluster (semdedup.
capped_partners), bounding a hot cluster at O(|cluster| * CAP) pairs
instead of O(|cluster|^2); the cap never binds at tested scales and
both SQL duals replay it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..materialize import materialize
from ..functions import vector as V
from ..functions.dialect import SPARK, Dialect
from ..functions.rounding import r6 as _r6, r6_sql
from .semdedup import cap_cte, capped_partners, final_assign_sql, trained_prefix_sql
from .similarity import (
    DIM,
    assign_lists,
    kmeans_centroids,
    load_vectors,
)

POS_T = 0.4
NEG_LO, NEG_HI = 0.1, 0.25


def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per anchor vector: best positive and hardest in-band negative
    among its cluster-mates.

    Output: (vec_id, c_id, pos_id, pos_cos, neg_id, neg_cos) ordered
    by vec_id; -1 / 0.0 when no candidate exists in the class.
    """
    vec = load_vectors(spark, sf_dir).transform(materialize)
    cent = kmeans_centroids(vec).select("c_id", "cv", "cn")
    asg = assign_lists(vec, cent, "vec_id")
    members = materialize(
        vec.join(asg, "vec_id").select("vec_id", "list_id", "v", "nrm")
    )
    a = members.select(
        F.col("vec_id").alias("a_id"), F.col("list_id").alias("a_list"),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    # candidate side capped to the CAP smallest ids per cluster —
    # bounds pair fan-out linearly in cluster size (never binds at
    # tested scales; argmax ties already prefer the smaller id)
    b = capped_partners(members).select(
        F.col("vec_id").alias("b_id"), F.col("list_id").alias("b_list"),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    pairs = (
        a.join(b, (F.col("a_list") == F.col("b_list")) & (F.col("a_id") != F.col("b_id")))
        .select(
            "a_id",
            "b_id",
            F.expr(V.cosine(SPARK, "va", "vb", "na", "nb", DIM)).alias("cos"),
        )
    )
    pos = (
        pairs.filter(F.col("cos") >= POS_T)
        .groupBy("a_id")
        .agg(
            F.expr("max_by(b_id, struct(cos, -b_id))").alias("pos_id"),
            _r6(F.max("cos")).alias("pos_cos"),
        )
    )
    neg = (
        pairs.filter((F.col("cos") >= NEG_LO) & (F.col("cos") < NEG_HI))
        .groupBy("a_id")
        .agg(
            F.expr("max_by(b_id, struct(cos, -b_id))").alias("neg_id"),
            _r6(F.max("cos")).alias("neg_cos"),
        )
    )
    return (
        members.select("vec_id", F.col("list_id").alias("c_id"))
        .join(pos, members.vec_id == pos.a_id, "left").drop("a_id")
        .join(neg, F.col("vec_id") == neg.a_id, "left").drop("a_id")
        .select(
            "vec_id",
            "c_id",
            F.coalesce("pos_id", F.lit(-1)).cast("long").alias("pos_id"),
            F.coalesce("pos_cos", F.lit(0.0)).alias("pos_cos"),
            F.coalesce("neg_id", F.lit(-1)).cast("long").alias("neg_id"),
            F.coalesce("neg_cos", F.lit(0.0)).alias("neg_cos"),
        )
        .orderBy("vec_id")
    )


def _contrastive_sql(d: Dialect) -> str:
    cos = V.cosine(d, "a.v", "b.v", "a.nrm", "b.nrm", DIM)
    return (
        trained_prefix_sql(d)
        + final_assign_sql(d)
        + f""",
{cap_cte()},
pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, {cos} AS cos
  FROM m a JOIN ma b ON a.list_id = b.list_id AND a.vec_id <> b.vec_id),
pos AS (
  SELECT a_id, b_id AS pos_id, {r6_sql('cos')} AS pos_cos FROM (
    SELECT a_id, b_id, cos,
           ROW_NUMBER() OVER (PARTITION BY a_id
                              ORDER BY cos DESC, b_id ASC) AS rn
    FROM pairs WHERE cos >= {POS_T}) WHERE rn = 1),
neg AS (
  SELECT a_id, b_id AS neg_id, {r6_sql('cos')} AS neg_cos FROM (
    SELECT a_id, b_id, cos,
           ROW_NUMBER() OVER (PARTITION BY a_id
                              ORDER BY cos DESC, b_id ASC) AS rn
    FROM pairs WHERE cos >= {NEG_LO} AND cos < {NEG_HI}) WHERE rn = 1)
SELECT m.vec_id, m.list_id AS c_id,
       CAST(COALESCE(pos.pos_id, -1) AS BIGINT) AS pos_id,
       COALESCE(pos.pos_cos, 0.0) AS pos_cos,
       CAST(COALESCE(neg.neg_id, -1) AS BIGINT) AS neg_id,
       COALESCE(neg.neg_cos, 0.0) AS neg_cos
FROM m LEFT JOIN pos ON m.vec_id = pos.a_id
       LEFT JOIN neg ON m.vec_id = neg.a_id
ORDER BY m.vec_id"""
    )


QUERIES = {"contrastive_pairs": contrastive_pairs}
TEMPLATES = {
    "contrastive_pairs": _contrastive_sql,
}
