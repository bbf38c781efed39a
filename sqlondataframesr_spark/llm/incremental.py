"""Incremental (batch-vs-history) deduplication — the CDC shape every
production corpus pipeline actually runs.

North-star training-pipeline operator (no reference counterpart —
RDataFramesSQL.Rmd:60-704 is one-shot batch SQL). A crawl pipeline
never dedups the whole corpus from scratch: each ingest BATCH is
checked against the accumulated HISTORY, and only then merged. The
batch here is the deterministic slice doc_id % BATCH_MOD == BATCH_REM
(self-contained on the driver's tables); in production it's yesterday's
crawl and the same plan applies.

Two checks per batch document, mirroring the offline operators so the
incremental decision agrees with what a full-corpus run would do:

- EXACT: md5(text) hash-join against history (llm/dedup.dedup_exact's
  key); ``exact_dup_of`` = smallest matching history doc.
- NEAR: MinHash-LSH band collision against history (llm/minhash.py's
  signatures/banding verbatim), candidates scored by signature
  agreement; ``near_dup_of`` = the best-estimate history match at
  est >= EST_THRESHOLD (ties to the smaller id).

Decision: 'drop_exact' | 'drop_near' | 'keep' — no NULLs anywhere
(-1 / 0.0 sentinels) so harness row-sorting is total.

Scale (100 TB posture): history NEVER rescans per batch in production —
signatures and text hashes are write-once per doc (map-only) and
persist alongside the corpus; this operator recomputes them only
because the driver tables are raw text. The joins are all keyed:
md5 equi-join for exact, (band, bkey) join for candidates — the batch
side is ~1% of the corpus, so every shuffle is bounded by
|batch| x collision width, never |history|^2. AQE handles hot buckets
(real duplicate families) by skew-splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..materialize import materialize
from ..functions.rounding import r6 as _r6
from ..functions.dialect import Dialect
from .dedup import with_shingles, shingles_sql
from .minhash import (
    EST_THRESHOLD,
    NUM_PERM,
    minhash_bands,
    minhash_bands_sql,
    minhash_sig_sql,
    minhash_signatures,
    sig_agree,
)

BATCH_MOD = 10
BATCH_REM = 9


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per batch document: (doc_id, exact_dup_of, near_dup_of,
    best_est, decision), ordered by doc_id."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_batch = F.col("doc_id") % BATCH_MOD == BATCH_REM

    hashes = docs.select("doc_id", F.md5("text").alias("th"))
    exact = (
        hashes.filter(is_batch)
        .join(
            hashes.filter(~is_batch).select(
                F.col("doc_id").alias("h_id"), F.col("th").alias("h_th")
            ),
            F.col("th") == F.col("h_th"),
        )
        .groupBy("doc_id")
        .agg(F.min("h_id").alias("exact_dup_of"))
    )

    sig = minhash_signatures(with_shingles(docs)).transform(materialize)
    bands = minhash_bands(sig)
    cand = (
        bands.filter(is_batch)
        .select(F.col("doc_id").alias("b_id"), "band", "bkey")
        .join(
            bands.filter(~is_batch).select(
                F.col("doc_id").alias("h_id"), "band", "bkey"
            ),
            ["band", "bkey"],
        )
        .select("b_id", "h_id")
        .distinct()
    )
    est = (
        cand.join(sig.select(F.col("doc_id").alias("b_id"), F.col("sig").alias("sig_b")), "b_id")
        .join(sig.select(F.col("doc_id").alias("h_id"), F.col("sig").alias("sig_h")), "h_id")
        .select(
            "b_id",
            "h_id",
            _r6(
                F.size(F.filter(
                    F.zip_with("sig_b", "sig_h", lambda x, y: x == y), lambda v: v
                )).cast("double") / F.lit(float(NUM_PERM))).alias("est"),
        )
        .filter(F.col("est") >= EST_THRESHOLD)
    )
    near = est.groupBy("b_id").agg(
        F.expr("max_by(h_id, struct(est, -h_id))").alias("near_dup_of"),
        F.max("est").alias("best_est"),
    )

    return (
        docs.filter(is_batch)
        .select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, F.col("doc_id") == F.col("b_id"), "left")
        .select(
            "doc_id",
            F.coalesce("exact_dup_of", F.lit(-1)).cast("long").alias("exact_dup_of"),
            F.coalesce("near_dup_of", F.lit(-1)).cast("long").alias("near_dup_of"),
            F.coalesce("best_est", F.lit(0.0)).alias("best_est"),
            F.when(F.col("exact_dup_of").isNotNull(), F.lit("drop_exact"))
            .when(F.col("near_dup_of").isNotNull(), F.lit("drop_near"))
            .otherwise(F.lit("keep"))
            .alias("decision"),
        )
        .orderBy("doc_id")
    )


def _incremental_sql(d: Dialect) -> str:
    agree = sig_agree(d, "{a} = {b}", "\n" + " " * 37)
    return f"""
WITH s AS ({shingles_sql(d)}),
sig AS ({minhash_sig_sql(d)}),
bands AS ({minhash_bands_sql(d)}),
ex AS (
  SELECT b.doc_id, MIN(h.doc_id) AS exact_dup_of
  FROM documents b JOIN documents h ON md5(b.text) = md5(h.text)
  WHERE b.doc_id % {BATCH_MOD} = {BATCH_REM}
    AND h.doc_id % {BATCH_MOD} != {BATCH_REM}
  GROUP BY b.doc_id
),
cand AS (
  SELECT DISTINCT b.doc_id AS b_id, h.doc_id AS h_id
  FROM bands b JOIN bands h ON b.b = h.b AND b.bkey = h.bkey
  WHERE b.doc_id % {BATCH_MOD} = {BATCH_REM}
    AND h.doc_id % {BATCH_MOD} != {BATCH_REM}
),
est AS (
  SELECT c.b_id, c.h_id,
         ROUND(CAST({agree} AS DOUBLE)
               / {float(NUM_PERM)}{d.D}, 6) AS est
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.b_id
  JOIN sig sb ON sb.doc_id = c.h_id
),
near AS (
  SELECT b_id, h_id AS near_dup_of, est AS best_est
  FROM (SELECT *, row_number() OVER (PARTITION BY b_id
                                     ORDER BY est DESC, h_id) AS rn
        FROM est WHERE est >= {EST_THRESHOLD}{d.D})
  WHERE rn = 1
)
SELECT d.doc_id,
       CAST(COALESCE(ex.exact_dup_of, -1) AS BIGINT) AS exact_dup_of,
       CAST(COALESCE(near.near_dup_of, -1) AS BIGINT) AS near_dup_of,
       COALESCE(near.best_est, 0.0{d.D}) AS best_est,
       CASE WHEN ex.exact_dup_of IS NOT NULL THEN 'drop_exact'
            WHEN near.near_dup_of IS NOT NULL THEN 'drop_near'
            ELSE 'keep' END AS decision
FROM (SELECT doc_id FROM documents WHERE doc_id % {BATCH_MOD} = {BATCH_REM}) d
LEFT JOIN ex ON ex.doc_id = d.doc_id
LEFT JOIN near ON near.b_id = d.doc_id
ORDER BY d.doc_id
"""

QUERIES = {"dedup_incremental": dedup_incremental}
TEMPLATES = {
    "dedup_incremental": _incremental_sql,
}
