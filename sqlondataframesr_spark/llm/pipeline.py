"""End-to-end training-set materialization: the composed pipeline the
individual llm/ operators exist for.

    documents
      → exact-dedup keepers        (llm/dedup.dedup_exact)
      → quality gate               (llm/text.text_repetition metrics)
      → decontamination gate       (llm/decontam.decontam_overlap)
      → context-window chunking    (llm/text.text_chunks)
      → per-source corpus stats

Each stage is the registered operator itself — the pipeline composes
their DataFrames with semi-joins on doc_id, so correctness of the
composition rides on the already-oracle-checked parts, and the
pipeline's own DuckDB oracle re-composes the same stage oracles as
subqueries (checked end-to-end, not re-derived).

Scale: the gates are all doc_id-keyed one-row-per-doc relations —
the semi-join chain shuffles ids, never text; chunking (the only
row-expanding stage) runs after every filter, on the surviving docs
only. This ordering — drop early, expand late — is the whole craft of
a 100 TB preprocessing pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..functions.dialect import Dialect
from . import decontam as _decontam_mod, text as _text_mod
from .decontam import decontam_overlap
from .dedup import DEDUP_EXACT_ORACLE, dedup_exact
from .text import text_chunks, text_repetition

#: quality gate thresholds (sf-robust: p10-ish on the synthetic corpus)
MIN_TOKENS = 20
MIN_DISTINCT_RATIO = 0.3


def pipeline_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the training corpus and report it per source:
    (source, n_docs, n_chunks, n_tokens) after dedup + quality +
    decontamination gates and chunking."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")

    keepers = dedup_exact(spark, sf_dir).select(F.col("keep_id").alias("doc_id"))
    quality = text_repetition(spark, sf_dir).filter(
        (F.col("n_tokens") >= MIN_TOKENS)
        & (F.col("distinct_ratio") >= MIN_DISTINCT_RATIO)
    )
    clean = decontam_overlap(spark, sf_dir).filter(~F.col("contaminated"))

    kept = (
        keepers.join(quality.select("doc_id"), "doc_id", "left_semi")
        .join(clean.select("doc_id"), "doc_id", "left_semi")
    )
    chunks = text_chunks(spark, sf_dir).join(kept, "doc_id", "left_semi")
    return (
        chunks.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_chunk_tokens").alias("n_tokens"),
        )
        .orderBy("source")
    )


def _pipeline_sql(d: Dialect) -> str:
    """The stage texts chained: the SQL pipeline is the SQL stages
    composed, not a re-derivation."""
    return f"""
WITH keepers AS (
  SELECT keep_id AS doc_id FROM ({DEDUP_EXACT_ORACLE})
),
quality AS (
  SELECT doc_id FROM ({d.render(_text_mod.TEMPLATES["text_repetition"])})
  WHERE n_tokens >= {MIN_TOKENS} AND distinct_ratio >= {MIN_DISTINCT_RATIO}{d.D}
),
clean AS (
  SELECT doc_id FROM ({d.render(_decontam_mod.TEMPLATES["decontam_overlap"])}) WHERE NOT contaminated
),
kept AS (
  SELECT k.doc_id FROM keepers k
  JOIN quality USING (doc_id)
  JOIN clean USING (doc_id)
),
chunks AS (
  SELECT * FROM ({d.render(_text_mod.TEMPLATES["text_chunks"])}) c
  WHERE c.doc_id IN (SELECT doc_id FROM kept)
)
SELECT d.source,
       COUNT(DISTINCT c.doc_id) AS n_docs,
       COUNT(*) AS n_chunks,
       -- CAST: DuckDB SUM(int) is HUGEINT, the driver hashes the type
       CAST(SUM(c.n_chunk_tokens) AS BIGINT) AS n_tokens
FROM chunks c JOIN documents d USING (doc_id)
GROUP BY d.source
ORDER BY d.source
"""


QUERIES = {"pipeline_training_set": pipeline_training_set}
TEMPLATES = {
    "pipeline_training_set": _pipeline_sql,
}
