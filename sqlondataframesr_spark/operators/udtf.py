"""Python UDTF (user-defined TABLE function) surface.

The reference has scalar-free, UDTF-free code (SURVEY.md §2.9: "No
scalar UDFs, no UDTFs"); this module completes the UDF class triangle
(scalar pandas UDF → multimodal/media.py, grouped-map →
operators/grouped.py, table function → here) with Spark's LATERAL
table-function mechanism.

Positioning (important at 100 TB): a Python UDTF is row-at-a-time —
the SLOWEST path in the engine. It exists for genuinely irregular
row→rows expansions (custom parsers, tokenizers with state); anything
expressible as `explode(split(...))` should stay in codegen — the
sentence split below IS so expressible, which is exactly what makes it
oracle-checkable: the UDTF result must equal the declarative form both
in DuckDB and in Spark itself (tests). The UDTF runs partition-local
(no shuffle); the only wide stage is the downstream aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..functions.dialect import dual


def doc_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sentence stats via a lateral Python UDTF: split
    text on '. ', emit one row per non-empty sentence, aggregate back
    to (doc_id, n_sentences, max_sent_len, first_sent_len).

    The UDTF class is defined NESTED so cloudpickle serializes it by
    value — an external driver's executors lack this repo on
    PYTHONPATH (same trap as pandas UDFs, see memory/driver notes).
    """
    from pyspark.sql.functions import udtf

    class _SentenceSplit:
        def eval(self, doc_id, text):  # noqa: ANN001 - UDTF contract
            if text is None:
                return
            for i, s in enumerate(text.split(". ")):
                if s:
                    yield doc_id, i, len(s)

    fn = udtf(_SentenceSplit, returnType="doc_id bigint, sent_idx int, sent_len int")
    spark.udtf.register("sentence_split", fn)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    sentences = spark.sql(
        "SELECT s.doc_id, s.sent_idx, s.sent_len "
        "FROM documents d, LATERAL sentence_split(d.doc_id, d.text) s"
    )
    return (
        sentences.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.max("sent_len").alias("max_sent_len"),
            F.min_by("sent_len", "sent_idx").alias("first_sent_len"),
        )
        .orderBy("doc_id")
    )


DOC_SENTENCE_STATS_ORACLE = """
WITH sent AS (
  SELECT doc_id,
         generate_subscripts(parts, 1) AS sent_idx,
         unnest(parts) AS s
  FROM (SELECT doc_id, string_split(text, '. ') AS parts FROM documents)
),
kept AS (
  SELECT doc_id, sent_idx, length(s) AS sent_len
  FROM sent WHERE s != ''
)
SELECT doc_id,
       COUNT(*) AS n_sentences,
       MAX(sent_len) AS max_sent_len,
       arg_min(sent_len, sent_idx) AS first_sent_len
FROM kept
GROUP BY doc_id
ORDER BY doc_id
"""


QUERIES = {"doc_sentence_stats": doc_sentence_stats}

# deliberate dual: posexplode(split) replaces the Python UDTF and the
# oracle's generate_subscripts — same enumeration (index over ALL
# '. '-parts, empties dropped after)
TEMPLATES = {
    "doc_sentence_stats": dual(DOC_SENTENCE_STATS_ORACLE, """
WITH sent AS (
  SELECT doc_id, sent_idx, s
  FROM documents
  LATERAL VIEW posexplode(split(text, '\\\\. ')) t AS sent_idx, s
),
kept AS (
  SELECT doc_id, sent_idx, length(s) AS sent_len FROM sent WHERE s != ''
)
SELECT doc_id,
       COUNT(1) AS n_sentences,
       MAX(sent_len) AS max_sent_len,
       min_by(sent_len, sent_idx) AS first_sent_len
FROM kept
GROUP BY doc_id
ORDER BY doc_id
"""),
}
