"""Grouped-map pandas UDF — the general escape hatch for per-group
logic the built-in aggregates can't express.

The reference's base-R variants are exactly this shape: ``split(df,
key)`` + ``lapply(group_fn)`` + ``rbind`` (RDataFramesSQL.Rmd:195-205
computes sum/max/argmax per group with an arbitrary R closure). The
Spark-native mapping is ``groupBy(key).applyInPandas(fn, schema)``:
each group arrives as ONE pandas DataFrame over Arrow, the closure
returns a DataFrame, rows are unioned.

When to use it (and when not): anything expressible with built-in
aggregates should stay JVM-side (10-100x faster — SURVEY.md §2.9);
applyInPandas is for genuinely imperative per-group logic (iterative
fits, numpy linear algebra, ordered scans with state). The demo here
computes a median + tie-broken argmax per group — median IS
expressible in SQL (percentile_cont), which is what makes the operator
oracle-checkable while still exercising the full Arrow path.

Scale (100 TB posture): one shuffle on the grouping key; each group
must fit in ONE python worker's memory (groups here are
corpus-source-sized — bounded; for unbounded groups pre-aggregate or
salt first). Arrow moves columnar batches, not pickled rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..functions.dialect import dual

_OUT_SCHEMA = (
    "source string, n_docs long, median_chars double, "
    "max_chars long, argmax_doc long"
)


def pandas_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source doc stats via grouped-map pandas UDF (median +
    argmax with explicit tie-break — the RDataFramesSQL.Rmd:195-205
    split-apply-combine shape, Arrow-vectorized)."""

    # defined inside so cloudpickle ships it BY VALUE — python workers
    # under an external driver have no import path to this package
    def _source_stats(pdf):
        import numpy as np
        import pandas as pd

        n_chars = pdf["n_chars"]
        mx = int(n_chars.max())
        return pd.DataFrame(
            [
                {
                    "source": pdf["source"].iloc[0],
                    "n_docs": len(pdf),
                    "median_chars": float(np.median(n_chars)),
                    "max_chars": mx,
                    # deterministic tie-break: smallest doc_id among maxima
                    "argmax_doc": int(pdf.loc[n_chars == mx, "doc_id"].min()),
                }
            ]
        )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return (
        docs.groupBy("source")
        .applyInPandas(_source_stats, _OUT_SCHEMA)
        .orderBy("source")
    )


PANDAS_SOURCE_STATS_ORACLE = """
WITH m AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(median(n_chars) AS DOUBLE) AS median_chars,
         MAX(n_chars) AS max_chars
  FROM documents
  GROUP BY source
)
SELECT m.source, m.n_docs, m.median_chars, m.max_chars,
       (SELECT MIN(d.doc_id) FROM documents d
        WHERE d.source = m.source AND d.n_chars = m.max_chars) AS argmax_doc
FROM m
ORDER BY m.source
"""


QUERIES = {
    "pandas_source_stats": pandas_source_stats,
}

# deliberate dual: the built-in-aggregate twin (min_by argmax) of the
# pandas closure, where the oracle uses a correlated subquery — exactly the "expressible in SQL" property that makes the
# Arrow path oracle-checkable (module docstring).
TEMPLATES = {
    "pandas_source_stats": dual(PANDAS_SOURCE_STATS_ORACLE, """
SELECT source,
       COUNT(1) AS n_docs,
       CAST(percentile(n_chars, 0.5D) AS DOUBLE) AS median_chars,
       MAX(n_chars) AS max_chars,
       min_by(doc_id, struct(-n_chars, doc_id)) AS argmax_doc
FROM documents
GROUP BY source
ORDER BY source
"""),
}
