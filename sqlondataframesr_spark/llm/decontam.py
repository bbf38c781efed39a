"""Benchmark decontamination: flag training documents that overlap an
evaluation set (n-gram contamination check).

North-star training-pipeline operator (no reference counterpart —
the reference is batch SQL only, RDataFramesSQL.Rmd:60-704). This is
the standard pre-training hygiene step: before training, remove any
corpus document sharing too many n-grams with the benchmark/eval set.

The "eval set" here is a deterministic pseudo-benchmark slice of
``documents`` (doc_id % 53 == 0) so the operator is self-contained and
oracle-checkable on the driver's tables; in production the eval set is
an external (small) table and the same plan applies unchanged.

Scale design: the eval set is tiny relative to the corpus (MBs vs
100 TB), so its distinct shingle set is **broadcast** — the corpus-side
shingle stream joins against an in-memory hash set on every executor,
no shuffle of corpus shingles at all. The only shuffle is the per-doc
overlap count (groupBy doc_id), which is partial-aggregated map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..materialize import materialize
from ..catalog import load_table
from ..functions.rounding import r6 as _r6, r6_sql
from ..functions.dialect import Dialect, dual
from .dedup import with_shingles, shingles_sql

#: flag a training doc when >= this fraction of its 3-shingles appear in the eval set
CONTAM_THRESHOLD = 0.2
#: deterministic pseudo-eval-set selector
EVAL_MOD = 53


def decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per training document: distinct-3-shingle overlap with the eval
    slice, as (doc_id, n_shingles, n_overlap, overlap_ratio,
    contaminated). Training docs = doc_id % 53 != 0; docs with <3
    tokens have no shingles and are trivially clean (ratio 0).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shingled = with_shingles(docs).transform(materialize)

    is_eval = F.col("doc_id") % EVAL_MOD == 0
    eval_sh = (
        shingled.filter(is_eval)
        .select(F.explode("sh").alias("s"))
        .distinct()
    )
    train_sh = shingled.filter(~is_eval).select(
        "doc_id", F.explode("sh").alias("s")
    )
    overlap = (
        train_sh.join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    sizes = shingled.filter(~is_eval).select(
        "doc_id", F.size("sh").alias("n_shingles")
    )
    base = docs.filter(~is_eval).select("doc_id")
    return (
        base.join(sizes, "doc_id", "left")
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            F.when(
                F.coalesce("n_shingles", F.lit(0)) > 0,
                _r6(
                    F.coalesce("n_overlap", F.lit(0)).cast("double")
                    / F.col("n_shingles").cast("double")
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("overlap_ratio"),
        )
        .withColumn("contaminated", F.col("overlap_ratio") >= CONTAM_THRESHOLD)
        .orderBy("doc_id")
    )


def _overlap_sql(d: Dialect) -> str:
    return f"""
WITH s AS ({shingles_sql(d)}),
eval_sh AS (
  SELECT DISTINCT {d.fn('unnest', 'sh')} AS sh FROM s WHERE doc_id % {EVAL_MOD} = 0
),
train AS (SELECT doc_id, sh FROM s WHERE doc_id % {EVAL_MOD} != 0),
train_e AS (SELECT doc_id, {d.fn('unnest', 'sh')} AS sh FROM train),
overlap AS (
  SELECT t.doc_id, COUNT(*) AS n_overlap
  FROM train_e t JOIN eval_sh e ON t.sh = e.sh
  GROUP BY t.doc_id
),
sizes AS (SELECT doc_id, {d.fn('len', 'sh')} AS n_shingles FROM train)
SELECT d.doc_id,
       CAST(COALESCE(sz.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       CASE WHEN COALESCE(sz.n_shingles, 0) > 0
            THEN {r6_sql('''CAST(COALESCE(o.n_overlap, 0) AS DOUBLE)
                       / CAST(sz.n_shingles AS DOUBLE)''')}
            ELSE 0.0{d.D} END AS overlap_ratio,
       (CASE WHEN COALESCE(sz.n_shingles, 0) > 0
             THEN {r6_sql('''CAST(COALESCE(o.n_overlap, 0) AS DOUBLE)
                        / CAST(sz.n_shingles AS DOUBLE)''')}
             ELSE 0.0{d.D} END) >= {CONTAM_THRESHOLD}{d.D} AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % {EVAL_MOD} != 0) d
LEFT JOIN sizes sz USING (doc_id)
LEFT JOIN overlap o USING (doc_id)
ORDER BY d.doc_id
"""


def decontam_scrub_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination: REMOVE the contaminated 13-token
    windows from training documents instead of dropping the documents
    (the span-removal discipline of Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022 — applied to
    eval overlap instead of self-duplication). A token is scrubbed iff
    it lies inside ANY 13-token window whose md5 appears among the
    eval slice's windows; everything else survives, so one shared
    benchmark sentence no longer costs a whole (otherwise clean)
    document.

    Plan shape: eval grams are a broadcast set (tiny vs the corpus —
    same posture as decontam_overlap); the corpus side emits
    POSITIONAL grams (start index + md5, no distinct — positions
    matter here), joins the broadcast, and the per-doc hit-start list
    rides one partial-aggregated groupBy. Token filtering is a local
    array expression: O(tokens x hits) per document, bounded by
    document length — never a shuffle.

    Output: (doc_id, n_tokens, n_removed, scrubbed_text) for training
    docs (eval slice excluded), ordered by doc_id. Docs shorter than
    13 tokens have no windows and pass through untouched.
    """
    from .dedup import SUBSTR_K, with_grams

    k = SUBSTR_K
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_eval = F.col("doc_id") % EVAL_MOD == 0

    eval_g = (
        with_grams(docs.filter(is_eval), k)
        .select(F.explode("gr").alias("gx"))
        .distinct()
    )
    train = docs.filter(~is_eval).withColumn("w", F.split("text", " "))
    # positional grams: (doc_id, start i [0-based], md5) — NO distinct.
    # TOTAL expression (IF-guarded like with_grams): Catalyst may hoist
    # the generator child past the size(w) >= k filter, and slice()
    # throws on a descending sequence for sub-k-token docs.
    pos_g = train.filter(F.size("w") >= k).select(
        "doc_id",
        F.explode(
            F.expr(
                f"IF(size(w) >= {k},"
                f" transform(sequence(0, size(w) - {k}),"
                f"  i -> struct(i AS i, md5(concat_ws(' ', slice(w, i + 1, {k}))) AS gx)),"
                f" CAST(array() AS array<struct<i:int,gx:string>>))"
            )
        ).alias("e"),
    ).select("doc_id", "e.i", "e.gx")
    hits = (
        pos_g.join(F.broadcast(eval_g), "gx")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("i")).alias("hits"))
    )
    return (
        train.join(hits, "doc_id", "left")
        .withColumn(
            "hits", F.coalesce("hits", F.expr("CAST(array() AS array<int>)"))
        )
        .withColumn(
            "kept",
            F.expr(
                "filter(sequence(1, size(w)),"
                f" p -> NOT exists(hits, h -> h + 1 <= p AND p <= h + {k}))"
            ),
        )
        .select(
            "doc_id",
            F.size("w").cast("long").alias("n_tokens"),
            (F.size("w") - F.size("kept")).cast("long").alias("n_removed"),
            F.expr(
                "concat_ws(' ', transform(kept, p -> element_at(w, p)))"
            ).alias("scrubbed_text"),
        )
        .orderBy("doc_id")
    )


def _scrub_oracle() -> str:
    from .dedup import SUBSTR_K as K

    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
eval_g AS (
  SELECT DISTINCT gx FROM (
    SELECT unnest([md5(array_to_string(
             w[CAST(i + 1 AS INT):CAST(i + {K} AS INT)], ' '))
           for i in range(0, len(w) - {K - 1})]) AS gx
    FROM t WHERE doc_id % {EVAL_MOD} = 0 AND len(w) >= {K}
  )
),
train AS (SELECT doc_id, w FROM t WHERE doc_id % {EVAL_MOD} != 0),
pos_g AS (
  SELECT doc_id, i,
         md5(array_to_string(w[CAST(i + 1 AS INT):CAST(i + {K} AS INT)], ' ')) AS gx
  FROM (SELECT doc_id, w, unnest(range(0, len(w) - {K - 1})) AS i
        FROM train WHERE len(w) >= {K})
),
hits AS (
  SELECT doc_id, list_sort(list(i)) AS hits
  FROM pos_g JOIN eval_g USING (gx) GROUP BY doc_id
),
j AS (
  SELECT tr.doc_id, tr.w, COALESCE(h.hits, []) AS hits
  FROM train tr LEFT JOIN hits h USING (doc_id)
),
kp AS (
  SELECT doc_id, w,
         list_filter(range(1, len(w) + 1),
           p -> len(list_filter(hits, h -> h + 1 <= p AND p <= h + {K})) = 0) AS kept
  FROM j
)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(w) - len(kept) AS BIGINT) AS n_removed,
       -- COALESCE: a FULLY-scrubbed doc has an empty kept list, where
       -- DuckDB's list comprehension/array_to_string yields NULL but
       -- Spark's concat_ws yields '' — '' is the canonical value
       COALESCE(array_to_string([w[CAST(p AS INT)] for p in kept], ' '), '')
         AS scrubbed_text
FROM kp ORDER BY doc_id
"""


# deliberate dual: IF-guards keep the window generators total when
# Spark hoists them past the size(w) filter (slice throws on a
# descending sequence), and exists() replaces the nested list_filter
def _scrub_spark_sql() -> str:
    from .dedup import SUBSTR_K as K

    return f"""
WITH t AS (SELECT doc_id, split(text, ' ') AS w FROM documents),
eval_g AS (
  -- IF-guard: TOTAL expression even if the generator child is hoisted
  -- past the size(w) filter (slice throws on descending sequence)
  SELECT DISTINCT gx FROM (
    SELECT explode(IF(size(w) >= {K},
             transform(sequence(0, size(w) - {K}),
               i -> md5(concat_ws(' ', slice(w, i + 1, {K})))),
             array())) AS gx
    FROM t WHERE doc_id % {EVAL_MOD} = 0 AND size(w) >= {K}
  )
),
train AS (SELECT doc_id, w FROM t WHERE doc_id % {EVAL_MOD} != 0),
pos_g AS (
  SELECT doc_id, e.i, e.gx FROM (
    SELECT doc_id, explode(IF(size(w) >= {K},
             transform(sequence(0, size(w) - {K}),
               i -> struct(i AS i, md5(concat_ws(' ', slice(w, i + 1, {K}))) AS gx)),
             CAST(array() AS array<struct<i:int,gx:string>>))) AS e
    FROM train WHERE size(w) >= {K})
),
hits AS (
  SELECT doc_id, sort_array(collect_list(i)) AS hits
  FROM pos_g JOIN eval_g USING (gx) GROUP BY doc_id
),
j AS (
  SELECT tr.doc_id, tr.w,
         coalesce(h.hits, CAST(array() AS array<int>)) AS hits
  FROM train tr LEFT JOIN hits h USING (doc_id)
),
kp AS (
  SELECT doc_id, w,
         filter(sequence(1, size(w)),
           p -> NOT exists(hits, h -> h + 1 <= p AND p <= h + {K})) AS kept
  FROM j
)
SELECT doc_id,
       CAST(size(w) AS BIGINT) AS n_tokens,
       CAST(size(w) - size(kept) AS BIGINT) AS n_removed,
       concat_ws(' ', transform(kept, p -> element_at(w, p))) AS scrubbed_text
FROM kp ORDER BY doc_id
"""


QUERIES = {
    "decontam_overlap": decontam_overlap,
    "decontam_scrub_spans": decontam_scrub_spans,
}
TEMPLATES = {
    "decontam_overlap": _overlap_sql,
    "decontam_scrub_spans": dual(_scrub_oracle, _scrub_spark_sql),
}
