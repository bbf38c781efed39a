"""Corpus-curation operators round 2: heavy hitters, canonical-doc
selection, PII scrubbing, per-source quality-quantile gating.

These fill the remaining standard stages of a large-scale training-data
pipeline (the reference has no analogue — this is north-star surface,
like llm/corpus.py):

- :func:`text_heavy_hitters` — EXACT distributed heavy hitters with
  per-partition candidate pruning (the "local threshold" trick from the
  classic iceberg-query literature), so only candidate terms shuffle.
- :func:`dedup_keep_best` — bag-of-words duplicate grouping that keeps
  the highest-quality representative per group (canonical-doc
  selection, the step after any dedup pass decides *what to keep*).
- :func:`text_pii_scrub` — map-only regex redaction (emails, phone
  numbers, IPv4) with per-doc match counts.
- :func:`corpus_quality_quantile_gate` — keep documents above their
  source's median quality (exact percentile, broadcast join back).

All oracles are exactly-equivalent DuckDB SQL; regexes are restricted
to constructs with identical Java-regex / RE2 semantics (ASCII classes,
``\\b``, explicit quantifiers).
"""

from __future__ import annotations

import math
from collections import Counter
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..functions.dialect import Dialect
from ..functions.rounding import r6 as _r6, r6_sql

# ---------------------------------------------------------------------------
# Exact distributed heavy hitters
# ---------------------------------------------------------------------------

#: global support threshold = one occurrence per document on average.
#: Expressed relative to corpus size so the operator is meaningful at
#: every SF (absolute thresholds go stale as the corpus grows).


def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terms with global count >= n_docs, computed exactly via
    candidate pruning + recount.

    Algorithm (iceberg/heavy-hitter classic):
      1. per-partition local counts (mapInPandas, no shuffle);
      2. candidates = terms with local_cnt >= ceil(S / P) in ANY
         partition. Safe: a term with global count n >= S over P
         partitions has max local count >= ceil(n/P) >= ceil(S/P)
         (max >= average, counts are integers) — no true heavy hitter
         is pruned;
      3. exact recount of candidate terms only (broadcast semi-join),
         then the real HAVING >= S filter.

    Scale: the long tail of rare terms never shuffles — only the
    bounded candidate set does. At 100 TB with a web-scale vocabulary
    this is the difference between shuffling billions of (term, 1)
    partials and shuffling thousands of candidates. The recount join is
    a broadcast (candidates <= P x partition_tokens / local_threshold,
    small by construction).
    """
    docs = load_table(spark, sf_dir, "documents").select("text")
    s_threshold = docs.count()  # metadata-cheap count action; S = n_docs

    # nested closure: cloudpickle ships it (and its globals) by VALUE,
    # so executors never need this package importable — same pattern as
    # multimodal/media.py, required under the driver's neutral-cwd gate
    def _partition_term_counts(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        """Partition-local term counts: accumulate a Counter across ALL
        Arrow batches of the partition, emit once — a true map-side
        combine; output size = distinct terms per partition."""
        counts: Counter = Counter()
        for pdf in batches:
            for toks in pdf["text"].str.split(" "):
                counts.update(toks)
        if counts:
            yield pd.DataFrame(
                {"term": list(counts.keys()), "local_cnt": list(counts.values())}
            )

    local = docs.mapInPandas(
        _partition_term_counts, schema="term string, local_cnt long"
    )
    n_parts = max(1, local.rdd.getNumPartitions())
    local_threshold = math.ceil(s_threshold / n_parts)
    candidates = (
        local.filter(F.col("local_cnt") >= local_threshold)
        .select("term")
        .distinct()
    )
    tokens = docs.select(F.explode(F.split("text", " ")).alias("term"))
    return (
        tokens.join(F.broadcast(candidates), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= s_threshold)
        .orderBy(F.col("n").desc(), F.col("term").asc())
    )


def _heavy_hitters_sql(d: Dialect) -> str:
    return f"""
WITH t AS (SELECT {d.fn('unnest', d.fn('string_split', 'text', "' '"))} AS term FROM documents),
     s AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT term, COUNT(*) AS n
FROM t GROUP BY term
HAVING COUNT(*) >= (SELECT n_docs FROM s)
ORDER BY n DESC, term ASC
"""

# the SQL text states the *semantics* (plain GROUP BY/HAVING); the
# fluent form is the pruned physical strategy. The N-version test
# proves the pruning changed cost, not truth.
# ---------------------------------------------------------------------------
# Canonical-representative selection over bag-of-words duplicate groups
# ---------------------------------------------------------------------------

def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group documents by bag-of-words (sorted distinct token set) and
    keep ONE representative per group: highest type-token ratio, ties
    to the lowest doc_id. The output is the surviving corpus.

    Bag-of-words grouping catches reorderings and repetition-padded
    variants that exact-hash dedup misses, while staying a pure
    single-shuffle groupBy (no pairwise comparisons at all — contrast
    the O(candidates) MinHash/Jaccard family).

    Scale: one shuffle keyed on a fixed-width md5 of the sorted token
    set (the raw bag can be kilobytes; the key that moves is 32 bytes).
    max_by(struct) picks the winner inside partial aggregation —
    map-side combine applies, no window/sort materializes.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    prepared = docs.select(
        "doc_id",
        "source",
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(w)))).alias("bow_key"),
        _r6(
            F.size(F.array_distinct(w)).cast("double") / F.size(w).cast("double")).alias("ttr"),
    )
    kept = prepared.groupBy("bow_key").agg(
        F.expr(
            "max_by(struct(doc_id, source, ttr), struct(ttr, -doc_id))"
        ).alias("best"),
        F.count(F.lit(1)).alias("n_dups"),
    )
    return kept.select(
        F.col("best.doc_id").alias("doc_id"),
        F.col("best.source").alias("source"),
        F.col("best.ttr").alias("ttr"),
        "n_dups",
    ).orderBy("doc_id")


# grouping key: DuckDB groups on the raw sorted-token string (grouping
# is identical — md5 on the Spark side is a key-width optimization, the
# key never appears in the output so cross-engine hash equality is not
# required)
def _keep_best_sql(d: Dialect) -> str:
    split = d.fn("string_split", "text", "' '")
    return f"""
WITH b AS (
  SELECT doc_id, source,
         {d.fn('array_to_string', d.fn('list_sort', d.fn('list_distinct', split)), "' '")}
           AS bow_key,
         {r6_sql(f'''CAST({d.fn('len', d.fn('list_distinct', split))} AS DOUBLE)
               / CAST({d.fn('len', split)} AS DOUBLE)''')} AS ttr
  FROM documents
), ranked AS (
  SELECT doc_id, source, ttr,
         COUNT(*) OVER (PARTITION BY bow_key) AS n_dups,
         ROW_NUMBER() OVER (PARTITION BY bow_key
                            ORDER BY ttr DESC, doc_id ASC) AS rn
  FROM b
)
SELECT doc_id, source, ttr, n_dups FROM ranked WHERE rn = 1 ORDER BY doc_id
"""

# ---------------------------------------------------------------------------
# PII scrubbing (map-only redaction)
# ---------------------------------------------------------------------------

#: ASCII-only patterns with identical Java-regex / RE2 semantics.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails / phone numbers / IPv4 addresses and report match
    counts per document. Counts are computed on the ORIGINAL text so
    the three counters are independent of scrub order; the scrub itself
    applies email -> phone -> ipv4 (emails first: their local part may
    contain digits a later pattern could clip).

    Scale: pure map-only whole-stage-codegen work — zero shuffles,
    scales linearly with executors; exactly the shape a 100 TB
    pre-training scrub pass needs.
    """
    docs = load_table(spark, sf_dir, "documents")
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
            PII_PHONE,
            "<PHONE>",
        ),
        PII_IPV4,
        "<IP>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(PII_PHONE)).alias("n_phones"),
        F.regexp_count(F.col("text"), F.lit(PII_IPV4)).alias("n_ipv4"),
        F.length(clean).alias("clean_len"),
    )


def _pii_scrub_sql(d: Dialect) -> str:
    email, phone, ipv4 = d.str_lit(PII_EMAIL), d.str_lit(PII_PHONE), d.str_lit(PII_IPV4)
    gap = ",\n" + " " * 17
    clean = d.regexp_replace_all("\n" + " " * 11 + "text", email, "'<EMAIL>'")
    clean = d.regexp_replace_all(clean, phone, "'<PHONE>'", gap=gap)
    clean = d.regexp_replace_all(clean, ipv4, "'<IP>'", gap=gap)
    return f"""
SELECT doc_id,
       {d.fn('len', d.regexp_extract_all('text', email))} AS n_emails,
       {d.fn('len', d.regexp_extract_all('text', phone))} AS n_phones,
       {d.fn('len', d.regexp_extract_all('text', ipv4))} AS n_ipv4,
       length({clean}) AS clean_len
FROM documents
"""

# ---------------------------------------------------------------------------
# Per-source quality-quantile gate
# ---------------------------------------------------------------------------

def corpus_quality_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep documents STRICTLY above their source's median type-token
    ratio — the "top half by quality, per source" gate that keeps one
    domain's easy wins from crowding out another's.

    Scale: per-source medians are EXACT percentiles over a 20-row (one
    per source) aggregate — a tiny relation joined back by broadcast.
    The gate itself is then a map-side filter; the only shuffle is the
    per-source aggregation. Strictness note: the filter compares
    UNROUNDED doubles on both sides; both engines interpolate the even-n
    median identically (index p*(n-1), linear), so the boundary doc is
    included/excluded consistently.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    scored = docs.select(
        "doc_id",
        "source",
        (F.size(F.array_distinct(w)).cast("double") / F.size(w).cast("double")).alias(
            "ttr_raw"
        ),
    )
    medians = scored.groupBy("source").agg(
        F.percentile("ttr_raw", F.lit(0.5)).alias("med_raw")
    )
    return (
        scored.join(F.broadcast(medians), "source")
        .filter(F.col("ttr_raw") > F.col("med_raw"))
        .select(
            "doc_id",
            "source",
            _r6("ttr_raw").alias("ttr"),
            _r6("med_raw").alias("src_median"),
        )
    )


def _quality_gate_sql(d: Dialect) -> str:
    split = d.fn("string_split", "text", "' '")
    return f"""
WITH scored AS (
  SELECT doc_id, source,
         CAST({d.fn('len', d.fn('list_distinct', split))} AS DOUBLE)
           / CAST({d.fn('len', split)} AS DOUBLE) AS ttr_raw
  FROM documents
), med AS (
  SELECT source, {d.quantile_cont('ttr_raw', 0.5)} AS med_raw
  FROM scored GROUP BY source
)
SELECT s.doc_id, s.source,
       {r6_sql('s.ttr_raw')} AS ttr,
       {r6_sql('m.med_raw')} AS src_median
FROM scored s JOIN med m USING (source)
WHERE s.ttr_raw > m.med_raw
"""

QUERIES = {
    "text_heavy_hitters": text_heavy_hitters,
    "dedup_keep_best": dedup_keep_best,
    "text_pii_scrub": text_pii_scrub,
    "corpus_quality_quantile_gate": corpus_quality_quantile_gate,
}

TEMPLATES = {
    "text_heavy_hitters": _heavy_hitters_sql,
    "dedup_keep_best": _keep_best_sql,
    "text_pii_scrub": _pii_scrub_sql,
    "corpus_quality_quantile_gate": _quality_gate_sql,
}
