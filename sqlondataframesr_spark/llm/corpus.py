"""Corpus-curation operators over the ``documents`` table — the
cleaning/selection layer of a training-data pipeline beyond dedup:
boilerplate removal, heuristic quality gates, mixture sampling,
deterministic epoch shuffling, collocation mining, and per-source
corpus statistics.

The shapes follow the published web-corpus pipelines (CCNet's
paragraph-level dedup, Gopher's quality heuristics, Dolma/RefinedWeb's
source mixing) re-expressed as declarative Spark plans. The synthetic
``documents`` text has no newlines or punctuation, so the "paragraph"
unit here is a fixed window of ``SEG_W`` whitespace words — the Spark
shape (explode → document-frequency count → anti-join → ordered
reassembly) is exactly the one a newline-segmented corpus would use.

Reference parity note: the reference (rafalbojarczuk/SQLonDataFramesR)
has no corpus surface — these are north-star extensions per SURVEY.md
§7 phase 5, not transpositions. Every operator keeps the reference's
N-version discipline (RDataFramesSQL.Rmd:40-53): a fluent form, a
Spark-SQL twin, and a DuckDB oracle.

Determinism: randomness derives from md5 column expressions (see
llm/sampling.py); doubles are rounded before ranking; ties break on
key columns. No Python UDFs anywhere — every expression is JVM-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..functions.dialect import SPARK, Dialect
from ..functions.rounding import r6 as _r6, r6_sql
from .sampling import bucket_sql

#: "paragraph" width in words for boilerplate stripping
SEG_W = 8
#: a segment seen in more than this many distinct docs is boilerplate
SEG_DF_CAP = 2

#: Gopher-style gates (tuned to the synthetic corpus so both branches
#: of every flag actually occur — the checks exercise real selectivity)
MIN_WORDS, MAX_WORDS = 10, 120
MIN_MWL, MAX_MWL = 3.0, 7.0
MIN_TTR = 0.3

#: bigram collocation thresholds
PMI_MIN_COUNT = 5
PMI_TOP_K = 50

# ---------------------------------------------------------------------------
# Boilerplate stripping (CCNet-style paragraph dedup, arXiv:1911.00359)
# ---------------------------------------------------------------------------

def corpus_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Remove corpus-frequent text segments from every document.

    Each doc is cut into non-overlapping SEG_W-word segments; a segment
    whose document frequency exceeds SEG_DF_CAP is boilerplate (shared
    template text) and is dropped from every doc; survivors are
    reassembled in original order.

    Scale: one explode (rows ~= tokens/SEG_W), one count shuffle keyed
    by segment text, one anti-join, one reassembly shuffle keyed by
    doc_id. The hot-segment set is NOT broadcast-hinted — its size
    grows with corpus diversity, so AQE decides (at 100 TB the df
    count output is still tiny relative to the corpus and AQE
    broadcasts it; with a hint an adversarial corpus could OOM the
    driver). Reassembly sorts segments per doc with ``array_sort`` on
    a (k, seg) struct — no global order anywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.split("text", " ").alias("w"))
    nseg = words.select(
        "doc_id",
        F.expr(f"CAST(ceil(size(w) / {SEG_W}.0D) AS BIGINT)").alias("n_segments"),
    )
    segs = words.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(w) / {SEG_W}.0D) AS INT) - 1),"
                f" i -> array_join(slice(w, i * {SEG_W} + 1, {SEG_W}), ' '))"
            )
        ).alias("k", "seg"),
    )
    hot = (
        segs.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > SEG_DF_CAP)
        .select("seg")
    )
    kept = segs.join(hot, "seg", "left_anti")
    clean = kept.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(k, seg))),"
            " x -> x.seg), ' ')"
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        nseg.join(clean, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_segments",
            (F.col("n_segments") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


def _boilerplate_sql(d: Dialect) -> str:
    return f"""
WITH words AS (SELECT doc_id, {d.fn('string_split', 'text', "' '")} AS w FROM documents),
idx AS (SELECT doc_id, w,
               {d.fn('unnest', d.seq(0, f"CAST(ceil({d.fn('len', 'w')} / {SEG_W}.0) AS BIGINT)"))} AS k
        FROM words),
segs AS (SELECT doc_id, k,
                {d.fn('array_to_string', d.list_slice('w', f'k * {SEG_W} + 1', f'k * {SEG_W} + {SEG_W}', SEG_W), "' '")} AS seg
         FROM idx),
hot AS (SELECT seg FROM segs GROUP BY seg
        HAVING count(DISTINCT doc_id) > {SEG_DF_CAP}),
kept AS (SELECT doc_id, k, seg FROM segs
         WHERE seg NOT IN (SELECT seg FROM hot)),
clean AS (SELECT doc_id, {d.string_agg('seg', "' '", 'k')} AS clean_text,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id,
               CAST(ceil({d.fn('len', d.fn('string_split', 'text', "' '"))} / {SEG_W}.0) AS BIGINT) AS n_segments
        FROM documents)
SELECT t.doc_id, coalesce(c.clean_text, '') AS clean_text, t.n_segments,
       CAST(t.n_segments - coalesce(c.n_kept, 0) AS BIGINT) AS n_removed
FROM tot t LEFT JOIN clean c ON t.doc_id = c.doc_id
"""


# ---------------------------------------------------------------------------
# Gopher-style quality gates (arXiv:2112.11446 appendix A)
# ---------------------------------------------------------------------------

def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document heuristic quality gates in the Gopher style: word
    count bounds, mean word length band, and type-token-ratio floor,
    plus the conjunction ``passes``.

    Scale: pure map — zero shuffles, every metric a higher-order-
    function expression inside whole-stage codegen.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        F.expr("size(split(text, ' '))").alias("n_words"),
        F.expr(
            r6_sql(
                "aggregate(split(text, ' '), 0L, (acc, x) -> acc + length(x))"
                " / CAST(size(split(text, ' ')) AS DOUBLE)"
            )
        ).alias("mean_word_len"),
        F.expr(
            r6_sql("CAST(size(array_distinct(split(text, ' '))) AS DOUBLE) / size(split(text, ' '))")
        ).alias("ttr"),
    ).select(
        "doc_id",
        "lang",
        "n_words",
        "mean_word_len",
        "ttr",
        F.expr(f"CAST(n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS} AS INT)").alias(
            "pass_word_count"
        ),
        F.expr(
            f"CAST(mean_word_len BETWEEN {MIN_MWL}D AND {MAX_MWL}D AS INT)"
        ).alias("pass_mean_word_len"),
        F.expr(f"CAST(ttr >= {MIN_TTR}D AS INT)").alias("pass_ttr"),
        F.expr(
            f"CAST(n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}"
            f" AND mean_word_len BETWEEN {MIN_MWL}D AND {MAX_MWL}D"
            f" AND ttr >= {MIN_TTR}D AS INT)"
        ).alias("passes"),
    )


def _gopher_sql(d: Dialect) -> str:
    split = d.fn("string_split", "text", "' '")
    return f"""
WITH m AS (
  SELECT doc_id, lang,
         {d.fn('len', split)} AS n_words,
         {r6_sql(f'''{d.list_sum(d.fn('list_transform', split, 'x -> length(x)'), '0L')}
               / CAST({d.fn('len', split)} AS DOUBLE)''')} AS mean_word_len,
         {r6_sql(f'''CAST({d.fn('len', d.fn('list_distinct', split))} AS DOUBLE)
               / {d.fn('len', split)}''')} AS ttr
  FROM documents
)
SELECT doc_id, lang, CAST(n_words AS INT) AS n_words, mean_word_len, ttr,
       CAST(n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS} AS INT) AS pass_word_count,
       CAST(mean_word_len BETWEEN {MIN_MWL}{d.D} AND {MAX_MWL}{d.D} AS INT) AS pass_mean_word_len,
       CAST(ttr >= {MIN_TTR}{d.D} AS INT) AS pass_ttr,
       CAST(n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}
            AND mean_word_len BETWEEN {MIN_MWL}{d.D} AND {MAX_MWL}{d.D}
            AND ttr >= {MIN_TTR}{d.D} AS INT) AS passes
FROM m
"""


# ---------------------------------------------------------------------------
# Weighted mixture sampling (Dolma/RefinedWeb-style source re-weighting)
# ---------------------------------------------------------------------------

def sample_mixture_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source deterministic downsampling at a source-dependent rate
    (here ``(1 + src_number mod 5) / 10`` — the per-source target
    weights of a training mixture), then the per-source audit table:
    total docs, kept docs, and the configured rate.

    Membership is ``md5(doc_id) mod 1000 < rate_permille`` — a pure
    row property (see llm/sampling.py's reproducibility posture), so
    re-runs, retries, and repartitioning never change the sample.
    Scale: map-side filter + one agg shuffle keyed by source.
    """
    docs = load_table(spark, sf_dir, "documents")
    rate_pm = (
        (F.lit(1) + F.regexp_extract("source", r"src(\d+)", 1).cast("int") % 5) * 100
    )
    kept = (F.expr(bucket_sql(SPARK, 1000)) < rate_pm).cast("long")
    return (
        docs.select("source", rate_pm.alias("rate_pm"), kept.alias("kept"))
        .groupBy("source", "rate_pm")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").alias("n_kept"),
        )
        .select(
            "source",
            F.round(F.col("rate_pm") / F.lit(1000.0), 3).alias("rate"),
            "n_total",
            "n_kept",
        )
    )


_SRC_RE = r"src(\d+)"


def _mixture_weighted_sql(d: Dialect) -> str:
    return f"""
WITH tagged AS (
  SELECT source,
         (1 + CAST(regexp_extract(source, {d.str_lit(_SRC_RE)}, 1) AS INT) % 5) * 100 AS rate_pm,
         CASE WHEN {bucket_sql(d, 1000)} <
              (1 + CAST(regexp_extract(source, {d.str_lit(_SRC_RE)}, 1) AS INT) % 5) * 100
              THEN 1 ELSE 0 END AS kept
  FROM documents
)
SELECT source,
       round(rate_pm / 1000.0{d.D}, 3) AS rate,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(SUM(kept) AS BIGINT) AS n_kept
FROM tagged
GROUP BY source, rate_pm
"""


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle
# ---------------------------------------------------------------------------

def sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible training-order permutation per epoch: each epoch's
    order is ``md5('epoch<e>:' || doc_id)`` — a pure column, so the
    shuffle is identical across re-runs and resumable mid-epoch, and
    different epochs decorrelate.

    Scale: the permutation is expressed as SORT BY a hash key (range-
    partitioned sort, no global window) — emitting explicit positions
    would need a single-partition ``row_number`` which is exactly the
    bottleneck this formulation avoids; downstream loaders consume the
    order, not an index.
    """
    docs = load_table(spark, sf_dir, "documents")

    def key(epoch: int):
        return F.expr(
            "CAST(conv(substring(md5(concat('epoch%d:', CAST(doc_id AS STRING))),"
            " 1, 12), 16, 10) AS BIGINT)" % epoch
        )

    return docs.select(
        "doc_id",
        key(1).alias("epoch1_key"),
        key(2).alias("epoch2_key"),
    ).orderBy("epoch1_key", "doc_id")


def _epoch_shuffle_sql(d: Dialect) -> str:
    return f"""
SELECT doc_id,
       {d.hex_bigint(f"substr(md5('epoch1:' || {d.cast_str('doc_id')}), 1, 12)")} AS epoch1_key,
       {d.hex_bigint(f"substr(md5('epoch2:' || {d.cast_str('doc_id')}), 1, 12)")} AS epoch2_key
FROM documents
ORDER BY epoch1_key, doc_id
"""


# ---------------------------------------------------------------------------
# Bigram collocations by PMI (the statistic behind BPE-style merges)
# ---------------------------------------------------------------------------

def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocated word bigrams by pointwise mutual information:
    ``pmi = ln(c_ab * N / (c_a * c_b))`` over within-document adjacent
    pairs, keeping pairs seen >= PMI_MIN_COUNT times.

    Scale: the explode emits one row per token; ONE count shuffle
    reduces to vocab^2-bounded pair counts, and N / c_a / c_b are
    window sums over that already-tiny aggregate — no joins, no second
    pass over the corpus. The unpartitioned N window moves only the
    aggregated pairs, never corpus rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    bg = (
        docs.select(F.split("text", " ").alias("w"))
        .filter(F.expr("size(w) >= 2"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))"
                )
            ).alias("bg")
        )
        .select("bg.a", "bg.b")
    )
    cnt = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    n_tot = F.sum("c_ab").over(Window.partitionBy())
    c_a = F.sum("c_ab").over(Window.partitionBy("a"))
    c_b = F.sum("c_ab").over(Window.partitionBy("b"))
    return (
        cnt.withColumn(
            "pmi",
            _r6(F.log(F.col("c_ab").cast("double") * n_tot / (c_a * c_b))),
        )
        .filter(F.col("c_ab") >= PMI_MIN_COUNT)
        .orderBy(F.desc("pmi"), "a", "b")
        .limit(PMI_TOP_K)
        .select("a", "b", "c_ab", "pmi")
    )


def _bigram_pmi_sql(d: Dialect) -> str:
    return f"""
WITH words AS (SELECT {d.fn('string_split', 'text', "' '")} AS w FROM documents),
bg AS (SELECT {d.at('w', 'i')} AS a, {d.at('w', 'i + 1')} AS b
       FROM (SELECT w, {d.fn('unnest', d.seq(1, d.fn('len', 'w')))} AS i
             FROM words WHERE {d.fn('len', 'w')} >= 2)),
cnt AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY a, b),
win AS (SELECT a, b, c_ab,
               SUM(c_ab) OVER () AS n_tot,
               SUM(c_ab) OVER (PARTITION BY a) AS c_a,
               SUM(c_ab) OVER (PARTITION BY b) AS c_b
        FROM cnt)
SELECT a, b, CAST(c_ab AS BIGINT) AS c_ab,
       {r6_sql('ln(CAST(c_ab AS DOUBLE) * n_tot / (c_a * c_b))')} AS pmi
FROM win
WHERE c_ab >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, a, b
LIMIT {PMI_TOP_K}
"""


# ---------------------------------------------------------------------------
# Per-source corpus statistics
# ---------------------------------------------------------------------------

def corpus_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source audit rollup a mixture designer reads before
    setting weights: doc count, language spread, token total, and
    char-length center/median.

    Scale: single agg shuffle keyed by source; the median uses exact
    ``percentile`` here (sources are few, groups are large) — at
    extreme cardinality swap for ``percentile_approx`` as in
    q22_approx_sketches.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum(F.expr("size(split(text, ' '))")).alias("total_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.percentile("n_chars", F.lit(0.5)).alias("med_chars"),
        )
        .orderBy("source")
    )


def _stats_by_source_sql(d: Dialect) -> str:
    return f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM({d.fn('len', d.fn('string_split', 'text', "' '"))}) AS BIGINT) AS total_tokens,
       round(avg(n_chars), 4) AS avg_chars,
       {d.quantile_cont('n_chars', 0.5)} AS med_chars
FROM documents
GROUP BY source
ORDER BY source
"""


#: sequence-example context length (events per training context)
SEQ_CTX = 3


def evt_sequence_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event-prediction training examples from per-user event
    streams: for every event with >= SEQ_CTX predecessors, one row
    (context = the previous SEQ_CTX event types in time order,
    target = this event's type) — the sliding-window corpus
    construction behind behavior-sequence / session models, the
    event-stream twin of ``text_chunks``.

    Determinism: the window order key is (unix_micros(ts), event_id)
    — unique, so the frame content and its accumulation order are
    pinned on both engines (collect_list/list fill in frame order).
    The 1-in-20 user sample keeps the checked output driver-sized at
    every SF without changing the shape.

    Scale: ONE shuffle (user_id window partition); the frame is
    bounded (SEQ_CTX rows), so state per row is constant — at 100 TB
    this is a sort within user partitions plus a linear pass,
    exactly how a sequence-feature backfill should lower.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 20 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), F.col("event_id"))
        .rowsBetween(-SEQ_CTX, -1)
    )
    t = ev.select("user_id", "event_id", "event_type", "ts").withColumn(
        "context", F.array_join(F.collect_list("event_type").over(w), " ")
    ).withColumn("n_ctx", F.count(F.lit(1)).over(w))
    return (
        t.filter(F.col("n_ctx") == SEQ_CTX)
        .select(
            "user_id",
            F.col("event_id").alias("target_event_id"),
            "context",
            F.col("event_type").alias("target"),
        )
        .orderBy("user_id", "target_event_id")
    )


def _sequence_examples_sql(d: Dialect) -> str:
    return f"""
WITH t AS (
  SELECT user_id, event_id, event_type,
         {d.fn('array_to_string', d.fn('list', 'event_type') + ' OVER w', "' '")} AS context,
         COUNT(*) OVER w AS n_ctx
  FROM events
  WHERE user_id % 20 = 0
  WINDOW w AS (PARTITION BY user_id ORDER BY {d.fn('epoch_us', 'ts')}, event_id
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id AS target_event_id, context, event_type AS target
FROM t WHERE n_ctx = 3
ORDER BY user_id, target_event_id
"""

QUERIES = {
    "evt_sequence_examples": evt_sequence_examples,
    "corpus_boilerplate_strip": corpus_boilerplate_strip,
    "text_gopher_rules": text_gopher_rules,
    "sample_mixture_weighted": sample_mixture_weighted,
    "sample_epoch_shuffle": sample_epoch_shuffle,
    "text_bigram_pmi": text_bigram_pmi,
    "corpus_stats_by_source": corpus_stats_by_source,
}

TEMPLATES = {
    "evt_sequence_examples": _sequence_examples_sql,
    "corpus_boilerplate_strip": _boilerplate_sql,
    "text_gopher_rules": _gopher_sql,
    "sample_mixture_weighted": _mixture_weighted_sql,
    "sample_epoch_shuffle": _epoch_shuffle_sql,
    "text_bigram_pmi": _bigram_pmi_sql,
    "corpus_stats_by_source": _stats_by_source_sql,
}
