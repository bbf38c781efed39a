"""Corpus-forensics operators over ``documents``: n-gram diversity,
Zipf rank-frequency slope, and the pairwise source-overlap matrix.

North-star training-pipeline operators (no reference counterpart —
RDataFramesSQL.Rmd:60-704 is one-shot batch SQL). The three reports a
data-curation team actually reads before training:

- :func:`corpus_ngram_diversity` — distinct-n / total-n for n=1..3 per
  source (the "distinct-N" diversity metric of Li et al., "A
  Diversity-Promoting Objective Function for Neural Conversation
  Models", NAACL 2016 — public). Synthetic/templated sources collapse
  toward 0; natural text sits high. The standard degeneration check
  when synthetic data enters the mix.
- :func:`corpus_zipf_slope` — OLS slope of ln(freq) on ln(rank) over
  the top :data:`ZIPF_TOP_K` terms. Natural language tracks Zipf's law
  (slope near -1); heavily duplicated or generated corpora bend the
  curve (Piantadosi, "Zipf's word frequency law in natural language",
  Psychon Bull Rev 2014 — public).
- :func:`corpus_source_overlap` — pairwise |A ∩ B| of distinct
  3-shingles between sources with the overlap coefficient
  |A∩B|/min(|A|,|B|) — "who copies whom" across ingest feeds; the
  source-level complement of document-level dedup.

Determinism: the Zipf fit quantizes every ln() to 6 dp integer
micro-units BEFORE summation and combines the sums in exact wide
arithmetic (DECIMAL(38,0) on Spark, HUGEINT on DuckDB), so both
engines divide the same exact integers; ranks tie-break on the term;
diversity/overlap ratios are exact-integer divisions rounded to 6 dp.
No Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..materialize import materialize, spread_scan
from ..functions.dialect import Dialect, dual
from ..functions.rounding import r6 as _r6, r6_sql
from .dedup import shingle_comp_sql
from .text import words_sql

#: diversity is reported for word n-grams of these orders
DIVERSITY_NS = (1, 2, 3)
#: Zipf fit window: the classic rank-frequency plot is linear over the
#: head of the vocabulary; 1000 terms is the standard fit range
ZIPF_TOP_K = 1000

_LN_MICRO = f"cast(round({r6_sql('ln({x})')} * 1000000.0) as bigint)"


def _ngrams_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n, gram) with multiplicity, n in DIVERSITY_NS.

    One spread scan; per n the gram construction is a TOTAL (IF-
    guarded) transform, so short docs contribute empty arrays instead
    of a descending ``sequence`` (the with_grams discipline)."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    w = spread_scan(docs, "source").withColumn(
        "w", F.expr("filter(split(text, ' '), x -> x != '')")
    )
    parts = []
    for n in DIVERSITY_NS:
        join_expr = ", ".join(f"element_at(w, i + {j})" for j in range(n))
        parts.append(
            w.select(
                "source",
                F.lit(n).alias("n"),
                F.explode(
                    F.expr(
                        f"IF(size(w) >= {n},"
                        f" transform(sequence(1, size(w) - {n - 1}),"
                        f"  i -> concat_ws(' ', {join_expr})),"
                        " array())"
                    )
                ).alias("gram"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def corpus_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct-n / total-n per (source, n): (source, n, total_ngrams,
    distinct_ngrams, diversity).

    Scale: one shuffle keyed by (source, n, gram) reduces the corpus
    to per-gram counts (map-side combined); the per-(source, n) rollup
    is a second, tiny keyed agg. No distinct-on-raw-rows anywhere —
    COUNT(*) over the gram-grouped table IS the distinct count.
    """
    g = _ngrams_by_source(spark, sf_dir)
    per_gram = g.groupBy("source", "n", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_gram.groupBy("source", "n")
        .agg(
            F.sum("cnt").alias("total_ngrams"),
            F.count(F.lit(1)).alias("distinct_ngrams"),
        )
        .select(
            "source",
            "n",
            F.col("total_ngrams").cast("long").alias("total_ngrams"),
            F.col("distinct_ngrams").cast("long").alias("distinct_ngrams"),
            _r6(
                F.col("distinct_ngrams").cast("double")
                / F.col("total_ngrams").cast("double")).alias("diversity"),
        )
        .orderBy("source", "n")
    )


def _div_grams_sql(d: Dialect) -> str:
    """UNION ALL of per-n gram streams."""
    n_w = d.fn("len", "w")
    parts = []
    for n in DIVERSITY_NS:
        gram = " || ' ' || ".join(d.at("w", f"CAST(i + {j} AS INT)") for j in range(n))
        grams = d.comp(gram, "i", d.seq(1, f"{n_w} - {n - 2}"))
        parts.append(
            f"SELECT source, {n} AS n, {d.fn('unnest', grams)} AS gram"
            f" FROM t WHERE {n_w} >= {n}"
        )
    return "\nUNION ALL\n".join(parts)


def _ngram_diversity_sql(d: Dialect) -> str:
    return f"""
WITH t AS (SELECT source, {words_sql(d)} AS w FROM documents),
g AS ({_div_grams_sql(d)}),
per_gram AS (SELECT source, n, gram, COUNT(*) AS cnt FROM g GROUP BY ALL)
SELECT source, n,
       CAST(SUM(cnt) AS BIGINT) AS total_ngrams,
       CAST(COUNT(*) AS BIGINT) AS distinct_ngrams,
       {r6_sql('CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)')} AS diversity
FROM per_gram GROUP BY source, n ORDER BY source, n
"""


def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row Zipf report: OLS slope (and intercept) of
    y = ln(freq) on x = ln(rank) over the ZIPF_TOP_K most frequent
    terms, rank ties broken by term.

    Determinism: x and y are quantized to integer micro-units; the OLS
    combination n·Σxy − Σx·Σy runs in DECIMAL(38,0) (Spark) / HUGEINT
    (DuckDB) — both exact — and the final division is one double op on
    identical integers.

    Scale: term frequencies are one map-side-combined shuffle; the
    top-K cut is sort+limit (TakeOrderedAndProject — distributed, no
    global sort materialized); only K rows ever reach the single-task
    rank window, and the OLS reduce is a 1-row aggregate.
    """
    docs = load_table(spark, sf_dir, "documents").select("text")
    tok = spread_scan(docs).select(
        F.explode(F.expr("filter(split(text, ' '), x -> x != '')")).alias("term")
    )
    freq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    top = freq.orderBy(F.col("freq").desc(), F.col("term").asc()).limit(ZIPF_TOP_K)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("freq").desc(), F.col("term").asc())),
    ).select(
        F.expr(_LN_MICRO.format(x="cast(rank as double)")).alias("x"),
        F.expr(_LN_MICRO.format(x="cast(freq as double)")).alias("y"),
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        _r6(
            F.expr(
                "cast(cast(count(1) as decimal(38,0)) * cast(sum(x * y) as decimal(38,0))"
                " - cast(sum(x) as decimal(38,0)) * cast(sum(y) as decimal(38,0)) as double)"
                " / cast(cast(count(1) as decimal(38,0)) * cast(sum(x * x) as decimal(38,0))"
                " - cast(sum(x) as decimal(38,0)) * cast(sum(x) as decimal(38,0)) as double)"
            )).alias("slope"),
        _r6(
            F.expr(
                "(cast(sum(y) as double) - "
                " cast(cast(count(1) as decimal(38,0)) * cast(sum(x * y) as decimal(38,0))"
                "  - cast(sum(x) as decimal(38,0)) * cast(sum(y) as decimal(38,0)) as double)"
                " / cast(cast(count(1) as decimal(38,0)) * cast(sum(x * x) as decimal(38,0))"
                "  - cast(sum(x) as decimal(38,0)) * cast(sum(x) as decimal(38,0)) as double)"
                " * cast(sum(x) as double)) / (count(1) * 1000000.0)"
            )).alias("intercept"),
    )


_ZIPF_LN = f"CAST(round({r6_sql('ln({x})')} * 1000000.0) AS BIGINT)"

CORPUS_ZIPF_SLOPE_ORACLE = f"""
WITH tok AS (
  SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
  FROM documents
),
freq AS (SELECT term, COUNT(*) AS freq FROM tok GROUP BY term),
top AS (
  SELECT term, freq FROM freq ORDER BY freq DESC, term ASC LIMIT {ZIPF_TOP_K}
),
ranked AS (
  SELECT {_ZIPF_LN.format(x="CAST(row_number() OVER (ORDER BY freq DESC, term ASC) AS DOUBLE)")} AS x,
         {_ZIPF_LN.format(x="CAST(freq AS DOUBLE)")} AS y
  FROM top
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
       {r6_sql('''CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE)
             / CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE)''')} AS slope,
       {r6_sql('''(CAST(SUM(y) AS DOUBLE)
              - CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE)
                / CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE)
                * CAST(SUM(x) AS DOUBLE)) / (COUNT(*) * 1000000.0)''')} AS intercept
FROM ranked
"""

# deliberate dual: Spark's BIGINT products overflow where DuckDB widens
# to HUGEINT, so the dual runs the OLS combination in DECIMAL(38,0)
CORPUS_ZIPF_SLOPE_DUAL = f"""
WITH tok AS (
  SELECT explode(filter(split(text, ' '), x -> x != '')) AS term FROM documents
),
freq AS (SELECT term, COUNT(*) AS freq FROM tok GROUP BY term),
top AS (
  SELECT term, freq FROM freq ORDER BY freq DESC, term ASC LIMIT {ZIPF_TOP_K}
),
ranked AS (
  SELECT CAST(round({r6_sql('ln(CAST(row_number() OVER (ORDER BY freq DESC, term ASC) AS DOUBLE))')} * 1000000.0) AS BIGINT) AS x,
         CAST(round({r6_sql('ln(CAST(freq AS DOUBLE))')} * 1000000.0) AS BIGINT) AS y
  FROM top
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
       {r6_sql('''CAST(CAST(COUNT(1) AS DECIMAL(38,0)) * CAST(SUM(x * y) AS DECIMAL(38,0))
                  - CAST(SUM(x) AS DECIMAL(38,0)) * CAST(SUM(y) AS DECIMAL(38,0)) AS DOUBLE)
             / CAST(CAST(COUNT(1) AS DECIMAL(38,0)) * CAST(SUM(x * x) AS DECIMAL(38,0))
                  - CAST(SUM(x) AS DECIMAL(38,0)) * CAST(SUM(x) AS DECIMAL(38,0)) AS DOUBLE)''')} AS slope,
       {r6_sql('''(CAST(SUM(y) AS DOUBLE)
              - CAST(CAST(COUNT(1) AS DECIMAL(38,0)) * CAST(SUM(x * y) AS DECIMAL(38,0))
                     - CAST(SUM(x) AS DECIMAL(38,0)) * CAST(SUM(y) AS DECIMAL(38,0)) AS DOUBLE)
                / CAST(CAST(COUNT(1) AS DECIMAL(38,0)) * CAST(SUM(x * x) AS DECIMAL(38,0))
                     - CAST(SUM(x) AS DECIMAL(38,0)) * CAST(SUM(x) AS DECIMAL(38,0)) AS DOUBLE)
                * CAST(SUM(x) AS DOUBLE)) / (COUNT(1) * 1000000.0)''')} AS intercept
FROM ranked
"""


def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source 3-shingle overlap: (source_a < source_b,
    n_shared, overlap_coef) where overlap_coef =
    |A ∩ B| / min(|A|, |B|), rounded to 6 dp; only pairs with at
    least one shared shingle appear.

    Scale: the posting list per shingle is bounded by the number of
    SOURCES (tens), not by corpus size, so — unlike document-level
    postings, which need a DF cap (llm/dedup.SHINGLE_DF_CAP) — the
    full pair set per shingle is safe to expand LOCALLY: one shuffle
    keyed by shingle folds the corpus to sorted posting sets
    (collect_set dedups per source), pairs come from an in-row
    transform over each posting (≤ C(|sources|, 2) structs), and the
    pair counts partial-aggregate to at most that many keys per
    partition. No self-join, no second corpus pass; per-source
    distinct sizes ride the same posting table.
    """
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    # UNKEYED spread: keying the repartition on `source` (~tens of
    # values) would cap the CPU-dense shingle pass at |sources| tasks;
    # round-robin keeps all cores busy — the per-source collapse is
    # collect_set's job anyway
    raw = (
        spread_scan(docs)
        .withColumn("w", F.split(F.col("text"), " "))
        .filter(F.size("w") >= 3)
        .select(
            "source",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(0, size(w)-3),"
                        " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
                    )
                )
            ).alias("sh"),
        )
    )
    # ONE shuffle keyed by shingle folds the corpus to its posting
    # list (collect_set dedups per source); pairs then come from a
    # LOCAL expansion of each sorted posting — no self-join, no second
    # pass over the corpus (self-join formulation measured 4.1-5.6 s
    # at sf0.1; this runs ~1.3 s). The expansion is bounded by
    # C(|sources|, 2) per shingle and partial-aggregates immediately
    # to at most that many pair keys per partition.
    post = (
        raw.groupBy("sh")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .transform(materialize)
    )
    sizes = (
        post.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    shared = (
        post.filter(F.size("srcs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (a, i) ->"
                    " transform(slice(srcs, i + 2, size(srcs)),"
                    "  b -> struct(a AS source_a, b AS source_b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.source_a").alias("source_a"), F.col("p.source_b").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(F.broadcast(sizes.select(F.col("source").alias("source_a"), F.col("n_sh").alias("na"))), "source_a")
        .join(F.broadcast(sizes.select(F.col("source").alias("source_b"), F.col("n_sh").alias("nb"))), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            _r6(
                F.col("n_shared").cast("double") / F.least("na", "nb").cast("double")).alias("overlap_coef"),
        )
        .orderBy("source_a", "source_b")
    )


def _src_shingles_sql(d: Dialect) -> str:
    """(source, sh): the distinct word 3-shingles of each source."""
    n = d.fn("len", "w")
    shingles = d.fn("unnest", "\n" + " " * 11 + shingle_comp_sql(d, 12))
    return f"""
  SELECT DISTINCT source, {shingles} AS sh
  FROM (SELECT source, {d.fn('string_split', 'text', "' '")} AS w FROM documents)
  WHERE {n} >= 3
"""


def _source_overlap_sql(d: Dialect) -> str:
    return f"""
WITH e AS ({_src_shingles_sql(d)}),
sizes AS (SELECT source, COUNT(*) AS n_sh FROM e GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
  FROM e a JOIN e b ON a.sh = b.sh AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT s.source_a, s.source_b,
       CAST(s.n_shared AS BIGINT) AS n_shared,
       {r6_sql('''CAST(s.n_shared AS DOUBLE)
             / CAST(LEAST(sa.n_sh, sb.n_sh) AS DOUBLE)''')} AS overlap_coef
FROM shared s
JOIN sizes sa ON sa.source = s.source_a
JOIN sizes sb ON sb.source = s.source_b
ORDER BY s.source_a, s.source_b
"""

QUERIES = {
    "corpus_ngram_diversity": corpus_ngram_diversity,
    "corpus_zipf_slope": corpus_zipf_slope,
    "corpus_source_overlap": corpus_source_overlap,
}

TEMPLATES = {
    "corpus_ngram_diversity": _ngram_diversity_sql,
    "corpus_source_overlap": _source_overlap_sql,
    "corpus_zipf_slope": dual(CORPUS_ZIPF_SLOPE_ORACLE, CORPUS_ZIPF_SLOPE_DUAL),
}
