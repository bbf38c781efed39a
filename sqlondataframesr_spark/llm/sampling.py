"""Deterministic sampling / splitting / packing operators over the
``documents`` table — the selection layer of a training-data pipeline.

Reproducibility is the whole point: at 100 TB a sample that depends on
partition order, task retries, or an RNG seed-per-executor is useless
(re-running the job must yield the SAME train/val/test membership).
Every operator here derives its randomness from ``md5(doc_id)`` — a
pure column expression computed identically by Spark
(``conv(substr(md5(x),1,8),16,10)``) and the DuckDB oracle
(``('0x' || substr(md5(x),1,8))::BIGINT``) — so membership is a property
of the ROW, not of the run.

Reference parity note: the reference (rafalbojarczuk/SQLonDataFramesR)
has no sampling surface at all — these are north-star extensions in the
sense of SURVEY.md §7 phase 5, not transpositions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..materialize import materialize
from ..functions.dialect import SPARK, Dialect
from ..functions.rounding import r6 as _r6, r6_sql

#: hash-bucket split boundaries (out of 100): [0,80) train, [80,90) val,
#: [90,100) test
TRAIN_PCT = 80
VAL_PCT = 90

#: per-(lang, source) stratum quota for quota sampling
STRATUM_N = 5

#: token budget per packed training sequence
PACK_BUDGET = 512

def bucket_sql(d: Dialect, buckets: int = 100) -> str:
    """The md5 hash bucket of ``doc_id`` out of ``buckets`` (the hash
    is non-negative, so ``%`` is ``pmod``)."""
    h = d.hex_bigint(f"substr(md5({d.cast_str('doc_id')}), 1, 8)")
    return f"({h} % {buckets})"


def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by hash bucket:
    ``md5(doc_id) % 100`` → [0,80) train, [80,90) val, [90,100) test.

    This is how reproducible splits are carved at scale: membership is
    a pure function of the key, so adding data, changing partitioning,
    or re-running never reshuffles existing documents between splits
    (contamination-safe). Map-only — zero shuffle, fully codegen'd.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(bucket_sql(SPARK))
    return docs.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def _hash_split_sql(d: Dialect) -> str:
    return f"""
SELECT doc_id, lang,
       {bucket_sql(d)} AS bucket,
       CASE WHEN {bucket_sql(d)} < {TRAIN_PCT} THEN 'train'
            WHEN {bucket_sql(d)} < {VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def sample_stratified_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota (stratified top-N) sampling: the STRATUM_N longest
    documents per (lang, source) stratum, deterministic tie-break on
    doc_id. The standard "balance the mixture" selection step when one
    source would otherwise dominate the corpus.

    Scale: one shuffle keyed by the stratum; per-partition top-N via
    ``row_number`` needs only a bounded heap per stratum under AQE.
    Strata counts are small (langs x sources), so skew is bounded by
    the largest stratum — for pathological strata the same plan runs
    on a salted key with a second top-N pass.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(
        F.desc("n_chars"), F.col("doc_id")
    )
    return (
        docs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= STRATUM_N)
        .select("lang", "source", "doc_id", "n_chars", "rnk")
    )


SAMPLE_STRATIFIED_TOPN_ORACLE = f"""
SELECT lang, source, doc_id, n_chars, rnk
FROM (SELECT lang, source, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang, source
                                ORDER BY n_chars DESC, doc_id) AS rnk
      FROM documents)
WHERE rnk <= {STRATUM_N}
"""


def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: within each language, documents
    (in doc_id order) are chunked into training bins of PACK_BUDGET
    tokens by running token count — ``bin_id = floor((cumsum - n_tokens)
    / budget)``, i.e. a document lands in the bin where it STARTS.
    This is the contiguous-chunking flavor of packing (documents may
    straddle a budget edge and be truncated/continued by the tokenizer
    downstream); the bin assignment itself is exact and engine-portable,
    unlike greedy first-fit which is an inherently sequential fold.

    Scale: the window is partitioned by ``lang`` — the running sum
    never crosses partitions, so this is one shuffle and NO global
    ordering bottleneck. With few giant languages, sub-partition by a
    coarse hash of doc_id ranges and offset bin ids per range.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    w = Window.partitionBy("lang").orderBy("doc_id")
    toks = docs.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    return (
        toks.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .withColumn(
            "bin_id",
            F.floor((F.col("cum_tokens") - F.col("n_tokens")) / F.lit(PACK_BUDGET)),
        )
        .withColumn(
            "bin_pos",
            F.row_number().over(Window.partitionBy("lang", "bin_id").orderBy("doc_id")),
        )
        .select("lang", "bin_id", "bin_pos", "doc_id", "n_tokens", "cum_tokens")
    )


def _pack_sql(d: Dialect) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, lang, {d.fn('len', d.fn('string_split', 'text', "' '"))} AS n_tokens FROM documents
),
cum AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM toks
)
SELECT lang,
       CAST(floor((cum_tokens - n_tokens) / {PACK_BUDGET}) AS BIGINT) AS bin_id,
       CAST(row_number() OVER (
            PARTITION BY lang, floor((cum_tokens - n_tokens) / {PACK_BUDGET})
            ORDER BY doc_id) AS BIGINT) AS bin_pos,
       doc_id, n_tokens,
       -- DuckDB window SUM(BIGINT) yields HUGEINT; the driver hashes
       -- the declared type, so pin to BIGINT (matches Spark's long)
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM cum
"""


#: weighted-reservoir sample size
RESERVOIR_K = 20

def _u_sql(d: Dialect) -> str:
    """md5-uniform u(doc_id) in (0, 1] — deterministic, so the "random"
    sample is a pure row property (repo-standard reproducibility)."""
    h = d.hex_cast(f"substr(md5({d.cast_str('doc_id')}), 1, 8)", "BIGINT")
    return f"(({h} + 1.0{d.D}) / 4294967296.0{d.D})"


def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted random sample WITHOUT replacement: the top-K documents
    by the Efraimidis-Spirakis exponential key u^(1/w) (A-ES, IPL
    2006), weight = n_chars — longer docs proportionally likelier, yet
    the pass is one scan + a top-K, never a full sort or a rejection
    loop. THE distributed weighted-sampling construction: keys are
    independent per row, so executors compute them map-side and any
    top-K machinery (here TakeOrderedAndProject; a treeAggregate heap
    at extreme K) finishes the job — and it composes with streaming
    (keep a running K-heap over arriving keys).

    Determinism: u is md5-uniform (a pure function of doc_id), the key
    is rounded to 6 dp BEFORE ranking on both engines (pow() may
    differ in the last ulp across libm implementations — the repo-
    standard cosine trick), ties break on doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    key = _r6(
        F.expr(f"power({_u_sql(SPARK)}, 1.0 / cast(n_chars as double))"))
    return (
        docs.filter(F.col("n_chars") > 0)
        .select("doc_id", "n_chars", key.alias("es_key"))
        .orderBy(F.desc("es_key"), "doc_id")
        .limit(RESERVOIR_K)
    )


def _reservoir_sql(d: Dialect) -> str:
    return f"""
SELECT doc_id, n_chars,
       {r6_sql(f'POW({_u_sql(d)}, 1.0 / CAST(n_chars AS DOUBLE))')} AS es_key
FROM documents
WHERE n_chars > 0
ORDER BY es_key DESC, doc_id
LIMIT {RESERVOIR_K}
"""


def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: count MinHash-LSH near-dup
    pairs by the (train/val/test) splits of their two endpoints.

    A hash split is leak-proof against EXACT duplicates only if the
    hash key is the content; splitting on doc_id (as done here and in
    most pipelines) lets near-duplicates straddle the boundary — a val
    doc whose near-twin sits in train inflates eval scores. This
    operator is the audit: every off-diagonal row (``is_leak = true``)
    is an eval-integrity violation to resolve before training.

    Composition, not new machinery: the pair set is exactly
    :func:`llm.minhash.dedup_minhash_lsh` (banded signatures, so the
    audit scales like the dedup pass — no new shuffle shape); split
    assignment is exactly :func:`sample_hash_split` (map-only). The
    pair-direction is canonicalized by split name (least/greatest) so
    (train,val) and (val,train) aggregate into one row.
    """
    from .minhash import dedup_minhash_lsh

    pairs = dedup_minhash_lsh(spark, sf_dir)
    sp = sample_hash_split(spark, sf_dir).select("doc_id", "split")
    pa = sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    pb = sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    return (
        pairs.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select(
            F.least("sa", "sb").alias("split_1"),
            F.greatest("sa", "sb").alias("split_2"),
        )
        .groupBy("split_1", "split_2")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("is_leak", F.col("split_1") != F.col("split_2"))
        .orderBy("split_1", "split_2")
    )


def _split_leakage_sql(d: Dialect) -> str:
    from . import minhash

    return f"""
WITH pairs AS ({d.render(minhash.TEMPLATES["dedup_minhash_lsh"])}),
splits AS (
  SELECT doc_id,
         CASE WHEN {bucket_sql(d)} < {TRAIN_PCT} THEN 'train'
              WHEN {bucket_sql(d)} < {VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
j AS (
  SELECT least(sa.split, sb.split) AS split_1,
         greatest(sa.split, sb.split) AS split_2
  FROM pairs p
  JOIN splits sa ON sa.doc_id = p.doc_a
  JOIN splits sb ON sb.doc_id = p.doc_b
)
SELECT split_1, split_2, COUNT(*) AS n_pairs,
       (split_1 <> split_2) AS is_leak
FROM j
GROUP BY split_1, split_2
ORDER BY split_1, split_2
"""


#: UniMax budget = (BUDGET_NUM / BUDGET_DEN) x total corpus tokens,
#: computed in exact integer arithmetic; per-language cap =
#: (CAP_NUM / CAP_DEN) x that language's tokens (1.5 epochs).
#: Feasible by construction: sum(caps) = 1.5 x T >= 1.2 x T = budget.
UNIMAX_BUDGET_NUM, UNIMAX_BUDGET_DEN = 12, 10
UNIMAX_CAP_NUM, UNIMAX_CAP_DEN = 3, 2


def sample_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language-balanced token allocation (Chung et al., "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining", ICLR 2023 — public): distribute a token
    BUDGET across languages as equally as possible, but cap every
    language at 1.5 epochs of its own data — low-resource languages hit
    the epoch cap (protecting them from being over-repeated into
    memorization), and the freed budget flows to the uncapped ones.

    The classic waterfilling solved in ONE window pass instead of the
    paper's per-language loop: with caps sorted ascending, language r
    is capped iff ``cap_r * (langs_left) <= budget_remaining`` at its
    turn AND every smaller-cap language before it was capped (the
    prefix-min guard makes the boundary explicit rather than relying
    on the sortedness argument). Everything is exact BIGINT arithmetic
    until the two final divisions (equal share, epochs), which use the
    identical expression text on both engines.

    Scale: one shuffle to aggregate per-language tokens; the windowed
    table is ONE ROW PER LANGUAGE (bounded by the language inventory,
    dozens at most — never corpus-sized), and the budget/count scalars
    ride a 1-row broadcast.

    Output: (lang, lang_tokens, cap_tokens, alloc_tokens, epochs,
    capped), ordered by lang.
    """
    docs = load_table(spark, sf_dir, "documents")
    langs = (
        docs.select("lang", F.size(F.split("text", " ")).alias("nt"))
        .groupBy("lang")
        .agg(F.sum("nt").cast("bigint").alias("t"))
    )
    tot = langs.agg(
        F.sum("t").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    c = (
        langs.crossJoin(F.broadcast(tot))
        .withColumn(
            "budget",
            F.expr(f"({UNIMAX_BUDGET_NUM} * tot) div {UNIMAX_BUDGET_DEN}"),
        )
        .withColumn("cap", F.expr(f"({UNIMAX_CAP_NUM} * t) div {UNIMAX_CAP_DEN}"))
        # K rows, but BOTH the windowed table and the (m, paid) scalar
        # derive from it — pin, or the corpus token aggregation runs
        # once per plan branch (two full scans at 100 TB)
        .transform(materialize)
    )
    w = Window.orderBy("cap", "lang")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o = (
        c.withColumn("r", F.row_number().over(w))
        .withColumn("csum", F.sum("cap").over(cum))
        .withColumn(
            "ok",
            (
                F.col("cap") * (F.col("k") - F.col("r") + 1)
                <= F.col("budget") - (F.col("csum") - F.col("cap"))
            ).cast("int"),
        )
        .withColumn("capped", F.min("ok").over(cum) == 1)
    )
    m = o.agg(
        F.sum(F.when(F.col("capped"), 1).otherwise(0)).cast("bigint").alias("m"),
        F.sum(F.when(F.col("capped"), F.col("cap")).otherwise(0))
        .cast("bigint")
        .alias("paid"),
    )
    # bind the allocation ONCE and derive epochs from the bound column
    # (code-review r8): two copies of the when/otherwise formula could
    # be edited apart, silently breaking epochs == alloc / tokens
    alloc = F.round(
        F.when(F.col("capped"), F.col("cap").cast("double")).otherwise(
            (F.col("budget") - F.col("paid")) / (F.col("k") - F.col("m"))
        ),
        2,
    )
    return (
        o.crossJoin(F.broadcast(m))
        .withColumn("alloc_tokens", alloc)
        .select(
            "lang",
            F.col("t").alias("lang_tokens"),
            F.col("cap").alias("cap_tokens"),
            "alloc_tokens",
            _r6(F.col("alloc_tokens") / F.col("t")).alias("epochs"),
            "capped",
        )
        .orderBy("lang")
    )


def _unimax_sql(d: Dialect) -> str:
    return f"""
WITH toks AS (
  SELECT lang, CAST(SUM(nt) AS BIGINT) AS t
  FROM (SELECT lang, {d.fn('len', d.fn('string_split', 'text', "' '"))} AS nt FROM documents)
  GROUP BY lang
),
tot AS (SELECT CAST(SUM(t) AS BIGINT) AS tot, CAST(COUNT(*) AS BIGINT) AS k FROM toks),
c AS (
  SELECT lang, t,
         {d.idiv(f'({UNIMAX_BUDGET_NUM} * tot)', UNIMAX_BUDGET_DEN)} AS budget,
         {d.idiv(f'({UNIMAX_CAP_NUM} * t)', UNIMAX_CAP_DEN)} AS cap,
         k
  FROM toks CROSS JOIN tot
),
o AS (
  SELECT *,
         row_number() OVER (ORDER BY cap, lang) AS r,
         SUM(cap) OVER (ORDER BY cap, lang
                        ROWS UNBOUNDED PRECEDING) AS csum
  FROM c
),
f AS (
  SELECT *,
         MIN(CASE WHEN cap * (k - r + 1) <= budget - (csum - cap)
                  THEN 1 ELSE 0 END)
           OVER (ORDER BY cap, lang ROWS UNBOUNDED PRECEDING) = 1 AS capped
  FROM o
),
m AS (
  SELECT CAST(SUM(CASE WHEN capped THEN 1 ELSE 0 END) AS BIGINT) AS m,
         CAST(SUM(CASE WHEN capped THEN cap ELSE 0 END) AS BIGINT) AS paid
  FROM f
)
SELECT lang, t AS lang_tokens, cap AS cap_tokens,
       round(CASE WHEN capped THEN CAST(cap AS DOUBLE)
                  ELSE (budget - paid) / (k - m) END, 2) AS alloc_tokens,
       {r6_sql('''round(CASE WHEN capped THEN CAST(cap AS DOUBLE)
                        ELSE (budget - paid) / (k - m) END, 2) / t''')} AS epochs,
       capped
FROM f CROSS JOIN m
ORDER BY lang
"""


#: total sample the Neyman allocation distributes
NEYMAN_TOTAL = 1000


def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman OPTIMAL stratified-sampling allocation (Neyman, JRSS
    1934 — public): distribute a sample of {NEYMAN_TOTAL} across
    sources proportionally to N_h·S_h (stratum size × stratum std of
    doc length), the allocation that minimizes the estimator variance
    for a fixed budget — the statically-principled upgrade over the
    proportional split sample_stratified_topn uses.

    Exact-integer contract: N_h·S_h = sqrt(N_h·Σx² − (Σx)²) — the
    variance numerator is an exact BIGINT (< 2^53, so floor(sqrt())
    over the correctly-rounded double is engine-identical); seats are
    assigned by LARGEST-REMAINDER rounding (base = T·w div W, the
    T − Σbase leftovers go to the biggest remainders, ties to the
    lexicographically smallest source) — every step integer, fully
    deterministic, Σ alloc = T exactly.

    Scale: one partial-agg shuffle to the |sources| stratum frame;
    the ranking windows run ON that bounded frame.

    Output: (source, n_docs, weight, alloc) ordered by source.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").alias("x")
    )
    strata = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    w = strata.selectExpr(
        "source",
        "n_docs",
        "cast(floor(sqrt(cast(greatest(n_docs * sxx - sx * sx, 0)"
        " as double))) as bigint) as weight",
    )
    tot = w.agg(F.sum("weight").cast("long").alias("wt"))
    from pyspark.sql import Window

    base = (
        w.crossJoin(F.broadcast(tot))
        .selectExpr(
            "source",
            "n_docs",
            "weight",
            f"{NEYMAN_TOTAL} * weight div nullif(wt, 0) as base",
            f"{NEYMAN_TOTAL} * weight - ({NEYMAN_TOTAL} * weight"
            " div nullif(wt, 0)) * wt as rem",
        )
    )
    leftover = base.agg(
        (F.lit(NEYMAN_TOTAL) - F.sum("base")).cast("long").alias("k")
    )
    wr = Window.orderBy(F.desc("rem"), F.asc("source"))
    return (
        base.crossJoin(F.broadcast(leftover))
        .withColumn("rnk", F.row_number().over(wr))
        .selectExpr(
            "source",
            "n_docs",
            "weight",
            "base + IF(rnk <= k, 1, 0) as alloc",
        )
        .orderBy("source")
    )


def _neyman_sql(d: Dialect) -> str:
    return f"""
WITH strata AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sx,
           CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx
    FROM documents GROUP BY source
),
w AS (
    SELECT source, n_docs,
           CAST(floor(sqrt(CAST(greatest(n_docs * sxx - sx * sx, 0)
                AS DOUBLE))) AS BIGINT) AS weight
    FROM strata
),
tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS wt FROM w),
base AS (
    SELECT source, n_docs, weight,
           {d.idiv(f'{NEYMAN_TOTAL} * weight', 'nullif(tot.wt, 0)')} AS base,
           {NEYMAN_TOTAL} * weight - ({NEYMAN_TOTAL} * weight
             {d.div} nullif(tot.wt, 0)) * tot.wt AS rem
    FROM w CROSS JOIN tot
),
leftover AS (
    SELECT CAST({NEYMAN_TOTAL} - SUM(base) AS BIGINT) AS k FROM base
),
ranked AS (
    SELECT b.*, l.k,
           row_number() OVER (ORDER BY rem DESC, source ASC) AS rnk
    FROM base b CROSS JOIN leftover l
)
SELECT source, n_docs, weight,
       CAST(base + CASE WHEN rnk <= k THEN 1 ELSE 0 END AS BIGINT)
         AS alloc
FROM ranked ORDER BY source
"""


QUERIES = {
    "sample_neyman_allocation": sample_neyman_allocation,
    "sample_unimax_allocation": sample_unimax_allocation,
    "sample_hash_split": sample_hash_split,
    "sample_stratified_topn": sample_stratified_topn,
    "pack_token_budget": pack_token_budget,
    "split_leakage_report": split_leakage_report,
    "sample_weighted_reservoir": sample_weighted_reservoir,
}

TEMPLATES = {
    "sample_neyman_allocation": _neyman_sql,
    "sample_unimax_allocation": _unimax_sql,
    "sample_hash_split": _hash_split_sql,
    "pack_token_budget": _pack_sql,
    "split_leakage_report": _split_leakage_sql,
    "sample_weighted_reservoir": _reservoir_sql,
    # dialect-neutral: the oracle text parses identically in Spark SQL
    "sample_stratified_topn": SAMPLE_STRATIFIED_TOPN_ORACLE,
}
