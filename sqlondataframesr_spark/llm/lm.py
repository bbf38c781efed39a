"""Statistical language-model operators over ``documents``: a
self-trained interpolated bigram LM scorer, the CCNet-style per-lang
perplexity tercile gate, and a held-out Naive-Bayes language
classifier with a confusion-matrix eval.

North-star training-pipeline operators (no reference counterpart —
the reference is batch SQL only, RDataFramesSQL.Rmd:60-704). They
complete the corpus-quality family around
:func:`..llm.text.text_unigram_logprob`:

- :func:`lm_bigram_logprob` — CCNet's quality signal is an n-gram-LM
  score (Wenzek et al., "CCNet: Extracting High Quality Monolingual
  Datasets from Web Crawl Data", LREC 2020 — public). Unigram models
  miss word-ORDER degradation (shuffled text scores identically);
  the bigram transition model is the cheapest scorer that doesn't.
- :func:`lm_perplexity_tercile_gate` — CCNet's hallmark routing step:
  per language, split the corpus into head/middle/tail perplexity
  terciles and train preferentially on the head.
- :func:`nb_lang_confusion` — fastText-style lang-id is the other
  CCNet stage; multinomial Naive Bayes over token counts is its
  exactly-SQL-expressible stand-in, trained on an 80% doc split and
  scored on the held-out 20%, reported as a confusion matrix.

Determinism across engines (the discipline of text_unigram_logprob):
every per-term/per-transition log value is rounded to 6 dp and
quantized to INTEGER micro-nats BEFORE any per-doc sum, so sums are
exact BIGINT arithmetic with no float-accumulation order anywhere;
ties in the NB argmax break to the lexicographically smallest lang
via an explicit window order.

Everything is built-in expressions — zero Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..materialize import materialize, spread_scan
from ..functions.dialect import Dialect
from ..functions.rounding import r6 as _r6, r6_sql
from .text import words_sql

#: interpolation weight of the ML bigram term (rest goes to the
#: unigram continuation model) — 0.9 is the classic Jelinek-Mercer
#: single-lambda default
LAMBDA_BI = 0.9
#: held-out split for the NB classifier eval: doc_id % 5 == 0 is test
NB_TEST_MOD = 5

#: ln -> 6 dp -> integer micro-nats (exact BIGINT from here on)
_MICRONATS = f"cast(round({r6_sql('ln({p})')} * 1000000.0) as bigint)"


def _clean_tokens_expr() -> str:
    """split + drop empties (double spaces must not create '' tokens
    that would corrupt bigram adjacency)."""
    return "filter(split(text, ' '), x -> x != '')"


def _bigram_counts(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(tf, c12): per-(doc, t1, t2) bigram counts and corpus bigram
    counts over a (doc_id, text) frame, both pinned — the count tables
    both bigram models estimate from."""
    # spread_scan: the bigram explode is the CPU-dense pass — a
    # single-row-group scan must not serialize it onto one task
    # TOTAL expression (IF-guarded): sequence(1, size-1) must never go
    # descending for 0/1-token docs even though tf filters them out
    big = spread_scan(docs, "doc_id").select(
        "doc_id",
        F.explode(
            F.expr(
                f"IF(size({_clean_tokens_expr()}) >= 2,"
                f" transform(sequence(1, size({_clean_tokens_expr()}) - 1),"
                f"  i -> struct(element_at({_clean_tokens_expr()}, i) AS t1,"
                f"              element_at({_clean_tokens_expr()}, i + 1) AS t2)),"
                f" CAST(array() AS array<struct<t1:string,t2:string>>))"
            )
        ).alias("b"),
    ).select("doc_id", "b.t1", "b.t2")
    # tf feeds FOUR downstream branches (c12 -> c1/c2/total and the
    # per-doc score join): pin it, or the bigram explode re-runs per
    # branch (the _substring_pairs lesson — measured 5.4 s -> 1.3 s
    # at sf0.1)
    tf = (
        big.groupBy("doc_id", "t1", "t2")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(materialize)
    )
    # c12 likewise feeds c1/c2/total/prob: pin the (t1,t2,count)
    # aggregate (fixed-width rows, vocab-bounded — never raw text)
    c12 = (
        tf.groupBy("t1", "t2")
        .agg(F.sum("tf").alias("c12"))
        .transform(materialize)
    )
    return tf, c12


def _doc_logprob(docs: DataFrame, tf: DataFrame, prob: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, avg_logprob): each doc's bigram micronats
    under ``prob`` averaged per transition; docs with < 2 tokens stay
    as (0, NULL)."""
    per_doc = (
        tf.join(prob, ["t1", "t2"])
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("micronats")).alias("sum_micronats"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            _r6(
                F.col("sum_micronats").cast("double")
                / (F.col("n_bigrams") * F.lit(1000000.0))).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


def lm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean log-probability under a corpus-self-trained
    interpolated bigram LM:

        P(w2|w1) = 0.9 * c(w1 w2)/c(w1 .) + 0.1 * c(. w2)/T

    where c(w1 w2) is the corpus bigram count, c(w1 .) the count of
    transitions leaving w1, c(. w2) the count of transitions entering
    w2, and T the total transition count. Self-training makes every
    scored bigram a seen bigram, so the ML term is always defined; the
    unigram interpolation keeps one-off transitions from dominating.

    Scale: a web-scale bigram vocabulary is billions of keys, so the
    count tables join back by (t1, t2) as REGULAR shuffle joins (never
    broadcast), all partial-aggregated map-side; the single-row total
    T is the only broadcast. Same shuffle profile as TF-IDF /
    text_unigram_logprob. Docs with < 2 tokens have no transitions and
    surface as (n_bigrams=0, avg_logprob=NULL) — kept, not dropped, so
    the gate downstream sees every doc.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tf, c12 = _bigram_counts(docs)
    c1 = c12.groupBy("t1").agg(F.sum("c12").alias("c1"))
    c2 = c12.groupBy("t2").agg(F.sum("c12").alias("c2"))
    total = c12.agg(F.sum("c12").alias("t_total"))
    prob = (
        c12.join(c1, "t1")
        .join(c2, "t2")
        .join(F.broadcast(total))
        .withColumn(
            "micronats",
            F.expr(
                _MICRONATS.format(
                    p=f"{LAMBDA_BI} * (cast(c12 as double) / cast(c1 as double))"
                    f" + {1 - LAMBDA_BI} * (cast(c2 as double) / cast(t_total as double))"
                )
            ),
        )
        .select("t1", "t2", "micronats")
    )
    return _doc_logprob(docs, tf, prob)


#: the per-doc sum of bigram micronats under the chain's ``prob``
_PER_DOC_SQL = """per_doc AS (
  SELECT tf.doc_id, SUM(tf.tf) AS n_bigrams,
         SUM(tf.tf * prob.micronats) AS sum_micronats
  FROM tf JOIN prob USING (t1, t2) GROUP BY tf.doc_id
)"""


def _bi_counts_sql(d: Dialect) -> str:
    """t -> big -> tf -> c12: the oracle twin of :func:`_bigram_counts`."""
    n = d.fn("len", "w")
    return f"""t AS (
  SELECT doc_id, {words_sql(d)} AS w
  FROM documents
),
big AS (
  SELECT doc_id,
         {d.at('w', 'CAST(i AS INT)')} AS t1, {d.at('w', 'CAST(i + 1 AS INT)')} AS t2
  FROM (SELECT doc_id, w, {d.fn('unnest', d.seq(1, n))} AS i
        FROM t WHERE {n} >= 2)
),
tf AS (SELECT doc_id, t1, t2, COUNT(*) AS tf FROM big GROUP BY ALL),
c12 AS (SELECT t1, t2, SUM(tf) AS c12 FROM tf GROUP BY ALL),
"""


def _bi_stages_sql(d: Dialect) -> str:
    """t -> big -> tf -> c12 -> c1/c2/tot -> prob -> per_doc: the
    interpolated bigram model's CTE chain."""
    return f"""{_bi_counts_sql(d)}c1 AS (SELECT t1, SUM(c12) AS c1 FROM c12 GROUP BY t1),
c2 AS (SELECT t2, SUM(c12) AS c2 FROM c12 GROUP BY t2),
tot AS (SELECT SUM(c12) AS t_total FROM c12),
prob AS (
  SELECT c12.t1, c12.t2,
         CAST(round({r6_sql(f'''ln({LAMBDA_BI} * (CAST(c12.c12 AS DOUBLE) / CAST(c1.c1 AS DOUBLE))
              + {1 - LAMBDA_BI} * (CAST(c2.c2 AS DOUBLE) / CAST(tot.t_total AS DOUBLE)))''')}
              * 1000000.0) AS BIGINT) AS micronats
  FROM c12 JOIN c1 USING (t1) JOIN c2 USING (t2) CROSS JOIN tot
),
{_PER_DOC_SQL}"""


#: the oracle twin of :func:`_doc_logprob`
_LOGPROB_FINAL = f"""
SELECT d.doc_id,
       CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       {r6_sql('CAST(p.sum_micronats AS DOUBLE) / (p.n_bigrams * 1000000.0)')}
         AS avg_logprob
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


def _bigram_sql(d: Dialect) -> str:
    return f"""
WITH {_bi_stages_sql(d)}{_LOGPROB_FINAL}"""


def lm_perplexity_tercile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's routing step: per LANGUAGE, split documents into
    head / middle / tail by LM score (head = highest mean logprob =
    lowest perplexity; CCNet trains preferentially on the head).

    Bucket boundaries are per-lang EXACT percentile CUTOFFS
    (p33/p66 of avg_logprob) joined back broadcast — deliberately NOT
    an ``ntile`` window ``partitionBy(lang)``: a handful of language
    partitions would serialize the whole corpus onto a handful of
    tasks at 100 TB (the r6 low-cardinality-window finding; same
    design as corpus_quality_quantile_gate). Cutoffs are rounded to
    6 dp on both engines, and scores already are, so the boundary
    comparisons are bit-identical.

    Output: (doc_id, lang, avg_logprob, bucket) for every doc with at
    least one bigram, bucket in {'head','middle','tail'}:
    head = avg_logprob >= p66, tail = avg_logprob < p33.
    """
    scored = lm_bigram_logprob(spark, sf_dir).filter(F.col("n_bigrams") > 0)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    # the scored frame feeds both the cutoff aggregate and the gate
    # join — pin it so the whole bigram-LM lineage runs once
    s = (
        scored.join(docs, "doc_id")
        .select("doc_id", "lang", "avg_logprob")
        .transform(materialize)
    )
    cuts = s.groupBy("lang").agg(
        _r6(F.percentile("avg_logprob", F.lit(1.0 / 3.0))).alias("p33"),
        _r6(F.percentile("avg_logprob", F.lit(2.0 / 3.0))).alias("p66"),
    )
    return (
        s.join(F.broadcast(cuts), "lang")
        .select(
            "doc_id",
            "lang",
            "avg_logprob",
            F.when(F.col("avg_logprob") >= F.col("p66"), F.lit("head"))
            .when(F.col("avg_logprob") < F.col("p33"), F.lit("tail"))
            .otherwise(F.lit("middle"))
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


def _tercile_gate_sql(d: Dialect) -> str:
    return f"""
WITH {_bi_stages_sql(d)},
scored AS (
  SELECT d.doc_id, d.lang,
         {r6_sql('CAST(p.sum_micronats AS DOUBLE) / (p.n_bigrams * 1000000.0)')}
           AS avg_logprob
  FROM documents d JOIN per_doc p USING (doc_id)
  WHERE p.n_bigrams > 0
),
cuts AS (
  SELECT lang,
         {r6_sql(d.quantile_cont('avg_logprob', '1.0/3.0'))} AS p33,
         {r6_sql(d.quantile_cont('avg_logprob', '2.0/3.0'))} AS p66
  FROM scored GROUP BY lang
)
SELECT s.doc_id, s.lang, s.avg_logprob,
       CASE WHEN s.avg_logprob >= c.p66 THEN 'head'
            WHEN s.avg_logprob < c.p33 THEN 'tail'
            ELSE 'middle' END AS bucket
FROM scored s JOIN cuts c USING (lang)
ORDER BY s.doc_id
"""


def nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive-Bayes language identification with a held-out
    eval, reported as a confusion matrix (true_lang, pred_lang,
    n_docs) — the exactly-SQL-expressible stand-in for CCNet's
    fastText lang-id stage, WITH the eval report a production gate
    actually ships on.

    Train on doc_id % {mod} != 0 (Laplace add-one over the shared
    train vocabulary); score the held-out docs. The add-one algebra
    makes unseen (term, lang) pairs contribute ln(0+1)=0, so scoring
    needs only the SEEN-pair table:

        score(d, l) = sum_t tf * ln(c(t,l)+1)
                      - n_tokens(d) * ln(N_l + V) + ln(d_l / D)

    Scale: the seen-pair table is (vocab x langs)-sized — joined back
    by TERM as a regular shuffle join (never broadcast); the per-lang
    constants (L rows) broadcast onto the held-out docs. The argmax
    rides a row_number window partitioned by doc_id — high
    cardinality, so it parallelizes (unlike a lang-partitioned
    window); ties break to the lexicographically smallest lang on
    both engines. All sums are exact BIGINT micro-nats.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .withColumn("is_test", F.col("doc_id") % NB_TEST_MOD == 0)
    )
    tok = spread_scan(docs, "doc_id").select(
        "doc_id", "lang", "is_test", F.explode(F.expr(_clean_tokens_expr())).alias("term")
    )
    # tf feeds five branches (ctl / vocab / lang_tot / test_docs /
    # hits): pin the (doc, term, tf) aggregate once
    tf = (
        tok.groupBy("doc_id", "lang", "is_test", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(materialize)
    )
    train_tf = tf.filter(~F.col("is_test"))
    # seen (term, lang) counts with their add-one log
    ctl = (
        train_tf.groupBy("term", "lang")
        .agg(F.sum("tf").alias("c_tl"))
        .withColumn(
            "log_c1", F.expr(_MICRONATS.format(p="cast(c_tl + 1 as double)"))
        )
        .select("term", "lang", "log_c1")
    )
    vocab = train_tf.select("term").distinct().agg(F.count(F.lit(1)).alias("v"))
    lang_tot = train_tf.groupBy("lang").agg(F.sum("tf").alias("n_l"))
    lang_docs = (
        docs.filter(~F.col("is_test"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("d_l"))
    )
    n_train = docs.filter(~F.col("is_test")).agg(F.count(F.lit(1)).alias("d_all"))
    langs = (
        lang_tot.join(lang_docs, "lang")
        .join(F.broadcast(vocab))
        .join(F.broadcast(n_train))
        .select(
            "lang",
            F.expr(_MICRONATS.format(p="cast(n_l + v as double)")).alias("log_norm"),
            F.expr(
                _MICRONATS.format(p="cast(d_l as double) / cast(d_all as double)")
            ).alias("log_prior"),
        )
    )
    test_docs = (
        tf.filter(F.col("is_test"))
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("n_tokens"))
    )
    hits = (
        tf.filter(F.col("is_test"))
        .select("doc_id", "term", "tf")
        .join(ctl.select("term", F.col("lang").alias("cand"), "log_c1"), "term")
        .groupBy("doc_id", "cand")
        .agg(F.sum(F.col("tf") * F.col("log_c1")).alias("hit_sum"))
    )
    grid = test_docs.crossJoin(
        F.broadcast(langs.select(F.col("lang").alias("cand"), "log_norm", "log_prior"))
    )
    scoredg = (
        grid.join(hits, ["doc_id", "cand"], "left")
        .select(
            "doc_id",
            "cand",
            (
                F.coalesce("hit_sum", F.lit(0))
                - F.col("n_tokens") * F.col("log_norm")
                + F.col("log_prior")
            ).alias("score"),
        )
    )
    pred = (
        scoredg.withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("score").desc(), F.col("cand").asc()
                )
            ),
        )
        .filter(F.col("rnk") == 1)
        .select("doc_id", F.col("cand").alias("pred_lang"))
    )
    return (
        docs.filter(F.col("is_test"))
        .select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


def _nb_stages(d: Dialect) -> str:
    """The Naive-Bayes train/score CTE chain."""
    tok = f"SELECT doc_id, lang, is_test, {d.fn('unnest', words_sql(d))} AS term FROM d"
    mn = f"CAST(round({r6_sql('ln({p})')} * 1000000.0) AS BIGINT)"
    return f"""d AS (
  SELECT doc_id, lang, text, doc_id % {NB_TEST_MOD} = 0 AS is_test FROM documents
),
tok AS ({tok}),
tf AS (
  SELECT doc_id, lang, is_test, term, COUNT(*) AS tf
  FROM tok GROUP BY doc_id, lang, is_test, term
),
ctl AS (
  SELECT term, lang,
         {mn.format(p="CAST(SUM(tf) + 1 AS DOUBLE)")} AS log_c1
  FROM tf WHERE NOT is_test GROUP BY term, lang
),
vocab AS (SELECT COUNT(DISTINCT term) AS v FROM tf WHERE NOT is_test),
lang_tot AS (SELECT lang, SUM(tf) AS n_l FROM tf WHERE NOT is_test GROUP BY lang),
lang_docs AS (SELECT lang, COUNT(*) AS d_l FROM d WHERE NOT is_test GROUP BY lang),
n_train AS (SELECT COUNT(*) AS d_all FROM d WHERE NOT is_test),
langs AS (
  SELECT lt.lang,
         {mn.format(p="CAST(lt.n_l + v.v AS DOUBLE)")} AS log_norm,
         {mn.format(p="CAST(ld.d_l AS DOUBLE) / CAST(nt.d_all AS DOUBLE)")} AS log_prior
  FROM lang_tot lt JOIN lang_docs ld ON lt.lang = ld.lang
  CROSS JOIN vocab v CROSS JOIN n_train nt
),
test_docs AS (
  SELECT doc_id, SUM(tf) AS n_tokens FROM tf WHERE is_test GROUP BY doc_id
),
hits AS (
  SELECT tf.doc_id, ctl.lang AS cand, SUM(tf.tf * ctl.log_c1) AS hit_sum
  FROM tf JOIN ctl ON tf.term = ctl.term
  WHERE tf.is_test GROUP BY tf.doc_id, ctl.lang
),
grid AS (
  SELECT td.doc_id, td.n_tokens, l.lang AS cand, l.log_norm, l.log_prior
  FROM test_docs td CROSS JOIN langs l
),
scoredg AS (
  SELECT g.doc_id, g.cand,
         COALESCE(h.hit_sum, 0) - g.n_tokens * g.log_norm + g.log_prior AS score
  FROM grid g LEFT JOIN hits h ON g.doc_id = h.doc_id AND g.cand = h.cand
),
pred AS (
  SELECT doc_id, cand AS pred_lang
  FROM (SELECT doc_id, cand,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cand ASC) AS rnk
        FROM scoredg)
  WHERE rnk = 1
)"""


def _nb_confusion_sql(d: Dialect) -> str:
    return f"""
WITH {_nb_stages(d)}
SELECT d.lang AS true_lang, p.pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM d JOIN pred p USING (doc_id)
WHERE d.is_test
GROUP BY d.lang, p.pred_lang
ORDER BY true_lang, pred_lang
"""

#: Kneser-Ney absolute discount (the classic 0.75 = 3/4 default)
KN_DISCOUNT = 0.75

#: the KN probability as ONE float expression over exact BIGINT counts
#: (identical token order both engines -> bit-identical doubles):
#: max(c12-D,0)/c1  +  D*N1+(w1.)/c1 * [ N1+(.w2)/B ]
_KN_P = (
    f"(greatest(CAST(c12 AS DOUBLE) - {KN_DISCOUNT}, 0.0)"
    f" + {KN_DISCOUNT} * CAST(n1f AS DOUBLE)"
    f"   * (CAST(n1b AS DOUBLE) / CAST(b_types AS DOUBLE)))"
    f" / CAST(c1 AS DOUBLE)"
)


def lm_kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean log-probability under a corpus-self-trained
    INTERPOLATED KNESER-NEY bigram LM — the smoothing KenLM ships and
    CCNet actually scores with (Kneser & Ney 1995; Chen & Goodman
    1999; Heafield, "KenLM: Faster and Smaller Language Model
    Queries", WMT 2011 — all public):

        P(w2|w1) = max(c(w1w2) - D, 0)/c(w1·)
                   + D·N1+(w1·)/c(w1·) · N1+(·w2)/B

    with discount D = 0.75, N1+(w1·)/N1+(·w2) the distinct-successor/
    -predecessor TYPE counts and B the total bigram-type count — the
    continuation model that fixes the "San Francisco" problem
    (frequent in one context ≠ frequent everywhere), which the
    Jelinek-Mercer unigram interpolation of lm_bigram_logprob cannot.

    Scale: identical shuffle profile to lm_bigram_logprob — the
    billion-key count tables join back by (t1, t2) as REGULAR shuffle
    joins (never broadcast); N1f rides c1's aggregate (same groupBy),
    N1b rides c2's; the 1-row type total B is the only broadcast.
    Self-training keeps every scored bigram seen, so the discounted
    ML term plus a strictly positive continuation term make P > 0.

    Output: (doc_id, n_bigrams, avg_logprob) ordered by doc_id; docs
    with < 2 tokens surface as (0, NULL) — kept, not dropped.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tf, c12 = _bigram_counts(docs)
    # N1+(w1.) rides c1's aggregate; N1+(.w2) is its own — one shuffle
    # each over the TYPE table, never the corpus
    c1 = c12.groupBy("t1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1f")
    )
    n1b = c12.groupBy("t2").agg(F.count(F.lit(1)).alias("n1b"))
    btypes = c12.agg(F.count(F.lit(1)).alias("b_types"))
    prob = (
        c12.join(c1, "t1")
        .join(n1b, "t2")
        .join(F.broadcast(btypes))
        .withColumn("micronats", F.expr(_MICRONATS.format(p=_KN_P)))
        .select("t1", "t2", "micronats")
    )
    return _doc_logprob(docs, tf, prob)


def _kn_stages(d: Dialect) -> str:
    """The KN count/prob CTE chain: reuses the tokenize/bigram/tf/c12
    stages, then swaps the Jelinek-Mercer prob for the Kneser-Ney one."""
    return (
        _bi_counts_sql(d)
        + f"""c1 AS (SELECT t1, SUM(c12) AS c1, COUNT(*) AS n1f
       FROM c12 GROUP BY t1),
n1b AS (SELECT t2, COUNT(*) AS n1b FROM c12 GROUP BY t2),
bt AS (SELECT COUNT(*) AS b_types FROM c12),
prob AS (
  SELECT c12.t1, c12.t2,
         CAST(round({r6_sql(f'ln({_KN_P})')} * 1000000.0) AS BIGINT)
           AS micronats
  FROM c12 JOIN c1 USING (t1) JOIN n1b USING (t2) CROSS JOIN bt
),
{_PER_DOC_SQL}"""
    )



QUERIES = {
    "lm_bigram_logprob": lm_bigram_logprob,
    "lm_kneser_ney_logprob": lm_kneser_ney_logprob,
    "lm_perplexity_tercile_gate": lm_perplexity_tercile_gate,
    "nb_lang_confusion": nb_lang_confusion,
}

TEMPLATES = {
    "lm_bigram_logprob": _bigram_sql,
    "lm_kneser_ney_logprob": lambda d: f"WITH {_kn_stages(d)}{_LOGPROB_FINAL}",
    "lm_perplexity_tercile_gate": _tercile_gate_sql,
    "nb_lang_confusion": _nb_confusion_sql,
}
