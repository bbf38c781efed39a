"""Text-analysis operators over the ``documents`` table: token stats,
quality scoring, n-gram language ID, fingerprinting.

Everything is built from JVM-side ``pyspark.sql.functions`` (split /
transform / filter / aggregate higher-order functions) — no Python
UDFs — so the whole pipeline stays inside whole-stage codegen and
scales linearly with executors. Each query has an exactly-equivalent
DuckDB oracle; string ops are deliberately restricted to constructs
whose semantics are dialect-identical (single-space split, md5 hex,
ASCII character classes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..functions.dialect import Dialect
from ..functions.rounding import r6 as _r6, r6_sql
from .dedup import shingle_list_sql

#: Tiny per-language stopword lists for the n-gram/stopword language
#: heuristic. Order matters: it is the deterministic tie-break.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "et", "les", "des", "un"],
    "es": ["el", "los", "las", "y", "una", "que"],
}


def _tokens() -> F.Column:
    return F.split(F.col("text"), " ")


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts — the unit everything downstream
    (quality filters, contamination budgets) is denominated in.

    Scale: narrow projection of one string column; embarrassingly
    parallel, no shuffle at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = _tokens()
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars_actual"),
        F.size(w).alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_unique_tokens"),
        # mean token length over the split tokens; single division of
        # exact ints -> bit-identical across engines
        (
            (F.length("text") - F.size(w) + 1).cast("double") / F.size(w).cast("double")
        ).alias("avg_token_len"),
    )


def _token_stats_sql(d: Dialect) -> str:
    split = d.fn("string_split", "text", "' '")
    return f"""
SELECT doc_id, lang,
       length(text) AS n_chars_actual,
       {d.fn('len', split)} AS n_tokens,
       {d.fn('len', d.fn('list_distinct', split))} AS n_unique_tokens,
       CAST(length(text) - {d.fn('len', split)} + 1 AS DOUBLE)
         / CAST({d.fn('len', split)} AS DOUBLE) AS avg_token_len
FROM documents
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals per document: type-token ratio,
    stopword ratio, digit ratio, mean token length — the standard
    cheap pre-filters before expensive model-based scoring.

    Scale: same no-shuffle map-only shape as token stats.
    """
    docs = load_table(spark, sf_dir, "documents")
    en = [F.lit(s) for s in LANG_STOPWORDS["en"]]
    w = _tokens()
    n_tok = F.size(w).cast("double")
    n_stop = F.size(F.filter(w, lambda t: t.isin(LANG_STOPWORDS["en"]))).cast("double")
    n_digit_chars = (
        F.length("text") - F.length(F.regexp_replace(F.col("text"), "[0-9]", ""))
    ).cast("double")
    del en
    return docs.select(
        "doc_id",
        "source",
        _r6(F.size(F.array_distinct(w)).cast("double") / n_tok).alias(
            "type_token_ratio"
        ),
        _r6(n_stop / n_tok).alias("stopword_ratio"),
        _r6(n_digit_chars / F.length("text").cast("double")).alias(
            "digit_ratio"
        ),
    )


def words_sql(d: Dialect) -> str:
    """The non-empty space-split tokens of ``text`` (the repo-standard
    tokenizer); shared by llm/lm.py, llm/diversity.py and llm/dsir.py."""
    return d.fn("list_filter", d.fn("string_split", "text", "' '"), "x -> x != ''")


def _stopwords(d: Dialect, lang: str) -> str:
    return d.list(", ".join(f"'{s}'" for s in LANG_STOPWORDS[lang]))


def _n_stopwords(d: Dialect, lang: str) -> str:
    hit = d.fn("list_contains", _stopwords(d, lang), "t")
    return d.fn("len", d.fn("list_filter", "w", f"t -> {hit}"))


def _quality_score_sql(d: Dialect) -> str:
    return f"""
WITH t AS (SELECT doc_id, source, text, {d.fn('string_split', 'text', "' '")} AS w FROM documents)
SELECT doc_id, source,
       {r6_sql(f'''CAST({d.fn('len', d.fn('list_distinct', 'w'))} AS DOUBLE) / CAST({d.fn('len', 'w')} AS DOUBLE)''')}
         AS type_token_ratio,
       {r6_sql(f'''CAST({_n_stopwords(d, 'en')} AS DOUBLE)
             / CAST({d.fn('len', 'w')} AS DOUBLE)''')} AS stopword_ratio,
       {r6_sql(f'''CAST(length(text) - length({d.regexp_replace_all('text', "'[0-9]'", "''")}) AS DOUBLE)
             / CAST(length(text) AS DOUBLE)''')} AS digit_ratio
FROM t
"""


def lang_id_stopword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by stopword-hit counting — the classic cheap
    n-gram/stopword heuristic. Deterministic argmax: languages are
    compared in LANG_STOPWORDS order with >= so earlier languages win
    ties; zero hits everywhere -> 'und' (undetermined).

    Scale: map-only; the stopword lists are literals compiled into the
    codegen'd plan, no broadcast needed.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = _tokens()
    def _stopword_hits(sw: list[str]):
        # nested closure: a 2-arg lambda would be read by F.filter as
        # the (element, index) form and bind sw to the index column
        return lambda t: t.isin(sw)

    score_cols = {
        lang: F.size(F.filter(w, _stopword_hits(sw)))
        for lang, sw in LANG_STOPWORDS.items()
    }
    langs = list(LANG_STOPWORDS)
    # fold right-to-left so the first language in order wins ties
    pred = F.lit("und")
    best = F.lit(0)
    for lang in reversed(langs):
        s = score_cols[lang]
        pred = F.when(s > 0, F.when(s >= best, F.lit(lang)).otherwise(pred)).otherwise(
            pred
        )
        best = F.greatest(best, s)
    sel = [F.col("doc_id"), F.col("lang").alias("labeled_lang")]
    sel += [score_cols[lang].alias(f"score_{lang}") for lang in langs]
    sel += [pred.alias("predicted_lang")]
    return docs.select(*sel)


def _lang_id_sql(d: Dialect) -> str:
    langs = list(LANG_STOPWORDS)
    score_exprs = ",\n       ".join(f"{_n_stopwords(d, lang)} AS score_{lang}" for lang in langs)
    # same right-fold as the fluent build: earlier language wins ties
    pred = "'und'"
    best = "0"
    for lang in reversed(langs):
        pred = (
            f"CASE WHEN score_{lang} > 0 THEN "
            f"(CASE WHEN score_{lang} >= {best} THEN '{lang}' ELSE {pred} END) "
            f"ELSE {pred} END"
        )
        best = f"greatest({best}, score_{lang})"
    return f"""
WITH t AS (SELECT doc_id, lang, {d.fn('string_split', 'text', "' '")} AS w FROM documents),
scored AS (
  SELECT doc_id, lang AS labeled_lang,
       {score_exprs}
  FROM t
)
SELECT doc_id, labeled_lang, {', '.join('score_' + lang for lang in langs)},
       {pred} AS predicted_lang
FROM scored
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-permutation min-hash fingerprint per document: the minimum
    md5 over the document's distinct word 3-shingles. Identical
    fingerprints => near-identical shingle sets — the cheap first pass
    of fingerprint-based clustering (winnowing's degenerate k=1 case).

    Scale: map-only (shingling + md5 + array-min all inside codegen);
    grouping by fingerprint to find collisions is one shuffle of
    (fingerprint, doc_id) pairs only.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.size(F.split(F.col("text"), " ")) >= 3
    )
    shingled = docs.withColumn("w", F.split(F.col("text"), " ")).withColumn(
        "sh",
        F.array_distinct(
            F.expr(
                "transform(sequence(0, size(w)-3),"
                " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
            )
        ),
    )
    return shingled.select(
        "doc_id",
        F.array_min(F.transform(F.col("sh"), F.md5)).alias("fingerprint"),
        F.size("sh").alias("n_shingles"),
    )


def _fingerprint_sql(d: Dialect) -> str:
    return f"""
WITH t AS (SELECT doc_id, {d.fn('string_split', 'text', "' '")} AS w FROM documents),
s AS (
  SELECT doc_id,
         {shingle_list_sql(d)} AS sh
  FROM t WHERE {d.fn('len', 'w')} >= 3
)
SELECT doc_id,
       {d.fn('list_min', d.comp('md5(x)', 'x', 'sh'))} AS fingerprint,
       {d.fn('len', 'sh')} AS n_shingles
FROM s
"""


def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-20 terms by DOCUMENT frequency
    (explode of per-doc distinct terms → count → top-k).

    Scale: array_distinct runs map-side so each doc emits each term
    once; the count gets a map-side partial aggregate, so the shuffle
    carries one row per (partition, term); the top-20 lowers to
    TakeOrderedAndProject — no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    term = docs.select(
        F.explode(F.array_distinct(_tokens())).alias("term")
    )
    counted = term.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    # top-k FIRST (lowers to TakeOrderedAndProject — per-partition
    # heaps, no global sort); the rank window then only ever sees 20
    # rows. A bare Window.orderBy over the full vocabulary would drag
    # every term to one partition.
    top = counted.orderBy(F.desc("doc_freq"), "term").limit(20)
    w = Window.orderBy(F.desc("doc_freq"), "term")
    return top.withColumn("rnk", F.row_number().over(w)).orderBy("rnk")


def _top_terms_sql(d: Dialect) -> str:
    return f"""
WITH t AS (SELECT doc_id, {d.fn('list_distinct', d.fn('string_split', 'text', "' '"))} AS w FROM documents),
e AS (SELECT doc_id, {d.fn('unnest', 'w')} AS term FROM t),
c AS (SELECT term, COUNT(*) AS doc_freq FROM e GROUP BY term),
r AS (SELECT term, doc_freq,
             row_number() OVER (ORDER BY doc_freq DESC, term) AS rnk
      FROM c)
SELECT term, doc_freq, rnk FROM r WHERE rnk <= 20 ORDER BY rnk
"""


def text_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The most TF-IDF-characteristic term of every document:
    tf(term, doc)/|doc| * ln((N+1)/(df+1)), argmax per doc with a term
    tie-break.

    Determinism: tf, df, N, |doc| are exact integers; both engines
    evaluate the textually identical double expression, so scores are
    bit-identical before the 6 dp display rounding.

    Scale: two keyed shuffles (tf by (doc, term), df by term) plus a
    window re-key by doc. df joins BACK to tf by term as a regular
    shuffle join — the vocabulary is NOT broadcast (at web scale it is
    billions of terms); the one-row corpus count is. Zipf skew on hot
    terms is AQE's skew-join case."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tokens()).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w_doc = Window.partitionBy("doc_id")
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(n_docs))
        .withColumn("n_tok", F.sum("tf").over(w_doc))
        .withColumn(
            "score",
            _r6(
                (F.col("tf").cast("double") / F.col("n_tok").cast("double"))
                * F.log(
                    (F.col("n_docs").cast("double") + 1)
                    / (F.col("df").cast("double") + 1)
                )),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") == 1)
        .select("doc_id", "term", "tf", "df", "score")
        .orderBy("doc_id")
    )


def _tfidf_sql(d: Dialect) -> str:
    return f"""
WITH tok AS (SELECT doc_id, {d.fn('unnest', d.fn('string_split', 'text', "' '"))} AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         {r6_sql('''(CAST(tf.tf AS DOUBLE) / CAST(SUM(tf.tf) OVER (PARTITION BY tf.doc_id) AS DOUBLE))
               * ln((CAST(n_docs AS DOUBLE) + 1) / (CAST(df AS DOUBLE) + 1))''')} AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN nd
),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
      FROM scored)
SELECT doc_id, term, tf, df, score FROM r WHERE rnk = 1 ORDER BY doc_id
"""


#: chunking geometry: 64-token windows advancing by 48 (16-token overlap)
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into 64-token
    chunks with 16-token overlap, one output row per chunk with its
    token count and content hash. The step every pre-training pipeline
    runs between cleaning and tokenization (sequence packing,
    llm/sampling.pack_token_budget, then consumes the chunks).

    Implementation is pure JVM expression work — tokenize once, compute
    the chunk-start offsets as ``sequence(0, n_extra) * stride``, then
    ``posexplode`` and slice. No UDF, no shuffle at all: chunking is a
    flat map over the corpus scan, which is exactly what you want when
    the input is 100 TB (the only wide operation anywhere downstream is
    whatever consumes the chunks).

    A document shorter than one window yields exactly one (short)
    chunk; the final chunk keeps the tail (may be shorter than 64).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.split("text", " ").alias("w"),
    ).withColumn("n", F.size("w"))
    # number of extra windows beyond the first: ceil((n - 64)/48) via ints
    toks = toks.withColumn(
        "n_extra",
        F.when(
            F.col("n") > CHUNK_TOKENS,
            F.expr(f"(n - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1) div {CHUNK_STRIDE}"),
        ).otherwise(F.lit(0)),
    )
    return (
        toks.select(
            "doc_id",
            "w",
            "n",
            F.posexplode(
                F.expr(f"transform(sequence(0, n_extra), i -> i * {CHUNK_STRIDE})")
            ).alias("chunk_id", "start"),
        )
        .withColumn("chunk", F.expr(f"slice(w, start + 1, {CHUNK_TOKENS})"))
        .select(
            "doc_id",
            "chunk_id",
            F.size("chunk").alias("n_chunk_tokens"),
            F.md5(F.concat_ws(" ", "chunk")).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_id")
    )


def _chunks_sql(d: Dialect) -> str:
    split = d.fn("string_split", "text", "' '")
    lo, hi = f"CAST(k AS INT) * {CHUNK_STRIDE} + 1", f"CAST(k AS INT) * {CHUNK_STRIDE} + {CHUNK_TOKENS}"
    chunk = d.list_slice("w", lo, hi, CHUNK_TOKENS, sep=",\n" + " " * 23)
    return f"""
WITH toks AS (
  SELECT doc_id, {split} AS w, {d.fn('len', split)} AS n
  FROM documents
),
geo AS (
  SELECT doc_id, w, n,
         CASE WHEN n > {CHUNK_TOKENS}
              THEN {d.idiv(f'(n - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1)', CHUNK_STRIDE)}
              ELSE 0 END AS n_extra
  FROM toks
),
ks AS (
  SELECT doc_id, w, {d.fn('unnest', d.seq(0, 'n_extra + 1'))} AS k FROM geo
),
chunks AS (
  SELECT doc_id,
         CAST(k AS BIGINT) AS chunk_id,
         {chunk} AS chunk
  FROM ks
)
SELECT doc_id, chunk_id,
       CAST({d.fn('len', 'chunk')} AS INT) AS n_chunk_tokens,
       md5({d.fn('array_to_string', 'chunk', "' '")}) AS chunk_hash
FROM chunks
ORDER BY doc_id, chunk_id
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics — the filter that catches
    boilerplate/spam that exact-dedup misses (degenerate docs repeat
    internally, not across the corpus): token count, distinct count,
    the dominant term and its frequency, repetition_ratio (top term
    share) and distinct_ratio (type-token ratio).

    Two keyed shuffles, both partial-aggregated map-side: (doc, term)
    term frequencies, then per-doc rollup carrying the argmax term via
    max_by — never a window over exploded tokens (whose per-doc
    partitions would serialize the hot path).
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("tf").alias("top_tf"),
            # highest tf; lexicographically smallest term on ties — the
            # struct trick needs an orderable negation, so use max_by
            # twice: tf then reversed term is not orderable for strings,
            # hence min_by over (-tf, term) struct.
            F.expr("min_by(term, struct(-tf, term))").alias("top_term"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            "top_term",
            "top_tf",
            _r6(F.col("top_tf") / F.col("n_tokens")).alias("repetition_ratio"),
            _r6(F.col("n_distinct") / F.col("n_tokens")).alias("distinct_ratio"),
        )
        .orderBy("doc_id")
    )


def _term_freq_sql(d: Dialect) -> str:
    """tok -> tf: the count of each non-empty term per document."""
    return f"""tok AS (
  SELECT doc_id, {d.fn('unnest', d.fn('string_split', 'text', "' '"))} AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM tok WHERE term != '' GROUP BY doc_id, term
)"""


def _repetition_sql(d: Dialect) -> str:
    return f"""
WITH {_term_freq_sql(d)},
rolled AS (
  SELECT doc_id,
         CAST(SUM(tf) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_distinct,
         MAX(tf) AS top_tf
  FROM tf GROUP BY doc_id
),
top AS (
  SELECT doc_id, term AS top_term
  FROM (SELECT doc_id, term,
               row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, term) AS rn
        FROM tf)
  WHERE rn = 1
)
SELECT r.doc_id, r.n_tokens, r.n_distinct, t.top_term, r.top_tf,
       {r6_sql('CAST(r.top_tf AS DOUBLE) / r.n_tokens')} AS repetition_ratio,
       {r6_sql('CAST(r.n_distinct AS DOUBLE) / r.n_tokens')} AS distinct_ratio
FROM rolled r JOIN top t USING (doc_id)
ORDER BY r.doc_id
"""


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram language-model score per document: the mean
    log-probability of the document's tokens under the corpus's own
    unigram distribution — the cheap statistical stand-in for
    perplexity-based quality filtering (a KenLM-style gate without an
    external model: gibberish and rare-token spam score low, fluent
    boilerplate scores high).

    Determinism across engines: each term's ``ln(ctf/total)`` is
    rounded to 6 dp and quantized to integer micro-nats BEFORE the
    per-doc sum, so the sum is exact BIGINT arithmetic (no
    float-accumulation order anywhere); the final mean is one division
    of exact integers (the emb_label_centroid trick).

    Scale: same shuffle profile as TF-IDF — tf keyed by (doc, term),
    corpus term frequencies keyed by term, vocabulary joined back by
    term as a regular shuffle join (NOT broadcast — web vocabularies
    are billions of terms); the one-row corpus total is broadcast.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_tokens()).alias("term")).filter(
        F.col("term") != ""
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    ctf = tf.groupBy("term").agg(F.sum("tf").alias("ctf"))
    total = ctf.agg(F.sum("ctf").alias("total"))
    scored = (
        tf.join(ctf, "term")
        .join(F.broadcast(total))
        .withColumn(
            "micronats",
            F.expr(
                f"cast(round({r6_sql('ln(cast(ctf as double) / cast(total as double))')}"
                " * 1000000.0) as bigint)"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("micronats")).alias("sum_micronats"),
        )
        .select(
            "doc_id",
            "n_tokens",
            _r6(
                F.col("sum_micronats").cast("double")
                / (F.col("n_tokens") * F.lit(1000000.0))).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


def _unigram_logprob_sql(d: Dialect) -> str:
    return f"""
WITH {_term_freq_sql(d)},
ctf AS (SELECT term, SUM(tf) AS ctf FROM tf GROUP BY term),
tot AS (SELECT SUM(ctf) AS total FROM ctf),
scored AS (
  SELECT tf.doc_id, tf.tf,
         CAST(round({r6_sql('''ln(CAST(ctf.ctf AS DOUBLE)
              / CAST(tot.total AS DOUBLE))''')} * 1000000.0) AS BIGINT)
           AS micronats
  FROM tf JOIN ctf USING (term) CROSS JOIN tot
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_tokens,
       {r6_sql(f'''CAST(SUM(tf * micronats) AS DOUBLE)
             / (SUM(tf) * 1000000.0{d.D})''')} AS avg_logprob
FROM scored
GROUP BY doc_id
ORDER BY doc_id
"""


#: BPE-ish pre-token classes (GPT-2's pre-tokenizer splits on exactly
#: these three run types before byte-pair merging). Kept as three
#: independent character-class regexes — lookahead-free, so Java
#: (Spark) and RE2 (DuckDB) extract identical runs.
_RUN_LETTER = r"[\p{L}]+"
_RUN_DIGIT = r"[\p{N}]+"
_RUN_PUNCT = r"[^\s\p{L}\p{N}]+"

#: chars-per-merged-piece divisors: a trained BPE merges letter runs
#: to ~1 piece per 6 chars, splits digit runs ~every 3, groups
#: punctuation ~every 3 (repeated '....' merges)
_DIV_LETTER, _DIV_DIGIT, _DIV_PUNCT = 6, 3, 3


def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style token-count estimate per document — the budgeting
    number a training pipeline actually plans with (whitespace counts
    undercount code/punctuation-heavy text badly).

    Method: GPT-2's pre-tokenizer run classes (letter / digit /
    other-non-space runs) counted with three character-class regexes;
    each run contributes ceil(len/divisor) estimated merge-pieces
    (integer arithmetic — engine-exact; a real BPE table is a model
    artifact, the ESTIMATOR is what belongs in the engine).

    Scale: map-only over the text column, regex + integer folds inside
    codegen, no shuffle, no UDF.
    """
    docs = load_table(spark, sf_dir, "documents")

    def runs(pat: str) -> F.Column:
        return F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0))

    # integer ceil via (len + div - 1) div div, all in int domain
    def pieces_int(pat: str, div: int) -> F.Column:
        return F.aggregate(
            F.transform(
                runs(pat),
                lambda x: ((F.length(x) + F.lit(div - 1)) - ((F.length(x) + F.lit(div - 1)) % F.lit(div))) / F.lit(div),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x.cast("long"),
        )

    n_letter = F.size(runs(_RUN_LETTER))
    n_digit = F.size(runs(_RUN_DIGIT))
    n_punct = F.size(runs(_RUN_PUNCT))
    est = (
        pieces_int(_RUN_LETTER, _DIV_LETTER)
        + pieces_int(_RUN_DIGIT, _DIV_DIGIT)
        + pieces_int(_RUN_PUNCT, _DIV_PUNCT)
    )
    return docs.select(
        "doc_id",
        n_letter.cast("long").alias("n_letter_runs"),
        n_digit.cast("long").alias("n_digit_runs"),
        n_punct.cast("long").alias("n_punct_runs"),
        est.alias("est_bpe_tokens"),
    ).orderBy("doc_id")


def _bpe_sum(d: Dialect, pat: str, div: int) -> str:
    runs = d.regexp_extract_all("text", d.str_lit(pat))
    pieces = d.fn("list_transform", runs, f"x -> {d.idiv(f'(length(x) + {div - 1})', div)}")
    return f"COALESCE({d.list_sum(pieces, '0L')}, 0)"


def _bpe_sql(d: Dialect) -> str:
    return f"""
SELECT doc_id,
       CAST({d.fn('len', d.regexp_extract_all('text', d.str_lit(_RUN_LETTER)))} AS BIGINT) AS n_letter_runs,
       CAST({d.fn('len', d.regexp_extract_all('text', d.str_lit(_RUN_DIGIT)))} AS BIGINT) AS n_digit_runs,
       CAST({d.fn('len', d.regexp_extract_all('text', d.str_lit(_RUN_PUNCT)))} AS BIGINT) AS n_punct_runs,
       CAST({_bpe_sum(d, _RUN_LETTER, _DIV_LETTER)}
          + {_bpe_sum(d, _RUN_DIGIT, _DIV_DIGIT)}
          + {_bpe_sum(d, _RUN_PUNCT, _DIV_PUNCT)} AS BIGINT) AS est_bpe_tokens
FROM documents
ORDER BY doc_id
"""


QUERIES = {
    "text_bpe_token_estimate": text_bpe_token_estimate,
    "text_chunks": text_chunks,
    "text_unigram_logprob": text_unigram_logprob,
    "text_repetition": text_repetition,
    "text_token_stats": text_token_stats,
    "text_quality_score": text_quality_score,
    "lang_id_stopword": lang_id_stopword,
    "doc_fingerprint": doc_fingerprint,
    "text_top_terms": text_top_terms,
    "text_tfidf_top_term": text_tfidf_top_term,
}

TEMPLATES = {
    "text_bpe_token_estimate": _bpe_sql,
    "text_chunks": _chunks_sql,
    "text_unigram_logprob": _unigram_logprob_sql,
    "text_repetition": _repetition_sql,
    "text_token_stats": _token_stats_sql,
    "text_quality_score": _quality_score_sql,
    "lang_id_stopword": _lang_id_sql,
    "doc_fingerprint": _fingerprint_sql,
    "text_top_terms": _top_terms_sql,
    "text_tfidf_top_term": _tfidf_sql,
}
