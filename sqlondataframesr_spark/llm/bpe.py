"""BPE tokenizer training on-cluster: learn the top merge operations
over the corpus (Sennrich et al. 2016, the algorithm behind GPT/LLaMA
tokenizers) — the missing half of ``text.bpe_token_estimate``, which
only APPLIES a tokenization heuristic.

Algorithm (byte-pair encoding over word types):

1. word-frequency table: lowercase, split on non-letters, count;
2. each word becomes a symbol sequence (initially characters);
3. repeat MERGES times: count adjacent symbol pairs weighted by word
   frequency, pick the most frequent pair (ties: lexicographically
   smallest), fuse every adjacent occurrence greedily left-to-right.

Output: the learned merge table (rank, left, right, pair_count) — the
artifact a tokenizer ships.

Representation trick (shared with the DuckDB oracle so EXACT hashing
holds): a word's symbol sequence is its symbols joined by TWO spaces.
With one pad space on each end, every symbol owns one space on each
side, so fusing pair (l, r) is a single engine-native ``replace`` of
``' l  r '`` with ``' lr '`` — adjacent occurrences don't share
delimiter characters, so plain left-to-right non-overlapping replace
implements exactly the greedy BPE merge ('a a a' + (a,a) -> [aa, a])
with no UDF and no fold. Both engines' ``replace`` have identical
left-to-right semantics; counts are integer-exact; the argmax
tie-break (count DESC, left, right) is total — bit-for-bit
reproducible.

Scale (100 TB posture): the corpus collapses to its word-TYPE
frequency table after one shuffle (vocabulary ~10^7 rows regardless of
corpus size — Heaps' law), so every merge round runs on the small
type table: one groupBy on (left, right) pairs plus a 1-row broadcast
of the chosen merge. MERGES rounds = MERGES small shuffles; real
tokenizer training (32k merges) would checkpoint the type table every
few hundred rounds, exactly like the pagerank/kmeans unrolled loops
here (operators/graph.py, llm/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..materialize import materialize, spread_scan
from ..catalog import load_table
from ..functions.dialect import Dialect

#: number of merge rounds to learn (real tokenizers: ~32k; unrolled
#: here like the pagerank iterations, enough to pin the algorithm)
MERGES = 4

#: minimum word length — 1-char words have no pair and no merge vote
MIN_WORD_LEN = 2


def _word_freqs(docs: DataFrame) -> DataFrame:
    """(word, freq): lowercase [a-z]+ word types with corpus counts."""
    return (
        spread_scan(docs, "doc_id")
        .select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word"))
        .filter(F.length("word") >= MIN_WORD_LEN)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _pair_counts(w: DataFrame) -> DataFrame:
    """Adjacent-pair counts over the double-space symbol encoding."""
    return (
        w.withColumn("l", F.split("sp", "  "))
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(l, 1, size(l) - 1), slice(l, 2, size(l) - 1),"
                    " (a, b) -> struct(a AS lft, b AS rgt))"
                )
            ).alias("p"),
            "freq",
        )
        .groupBy("p.lft", "p.rgt")
        .agg(F.sum("freq").alias("cnt"))
    )


def _learn_merges(docs: DataFrame) -> DataFrame:
    """Merge table over an arbitrary (doc_id, text) frame — body of
    :func:`bpe_learn_merges`, split out for planted-corpus tests."""
    merges, _ = _merge_chain(docs)
    out = merges[0]
    for m in merges[1:]:
        out = out.union(m)
    return out.orderBy("merge_rank")


def _merge_chain(docs: DataFrame):
    """Run the MERGES learning rounds; return (per-round merge-table
    DataFrames, the word-type table with ALL merges applied). The
    second element is what :func:`bpe_apply_token_counts` consumes —
    training and application share one chain."""
    w = (
        _word_freqs(docs)
        .select(
            "word",
            F.expr("trim(regexp_replace(word, '(.)', '$1  '))").alias("sp"),
            "freq",
        )
        .transform(materialize)
    )
    merges = []
    for i in range(MERGES):
        best = (
            _pair_counts(w)
            .orderBy(F.desc("cnt"), "lft", "rgt")
            .limit(1)
            .transform(materialize)
        )
        merges.append(
            best.select(
                F.lit(i + 1).alias("merge_rank"),
                F.col("lft").alias("left_sym"),
                F.col("rgt").alias("right_sym"),
                F.col("cnt").alias("pair_count"),
            )
        )
        w = (
            w.crossJoin(F.broadcast(best.select("lft", "rgt")))
            .select(
                "word",
                F.expr(
                    "trim(replace(concat(' ', sp, ' '),"
                    " concat(' ', lft, '  ', rgt, ' '),"
                    " concat(' ', lft, rgt, ' ')))"
                ).alias("sp"),
                "freq",
            )
            .transform(materialize)
        )
    return merges, w


def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the top-4 BPE merges over ``documents`` (see module doc).

    Returns (merge_rank, left_sym, right_sym, pair_count) ordered by
    rank — the merge table a tokenizer would persist.
    """
    return _learn_merges(load_table(spark, sf_dir, "documents"))


def bpe_apply_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-apply: tokenize every document with the merges just
    learned, returning per-doc (n_words, n_tokens) — the end-to-end
    artifact (how many BPE tokens is my corpus?) that drives packing
    budgets and compute estimates.

    Application is a JOIN, not a re-scan: merges act on word TYPES, so
    the fully-merged type table maps word -> post-merge symbol count
    once, and documents aggregate over their word occurrences against
    that map. At 100 TB the map is the (small) vocabulary — broadcast —
    and the apply pass is the same one shuffle as any per-doc count.
    Words under MIN_WORD_LEN are outside the trained population and
    excluded from both counts (same contract as learning).
    """
    docs = load_table(spark, sf_dir, "documents")
    _, merged = _merge_chain(docs)
    wmap = merged.select(
        "word",
        F.size(F.split("sp", "  ")).cast("bigint").alias("n_sym"),
    )
    occ = (
        spread_scan(docs, "doc_id")
        .select(
            "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word")
        )
        .filter(F.length("word") >= MIN_WORD_LEN)
    )
    return (
        occ.join(wmap, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


#: the symbol separator of a spaced word
_SEP = "'  '"


def _bpe_sql(d: Dialect, mode: str = "learn") -> str:
    """Unrolled CTE chain for the identical computation. mode='learn':
    emit the merge table; mode='apply': emit per-doc post-merge token
    counts from the fully-merged type table."""
    tokens = d.fn("unnest", d.fn("regexp_split_to_array", "lower(text)", "'[^a-z]+'"))
    words = f"""
  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT {tokens} AS w
        FROM documents)
  WHERE length(w) >= 2
  GROUP BY w"""
    spaced = d.regexp_replace_all("word", "'(.)'", f"'{d.backref(1)}  '")
    w0 = f"SELECT word, trim({spaced}) AS sp, freq FROM words"
    n = d.fn("len", "l")
    lft, rgt = d.slice("l", 1, f"{n}-1", f"{n} - 1"), d.slice("l", 2, n, f"{n} - 1")
    pairs = (
        f"SELECT {d.unnest_zip((lft, 'lft'), (rgt, 'rgt'))}, freq"
        f" FROM (SELECT {d.fn('string_split', 'sp', _SEP)} AS l, freq FROM {{w}})"
    )
    cnt = "CAST(SUM(freq) AS BIGINT)"
    n_sym = f"CAST({d.fn('len', d.fn('string_split', 'sp', _SEP))} AS BIGINT)"
    occ = f"""
  SELECT doc_id, w AS word
  FROM (SELECT doc_id, {tokens} AS w
        FROM documents)
  WHERE length(w) >= 2"""
    agg = "CAST(COUNT(*) AS BIGINT) AS n_words, CAST(SUM(map.n_sym) AS BIGINT) AS n_tokens"
    ctes = [f"words AS ({words})", f"w0 AS ({w0})"]
    for i in range(MERGES):
        ctes.append(
            f"c{i} AS (SELECT lft, rgt, {cnt} AS cnt"
            f" FROM ({pairs.format(w=f'w{i}')}) GROUP BY lft, rgt)"
        )
        ctes.append(
            f"b{i} AS (SELECT lft, rgt, cnt FROM c{i}"
            " ORDER BY cnt DESC, lft, rgt LIMIT 1)"
        )
        ctes.append(
            f"w{i + 1} AS (SELECT word, trim(replace(' ' || sp || ' ',"
            f" ' ' || b.lft || '  ' || b.rgt || ' ',"
            f" ' ' || b.lft || b.rgt || ' ')) AS sp, freq FROM w{i}, b{i} b)"
        )
    if mode == "learn":
        tail = "\nUNION ALL\n".join(
            f"SELECT {i + 1} AS merge_rank, lft AS left_sym, rgt AS right_sym,"
            f" cnt AS pair_count FROM b{i}"
            for i in range(MERGES)
        ) + "\nORDER BY merge_rank"
    else:
        ctes.append(f"occ AS ({occ})")
        ctes.append(f"map AS (SELECT word, {n_sym} AS n_sym FROM w{MERGES})")
        tail = (
            f"SELECT occ.doc_id, {agg}\n"
            "FROM occ JOIN map USING (word)\n"
            "GROUP BY occ.doc_id\nORDER BY doc_id"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + tail


QUERIES = {
    "bpe_learn_merges": bpe_learn_merges,
    "bpe_apply_token_counts": bpe_apply_token_counts,
}
TEMPLATES = {
    "bpe_learn_merges": _bpe_sql,
    "bpe_apply_token_counts": lambda d: _bpe_sql(d, mode="apply"),
}
