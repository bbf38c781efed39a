"""DSIR — Data Selection via Importance Resampling (Xie et al.,
arXiv:2302.03169): score every raw-corpus document by how much more
likely its hashed n-gram bag is under a small TARGET distribution than
under the RAW corpus distribution; high scorers are what you keep when
you want "more data that looks like the target".

North-star training-pipeline operator (the reference,
RDataFramesSQL.Rmd:60-704, has no corpus-selection surface). The
published recipe, faithfully transplanted:

- features = unigrams + bigrams of the whitespace tokenization, hashed
  into ``N_BUCKETS`` buckets (the paper's "hashed n-gram" bag; hashing
  bounds the feature space no matter how large the vocabulary);
- two bag-of-features multinomials with Laplace (+1) smoothing: one on
  the target slice, one on the raw corpus;
- per-document log importance weight
  ``sum_f count_f(x) * (ln p_target(f) - ln p_raw(f))``.

The target here is the deterministic pseudo-eval slice
(doc_id % EVAL_MOD == 0 — same convention as llm/decontam.py) so the
operator is self-contained on the driver's tables; in production the
target is an external high-quality corpus and the same plan applies.

Determinism across engines: each feature's log-ratio is rounded to
6 dp and quantized to integer micro-nats BEFORE the per-doc sum
(exact BIGINT arithmetic — the text_unigram_logprob trick), and the
feature hash is the repo-standard md5-prefix bucket, evaluated
identically by Spark and DuckDB.

Scale (100 TB posture): token/bigram explosion is map-side; the
feature-count aggregates shuffle on a key space capped at N_BUCKETS
(the paper's own trick — the stats table CANNOT grow with the corpus),
so the log-ratio table is a guaranteed-tiny broadcast back onto the
per-doc feature stream; the only corpus-sized shuffles are the two
(doc_id, feat) keyed aggregations. N_BUCKETS scales to ~10k in the
paper — still broadcastable at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..materialize import materialize, spread_scan
from ..functions.dialect import SPARK, Dialect
from ..functions.rounding import r6 as _r6, r6_sql
from .decontam import EVAL_MOD
from .text import words_sql

#: hashed feature-space size (paper uses 10k; small here so the tiny
#: test corpus still populates most buckets)
N_BUCKETS = 256

def _feats_sql(d: Dialect) -> str:
    """Unigrams + bigrams ("a_b") of the repo-standard tokens — the
    DSIR hashed-ngram feature bag."""
    w = words_sql(d)
    bigram = f"{d.at(w, 'i')} || '_' || {d.at(w, 'i + 1')}"
    return d.fn("list_concat", w, d.comp(bigram, "i", d.seq(1, d.fn("len", w))))


def _hash_sql(d: Dialect) -> str:
    """The hashed feature bucket of ``f`` (non-negative hash: ``%`` is
    ``pmod``)."""
    return f"({d.hex_bigint('substr(md5(f), 1, 8)')} % {N_BUCKETS})"


def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per raw-corpus document: hashed-feature count and DSIR log
    importance weight vs the target slice.

    Output: (doc_id, n_feats, log_weight) for every doc_id %
    EVAL_MOD != 0, ordered by doc_id; docs with no tokens weigh 0.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    feat = (
        spread_scan(docs, "doc_id")
        .select("doc_id", F.explode(F.expr(_feats_sql(SPARK))).alias("f"))
        .select("doc_id", F.expr(_hash_sql(SPARK)).alias("feat"))
    )
    # pinned: dcnt feeds FIVE branches (target/raw counts, their two
    # totals, and the per-doc scoring join) — unpinned, the md5
    # feature-hash pass re-runs once per branch
    dcnt = materialize(
        feat.groupBy("doc_id", "feat").agg(F.count(F.lit(1)).alias("cnt"))
    )

    is_eval = F.col("doc_id") % EVAL_MOD == 0
    tcnt = dcnt.filter(is_eval).groupBy("feat").agg(F.sum("cnt").alias("tcnt"))
    rcnt = dcnt.filter(~is_eval).groupBy("feat").agg(F.sum("cnt").alias("rcnt"))
    totals = (
        tcnt.agg(F.coalesce(F.sum("tcnt"), F.lit(0)).alias("t_total"))
        .crossJoin(rcnt.agg(F.coalesce(F.sum("rcnt"), F.lit(0)).alias("r_total")))
    )
    # log-ratio table: <= N_BUCKETS rows regardless of corpus size
    lr = (
        tcnt.join(rcnt, "feat", "full")
        .crossJoin(F.broadcast(totals))
        .select(
            "feat",
            F.expr(
                "cast(round("
                + r6_sql(
                    f" ln((coalesce(tcnt, 0) + 1) / cast(t_total + {N_BUCKETS} as double))"
                    f" - ln((coalesce(rcnt, 0) + 1) / cast(r_total + {N_BUCKETS} as double))"
                )
                + " * 1000000.0) as bigint)"
            ).alias("lr_us"),
        )
    )
    scored = (
        dcnt.filter(~is_eval)
        .join(F.broadcast(lr), "feat")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("lr_us")).alias("w_us"),
        )
    )
    return (
        docs.filter(~is_eval)
        .select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            _r6(
                F.coalesce("w_us", F.lit(0)).cast("double") / 1000000.0).alias("log_weight"),
        )
        .orderBy("doc_id")
    )


def _importance_sql(d: Dialect) -> str:
    return f"""
WITH feat AS (
  SELECT doc_id, {_hash_sql(d)} AS feat
  FROM (SELECT doc_id, {d.fn('unnest', _feats_sql(d))} AS f FROM documents)
),
dcnt AS (
  SELECT doc_id, feat, COUNT(*) AS cnt FROM feat GROUP BY doc_id, feat
),
tcnt AS (SELECT feat, SUM(cnt) AS tcnt FROM dcnt
         WHERE doc_id % {EVAL_MOD} = 0 GROUP BY feat),
rcnt AS (SELECT feat, SUM(cnt) AS rcnt FROM dcnt
         WHERE doc_id % {EVAL_MOD} != 0 GROUP BY feat),
totals AS (
  SELECT (SELECT COALESCE(SUM(tcnt), 0) FROM tcnt) AS t_total,
         (SELECT COALESCE(SUM(rcnt), 0) FROM rcnt) AS r_total
),
lr AS (
  SELECT COALESCE(t.feat, r.feat) AS feat,
         CAST(round({r6_sql(f'''
           ln((COALESCE(t.tcnt, 0) + 1) / CAST(tt.t_total + {N_BUCKETS} AS DOUBLE))
           - ln((COALESCE(r.rcnt, 0) + 1) / CAST(tt.r_total + {N_BUCKETS} AS DOUBLE))''')} * 1000000.0) AS BIGINT) AS lr_us
  FROM tcnt t FULL JOIN rcnt r ON t.feat = r.feat CROSS JOIN totals tt
),
scored AS (
  SELECT dcnt.doc_id, SUM(dcnt.cnt) AS n_feats,
         SUM(dcnt.cnt * lr.lr_us) AS w_us
  FROM dcnt JOIN lr USING (feat)
  WHERE dcnt.doc_id % {EVAL_MOD} != 0
  GROUP BY dcnt.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.n_feats, 0) AS BIGINT) AS n_feats,
       {r6_sql('CAST(COALESCE(s.w_us, 0) AS DOUBLE) / 1000000.0')} AS log_weight
FROM documents d LEFT JOIN scored s USING (doc_id)
WHERE d.doc_id % {EVAL_MOD} != 0
ORDER BY d.doc_id
"""

QUERIES = {"dsir_importance": dsir_importance}
TEMPLATES = {
    "dsir_importance": _importance_sql,
}
