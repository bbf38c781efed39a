"""BM25 lexical retrieval over ``documents`` — the inverted-index
ranking path that complements the embedding ANN rungs (production
retrieval stacks run both and fuse).

Okapi BM25 (Robertson/Sparck Jones; the +1 idf variant Lucene uses so
idf stays positive):

    idf(t)      = ln((N - df + 0.5) / (df + 0.5) + 1)
    score(q, d) = Σ_{t ∈ q ∩ d} idf(t) · tf / (tf + k1·(1 - b + b·dl/avgdl))

Determinism: tf/df/dl are exact integers; avgdl is one exact-sum
division; each per-term contribution uses the IDENTICAL scalar
expression text in Spark and DuckDB. The arithmetic ops (+,-,*,/) are
IEEE-exact and order-identical in a scalar chain, but ``ln()`` is a
transcendental with no IEEE-mandated result: JVM ``Math.log`` and
DuckDB's libm may differ by an ulp, so a per-term contribution sitting
exactly on a 0.5-microunit boundary can still quantize one microunit
apart across engines (ADVICE r7 — reduced, not eliminated, risk).
What the quantization DOES fix outright is float-SUM accumulation
order (Spark partitions vs DuckDB, ADVICE r6): contributions become
integer micro-units (round(contrib·1e6) AS BIGINT, the pq.py
``_D_US`` discipline), the aggregate is an order-independent exact
BIGINT sum, and the final round(6) + doc_id tie-break absorb the
residual 1-microunit ln() exposure in every observed case.

Scale: the classic BM25 plan — a postings list (term, doc, tf) built
once (one shuffle on term for df, one on doc for dl), query terms
BROADCAST into the postings join, per-(query, doc) partial-aggregated
scores, top-k per query. The corpus never joins itself; hot terms are
bounded by the df they contribute (a stopword's postings are long but
its idf → 0; production adds a df cap like dedup's SHINGLE_DF_CAP).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..materialize import materialize, spread_scan
from ..functions.dialect import Dialect
from ..functions.rounding import r6 as _r6

K1 = 1.2
B = 0.75
#: query set: the terms of documents with doc_id < BM25_N_QUERIES
BM25_N_QUERIES = 5
BM25_TOP_K = 5


def bm25_postings(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(postings, dl) — the inverted-index frames every ranker in the
    family shares. The corpus is tokenized ONCE: ``tf`` is the cached
    root and ``dl`` is derived from it (Σ tf per doc ≡ token count per
    doc, exact integers), so no consumer re-runs the explode. Both
    ``tf`` and ``postings`` are materialized with plan-identical
    construction across bm25_topk / ql_dirichlet_topk /
    hybrid_rrf_topk — Spark's CacheManager dedupes by canonicalized
    plan, so within one action (ret_rank_agreement's report, VERDICT
    r11 item 5) the three arms share ONE tokenization scan and ONE
    postings build."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    # postings: exact tf per (doc, term) + exact doc length
    tf = materialize(
        toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    return materialize(tf.join(dl, "doc_id")), dl


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    postings, dl = bm25_postings(spark, sf_dir)
    # r13: the collection size rides as a 1-row broadcast column
    # instead of an eager docs.count() — that count was a whole
    # driver-blocking job on EVERY call (also paid by hybrid_rrf_topk
    # and ret_rank_agreement, which compose this arm). The idf
    # arithmetic is unchanged: a BIGINT n_docs enters the identical
    # double expression the int literal did.
    n_docs_df = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    avgdl_df = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl")
    )
    df_ = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    q_terms = (
        postings.filter(F.col("doc_id") < BM25_N_QUERIES)
        .select(F.col("doc_id").alias("q_id"), "term")
        .distinct()
    )
    scored = (
        postings.join(F.broadcast(q_terms), "term")
        .filter(F.col("doc_id") != F.col("q_id"))
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(avgdl_df))
        .crossJoin(F.broadcast(n_docs_df))
        .withColumn(
            # integer micro-units: the scalar chain is engine-identical,
            # the quantized BIGINT sum is accumulation-order-independent
            "contrib_us",
            F.expr(
                f"cast(round((ln((n_docs - df + 0.5) / (df + 0.5) + 1)"
                f" * tf / (tf + {K1} * (1 - {B} + {B} * dl / avgdl)))"
                " * 1000000.0) as bigint)"
            ),
        )
        .groupBy("q_id", "doc_id")
        .agg(
            _r6(
                F.sum("contrib_us").cast("double") / F.lit(1000000.0)).alias("score")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= BM25_TOP_K)
        .select("q_id", "doc_id", "score", "rnk")
        .orderBy("q_id", "rnk")
    )


def _toks(d: Dialect) -> str:
    return d.fn("unnest", d.fn("string_split", "text", "' '"))


def bm25_ctes(d: Dialect) -> str:
    """The shared CTE chain (everything WITH..r); reused by the
    hybrid-RRF SQL."""
    return f"""toks AS (
  SELECT doc_id, {_toks(d)} AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
postings AS (SELECT tf.doc_id, tf.term, tf.tf, dl.dl FROM tf JOIN dl USING (doc_id)),
stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
dfreq AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
q_terms AS (
  SELECT DISTINCT doc_id AS q_id, term FROM postings
  WHERE doc_id < {BM25_N_QUERIES}
),
scored AS (
  SELECT q.q_id, p.doc_id,
         round(CAST(SUM(CAST(round((
           ln((n.n_docs - f.df + 0.5) / (f.df + 0.5) + 1)
           * p.tf / (p.tf + {K1} * (1 - {B} + {B} * p.dl / s.avgdl))
         ) * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0, 6) AS score
  FROM postings p
  JOIN q_terms q ON p.term = q.term AND p.doc_id != q.q_id
  JOIN dfreq f ON f.term = p.term
  CROSS JOIN stats s CROSS JOIN n
  GROUP BY q.q_id, p.doc_id
),
bm25_ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY score DESC, doc_id ASC) AS rnk
  FROM scored
)"""


BM25_FINAL_SELECT = (
    "SELECT q_id, doc_id, score, rnk FROM bm25_ranked"
    " WHERE rnk <= {k} ORDER BY q_id, rnk".format(k=BM25_TOP_K)
)


def _bm25_sql(d: Dialect) -> str:
    return "WITH " + bm25_ctes(d) + "\n" + BM25_FINAL_SELECT

#: Dirichlet smoothing mass (Zhai & Lafferty's classic default)
QL_MU = 2000


def ql_dirichlet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty, SIGIR 2001 — public), the language-model ranking that
    complements BM25's tf·idf heuristic:

        score(q, d) = Σ_{{t∈q}} ln((tf + μ·p_c(t)) / (dl + μ))

    decomposed the inverted-index way so absent query terms never
    touch the postings: a per-(query, doc-length) part
    A(q) − |q|·ln(dl + μ) plus a postings bonus
    Σ_{{t∈q∩d}} ln((tf + μ p_c)/(μ p_c)).

    Determinism: each ln() piece is quantized to integer micro-nats
    BEFORE summation (the bm25 contrib_us discipline), so the
    aggregate is an order-independent exact BIGINT sum; candidates
    are docs sharing ≥1 query term (the standard index pruning — the
    doc-level part alone cannot re-rank a zero-overlap doc into the
    top-k here).

    Scale: same plan as BM25 — postings built once, the tiny query
    frame broadcast into the join, partial-aggregated scores, fused
    top-k. The collection LM (cf/|C|) is a vocabulary-keyed aggregate
    joined only to the BROADCAST query terms, never to the corpus.

    Output: (q_id, doc_id, score, rnk) ordered by (q_id, rnk).
    """
    postings, dl = bm25_postings(spark, sf_dir)
    cf = postings.groupBy("term").agg(F.sum("tf").alias("cf"))
    ctot = postings.agg(F.sum("tf").cast("long").alias("ctot"))
    q_terms = (
        postings.filter(F.col("doc_id") < BM25_N_QUERIES)
        .select(F.col("doc_id").alias("q_id"), "term")
        .distinct()
    )
    # per-query constants from the collection LM: A_q = Σ ln(μ p_c),
    # n_q = |q| — the vocabulary table joins the BROADCAST query frame
    q_cf = materialize(
        cf.join(F.broadcast(q_terms), "term")
        .crossJoin(F.broadcast(ctot))
        .withColumn(
            "lnmu_us",
            F.expr(
                f"cast(round(ln({QL_MU} * (cast(cf as double)"
                " / cast(ctot as double))) * 1000000.0) as bigint)"
            ),
        )
    )
    q_const = q_cf.groupBy("q_id").agg(
        F.sum("lnmu_us").alias("a_us"),
        F.count(F.lit(1)).cast("long").alias("n_q"),
    )
    bonus = (
        postings.join(
            F.broadcast(q_cf.select("term", "q_id", "cf", "ctot")),
            "term",
        )
        .filter(F.col("doc_id") != F.col("q_id"))
        .withColumn(
            "bonus_us",
            F.expr(
                f"cast(round(ln((tf + {QL_MU} * (cast(cf as double)"
                " / cast(ctot as double)))"
                f" / ({QL_MU} * (cast(cf as double) / cast(ctot as double))))"
                " * 1000000.0) as bigint)"
            ),
        )
        .groupBy("q_id", "doc_id")
        .agg(F.sum("bonus_us").alias("b_us"))
    )
    scored = (
        bonus.join(F.broadcast(q_const), "q_id")
        .join(dl, "doc_id")
        .selectExpr(
            "q_id",
            "doc_id",
            "round(cast(b_us + a_us"
            f" - n_q * cast(round(ln(dl + {QL_MU}) * 1000000.0) as bigint)"
            " as double) / 1000000.0, 6) as score",
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= BM25_TOP_K)
        .select("q_id", "doc_id", "score", "rnk")
        .orderBy("q_id", "rnk")
    )


def _ql_sql(d: Dialect) -> str:
    pc = "(CAST(c.cf AS DOUBLE) / CAST(ct.ctot AS DOUBLE))"
    return f"""
WITH toks AS (
  SELECT doc_id, {_toks(d)} AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
postings AS (SELECT tf.doc_id, tf.term, tf.tf, dl.dl
             FROM tf JOIN dl USING (doc_id)),
cf AS (SELECT term, SUM(tf) AS cf FROM postings GROUP BY term),
ct AS (SELECT CAST(SUM(tf) AS BIGINT) AS ctot FROM postings),
q_terms AS (
  SELECT DISTINCT doc_id AS q_id, term FROM postings
  WHERE doc_id < {BM25_N_QUERIES}
),
q_cf AS (
  SELECT q.q_id, q.term, c.cf, ct.ctot,
         CAST(round(ln({QL_MU} * {pc}) * 1000000.0) AS BIGINT) AS lnmu_us
  FROM q_terms q JOIN cf c ON c.term = q.term CROSS JOIN ct
),
q_const AS (
  SELECT q_id, CAST(SUM(lnmu_us) AS BIGINT) AS a_us,
         CAST(COUNT(*) AS BIGINT) AS n_q
  FROM q_cf GROUP BY q_id
),
bonus AS (
  SELECT q.q_id, p.doc_id,
         CAST(SUM(CAST(round(ln((p.tf + {QL_MU} * (CAST(q.cf AS DOUBLE)
              / CAST(q.ctot AS DOUBLE)))
              / ({QL_MU} * (CAST(q.cf AS DOUBLE) / CAST(q.ctot AS DOUBLE))))
              * 1000000.0) AS BIGINT)) AS BIGINT) AS b_us
  FROM postings p
  JOIN q_cf q ON p.term = q.term AND p.doc_id != q.q_id
  GROUP BY q.q_id, p.doc_id
),
scored AS (
  SELECT b.q_id, b.doc_id,
         round(CAST(b.b_us + qc.a_us
           - qc.n_q * CAST(round(ln(d.dl + {QL_MU}) * 1000000.0) AS BIGINT)
           AS DOUBLE) / 1000000.0, 6) AS score
  FROM bonus b JOIN q_const qc USING (q_id) JOIN dl d USING (doc_id)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY score DESC, doc_id ASC) AS rnk
  FROM scored
)
SELECT q_id, doc_id, score, rnk FROM ranked
WHERE rnk <= {BM25_TOP_K} ORDER BY q_id, rnk
"""


QUERIES = {"bm25_topk": bm25_topk, "ql_dirichlet_topk": ql_dirichlet_topk}
TEMPLATES = {
    "bm25_topk": _bm25_sql,
    "ql_dirichlet_topk": _ql_sql,
}
