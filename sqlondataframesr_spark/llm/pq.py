"""Product quantization (PQ) — compressed-domain vector search
(Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011; the FAISS IndexPQ shape).

North-star vector-infrastructure operators (the reference,
RDataFramesSQL.Rmd:60-704, has no vector surface). PQ splits each
64-d vector into M_SUB=8 subvectors of 8 dims, quantizes each against
a per-subspace codebook of KSUB=16 codewords, and stores only the 8
code bytes — a 32x compression of float32 storage. Search runs in the
compressed domain via ADC (asymmetric distance computation): per query
build an M_SUB x KSUB lookup table of exact subspace distances, then a
candidate's approximate distance is just 8 table lookups summed.

Codebook: the subvectors of the first KSUB vectors by id — the same
deterministic stand-in convention as ann_ivf_topk (codebook QUALITY is
orthogonal to the encode/ADC machinery these operators pin;
kmeans-trained codebooks plug into the identical plan, as
ann_ivf_trained demonstrates for the coarse quantizer).

Determinism: subspace distances are squared-L2, rounded to 6 dp and
quantized to integer micro-units BEFORE any sum (exact BIGINT adds in
any order — the repo-standard trick); argmin tie-breaks on codeword
id; top-k tie-breaks on neighbor id.

Scale (100 TB posture): the codebook is M_SUB*KSUB = 128 tiny rows —
always broadcast; encode is a map-side broadcast join + one
groupBy(vec_id) (single keyed shuffle of 8 small rows per vector); the
stored codes are 8 ints per vector. ADC scans every encoded vector per
query — that is PQ's contract (make the scan ~free, not skip it); at
corpus scale you compose it with the IVF coarse quantizer
(ann_ivf_topk) so each query scans only probed lists. The LUT
(queries x 128) is broadcast; the only shuffle is the (q, vec) partial
sum, map-combined.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..materialize import materialize
from ..functions import vector as V
from ..functions.dialect import SPARK, Dialect
from ..functions.rounding import r6 as _r6, r6_sql
from .similarity import (
    DIM,
    N_QUERIES,
    NLIST,
    NPROBE,
    TOP_K,
    load_vectors,
    vec_sql,
)

M_SUB = 8
SUB_DIM = 8
KSUB = 16


def _d_us_sql(d: Dialect, a: str, b: str) -> str:
    """Squared-L2 subspace distance in integer micro-units
    (engine-exact)."""
    dist = d.zip_sum(a, b, SUB_DIM, term="({x} - {y}) * ({x} - {y})")
    return f"CAST(round({r6_sql(dist)} * 1000000.0) AS BIGINT)"


def _subvectors(vec: DataFrame) -> DataFrame:
    """(vec_id, m, subv) — M_SUB rows per vector."""
    return vec.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {M_SUB - 1}),"
                f" m -> struct(m as m, slice(v, m * {SUB_DIM} + 1, {SUB_DIM}) as subv))"
            )
        ).alias("e"),
    ).select("vec_id", "e.m", "e.subv")


def _encoded(vec: DataFrame) -> DataFrame:
    """Per (vec_id, m): nearest codeword id and its distance."""
    sub = _subvectors(vec)
    cb = sub.filter(F.col("vec_id") < KSUB).select(
        F.col("vec_id").alias("cw_id"), "m", F.col("subv").alias("cw")
    )
    dist = sub.join(F.broadcast(cb), "m").select(
        "vec_id",
        "m",
        "cw_id",
        F.expr(_d_us_sql(SPARK, "subv", "cw")).alias("d_us"),
    )
    return dist.groupBy("vec_id", "m").agg(
        F.expr("min_by(cw_id, struct(d_us, cw_id))").alias("code"),
        F.min("d_us").alias("d_us"),
    )


def emb_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-encode the corpus: (vec_id, codes, qerr) where codes is the
    comma-joined 8 codeword ids and qerr the total squared-L2
    quantization error."""
    vec = load_vectors(spark, sf_dir)
    return (
        _encoded(vec)
        .groupBy("vec_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(m, code))),"
                " x -> cast(x.code as string)), ',')"
            ).alias("codes"),
            F.sum("d_us").alias("qerr_us"),
        )
        .select(
            "vec_id",
            "codes",
            _r6(F.col("qerr_us").cast("double") / 1000000.0).alias("qerr"),
        )
        .orderBy("vec_id")
    )


def _adc_lookup(vec: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(codes, lut): each vector's code per subspace, and the ADC
    lookup table — each query's distance to every codeword of each
    subspace, in integer micro-units."""
    sub = _subvectors(vec)
    cb = sub.filter(F.col("vec_id") < KSUB).select(
        F.col("vec_id").alias("cw_id"), "m", F.col("subv").alias("cw")
    )
    codes = _encoded(vec).select("vec_id", "m", "code")
    lut = (
        sub.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("q_id"), "m", F.col("subv").alias("qsub"))
        .join(F.broadcast(cb), "m")
        .select(
            "q_id", "m", "cw_id",
            F.expr(_d_us_sql(SPARK, "qsub", "cw")).alias("d_us"),
        )
    )
    return codes, lut


def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-domain top-5 per query (vec_id < N_QUERIES) by ADC:
    approximate distance = sum over subspaces of LUT[m][code_m].

    Output: (q_id, neighbor_id, adc_dist, rnk). Recall < 1 by design
    (quantization error); the oracle replicates the codebook and the
    LUT, pinning the algorithm, not ideal-kNN.
    """
    vec = load_vectors(spark, sf_dir).transform(materialize)
    codes, lut = _adc_lookup(vec)
    approx = (
        codes.join(
            F.broadcast(lut),
            (codes.m == lut.m) & (codes.code == lut.cw_id),
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d_us").alias("dist_us"))
    )
    w = Window.partitionBy("q_id").orderBy("dist_us", "vec_id")
    return (
        approx.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            _r6(F.col("dist_us").cast("double") / 1000000.0).alias("adc_dist"),
            "rnk",
        )
        .orderBy("q_id", "rnk")
    )


#: ADC shortlist size per query before the exact rerank — sized so the
#: coarse stand-in codebook's ranking noise (KSUB=16) still keeps the
#: IVF-exact top-5 in the shortlist (recall-vs-IVF pinned in tests)
ADC_SHORTLIST = 40


def ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with exact refine — the production composition (FAISS
    IndexIVFPQ + refine): coarse quantizer prunes the corpus to NPROBE
    lists per query, ADC ranks ONLY those candidates in the compressed
    domain, the top ADC_SHORTLIST get exact cosine reranked to TOP_K.

    This is the rung the others exist for: ann_ivf_topk prunes but
    scores full vectors; ann_pq_adc compresses but scans everything;
    composed, per query the engine touches ~NPROBE/NLIST of the corpus
    and reads 8 code bytes (not 256 float bytes) per touched vector —
    the only full-width vector reads are the SHORTLIST rerank rows.

    Output: (q_id, neighbor_id, adc_dist, cosine, rnk) — adc_dist kept
    for recall observability. Recall < 1 by design (coarse pruning x
    quantization error); the oracle replicates both stages, pinning
    the algorithm, not ideal-kNN.

    Scale: centroid set (NLIST rows) and LUT (queries x 128) broadcast;
    candidate generation is the probes-to-lists join (each query reads
    NPROBE postings lists); ADC is one groupBy(q, neighbor) over 8-row
    code joins, map-combined; the rerank touches SHORTLIST x queries
    full vectors. No stage shuffles the corpus' float payload.
    """
    vec = load_vectors(spark, sf_dir).transform(materialize)
    # --- IVF coarse stage (stand-in centroids: first NLIST by id,
    # same convention + caveats as ann_ivf_topk) ---
    cent = vec.filter(F.col("vec_id") < NLIST).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    asg_scored = vec.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "c_id",
        F.expr(V.cosine(SPARK, "v", "cv", "nrm", "cn", DIM)).alias("ccos"),
    )
    aw = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.col("c_id"))
    ranked = asg_scored.withColumn("arnk", F.row_number().over(aw))
    asg = ranked.filter(F.col("arnk") == 1).select(
        "vec_id", F.col("c_id").alias("list_id")
    )
    probes = (
        ranked.filter((F.col("vec_id") < N_QUERIES) & (F.col("arnk") <= NPROBE))
        .select(F.col("vec_id").alias("q_id"), F.col("c_id").alias("list_id"))
    )
    cand = (
        asg.join(F.broadcast(probes), "list_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
        .transform(materialize)
    )
    # --- PQ/ADC stage over candidates only ---
    codes, lut = _adc_lookup(vec)
    cand_codes = cand.join(
        codes, cand.neighbor_id == codes.vec_id
    ).select("q_id", "neighbor_id", "m", "code")
    approx = (
        cand_codes.join(
            F.broadcast(lut),
            (cand_codes.q_id == lut.q_id)
            & (cand_codes.m == lut.m)
            & (cand_codes.code == lut.cw_id),
        )
        .drop(lut.q_id)
        .groupBy("q_id", "neighbor_id")
        .agg(F.sum("d_us").alias("dist_us"))
    )
    sw = Window.partitionBy("q_id").orderBy("dist_us", "neighbor_id")
    short = (
        approx.withColumn("srnk", F.row_number().over(sw))
        .filter(F.col("srnk") <= ADC_SHORTLIST)
    )
    # --- exact refine on the shortlist ---
    qv = vec.select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    nv = vec.select(F.col("vec_id").alias("neighbor_id"), "v", "nrm")
    rer = (
        short.join(F.broadcast(qv), "q_id")
        .join(nv, "neighbor_id")
        .select(
            "q_id",
            "neighbor_id",
            _r6(F.col("dist_us").cast("double") / 1000000.0).alias("adc_dist"),
            F.expr(V.cosine(SPARK, "qv", "v", "qn", "nrm", DIM)).alias("cosine"),
        )
    )
    rw = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        rer.withColumn("rnk", F.row_number().over(rw))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "neighbor_id", "adc_dist", "cosine", "rnk")
        .orderBy("q_id", "rnk")
    )


def _ivf_pq_sql(d: Dialect) -> str:
    """Both-stage oracle: IVF probe candidates -> ADC shortlist ->
    exact cosine rerank, unrolled in the target dialect."""
    return (
        "WITH "
        + ",\n".join(_pq_parts(d))
        + f""",
cent AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM vec WHERE vec_id < {NLIST}),
asg_scored AS (
  SELECT vec.vec_id, cent.c_id,
         {V.cosine(d, 'vec.v', 'cent.cv', 'vec.nrm', 'cent.cn', DIM)} AS ccos
  FROM vec CROSS JOIN cent),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY ccos DESC, c_id) AS arnk
  FROM asg_scored),
asg AS (SELECT vec_id, c_id AS list_id FROM ranked WHERE arnk = 1),
probes AS (
  SELECT vec_id AS q_id, c_id AS list_id FROM ranked
  WHERE vec_id < {N_QUERIES} AND arnk <= {NPROBE}),
cand AS (
  SELECT probes.q_id, asg.vec_id AS neighbor_id
  FROM asg JOIN probes USING (list_id)
  WHERE asg.vec_id != probes.q_id),
{_lut_sql(d)},
approx AS (
  SELECT c.q_id, c.neighbor_id, SUM(lut.d_us) AS dist_us
  FROM cand c
  JOIN best ON best.vec_id = c.neighbor_id
  JOIN lut ON lut.q_id = c.q_id AND lut.m = best.m AND lut.cw_id = best.code
  GROUP BY c.q_id, c.neighbor_id),
short AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY dist_us, neighbor_id) AS srnk
  FROM approx),
rer AS (
  SELECT s.q_id, s.neighbor_id,
         {r6_sql('CAST(s.dist_us AS DOUBLE) / 1000000.0')} AS adc_dist,
         {V.cosine(d, 'q.v', 'c.v', 'q.nrm', 'c.nrm', DIM)} AS cosine
  FROM short s
  JOIN vec q ON q.vec_id = s.q_id
  JOIN vec c ON c.vec_id = s.neighbor_id
  WHERE s.srnk <= {ADC_SHORTLIST}),
r AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM rer)
SELECT q_id, neighbor_id, adc_dist, cosine, rnk FROM r WHERE rnk <= {TOP_K}
ORDER BY q_id, rnk"""
    )


def _pq_parts(d: Dialect) -> list[str]:
    """Shared CTE list: vec -> sub -> cb -> dist -> best (per-vector
    per-subspace nearest codeword)."""
    subv = d.slice("(v)", f"t.m * {SUB_DIM} + 1", f"t.m * {SUB_DIM} + {SUB_DIM}", SUB_DIM, sep=" : ")
    sub = f"SELECT vec_id, t.m AS m, {subv} AS subv FROM vec, range(0, {M_SUB}) t(m)"
    return [
        f"vec AS ({vec_sql(d)})",
        f"sub AS ({sub})",
        f"cb AS (SELECT vec_id AS cw_id, m, subv AS cw FROM sub WHERE vec_id < {KSUB})",
        f"""dist AS (
  SELECT s.vec_id, s.m, cb.cw_id,
         {_d_us_sql(d, 's.subv', 'cb.cw')} AS d_us
  FROM sub s JOIN cb ON s.m = cb.m)""",
        """best AS (
  SELECT vec_id, m, cw_id AS code, d_us
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d_us, cw_id) AS brnk
        FROM dist)
  WHERE brnk = 1)""",
    ]


def _lut_sql(d: Dialect) -> str:
    """The oracle twin of :func:`_adc_lookup`'s ``lut``."""
    return f"""lut AS (
  SELECT q.vec_id AS q_id, q.m, cb.cw_id,
         {_d_us_sql(d, 'q.subv', 'cb.cw')} AS d_us
  FROM sub q JOIN cb ON q.m = cb.m
  WHERE q.vec_id < {N_QUERIES})"""


def _pq_encode_sql(d: Dialect) -> str:
    codes = d.string_agg(d.cast_str("code"), "','", "m")
    return (
        "WITH "
        + ",\n".join(_pq_parts(d))
        + f"""
SELECT vec_id, {codes} AS codes,
       {r6_sql('CAST(SUM(d_us) AS DOUBLE) / 1000000.0')} AS qerr
FROM best GROUP BY vec_id ORDER BY vec_id"""
    )


def _pq_adc_sql(d: Dialect) -> str:
    return (
        "WITH "
        + ",\n".join(_pq_parts(d))
        + f""",
{_lut_sql(d)},
approx AS (
  SELECT lut.q_id, best.vec_id, SUM(lut.d_us) AS dist_us
  FROM best JOIN lut ON best.m = lut.m AND best.code = lut.cw_id
  WHERE best.vec_id != lut.q_id
  GROUP BY lut.q_id, best.vec_id),
r AS (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY dist_us, vec_id) AS rnk
  FROM approx)
SELECT q_id, vec_id AS neighbor_id,
       {r6_sql('CAST(dist_us AS DOUBLE) / 1000000.0')} AS adc_dist, rnk
FROM r WHERE rnk <= {TOP_K} ORDER BY q_id, rnk"""
    )


QUERIES = {
    "emb_pq_encode": emb_pq_encode,
    "ann_pq_adc": ann_pq_adc,
    "ann_ivf_pq_topk": ann_ivf_pq_topk,
}
TEMPLATES = {
    "emb_pq_encode": _pq_encode_sql,
    "ann_pq_adc": _pq_adc_sql,
    "ann_ivf_pq_topk": _ivf_pq_sql,
}
