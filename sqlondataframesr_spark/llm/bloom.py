"""Bloom-filter benchmark decontamination — the scale path for
membership prefilters when the eval-set shingle strings are too large
to broadcast raw.

North-star training-pipeline operator (no reference counterpart —
RDataFramesSQL.Rmd:60-704 is batch SQL only). llm/decontam.py
broadcasts the eval set's distinct shingles as STRINGS; that is right
while the eval set is MBs, but a consortium-scale held-out suite (or a
"don't train on my book" opt-out list) can reach billions of n-grams.
The classic answer is a Bloom filter: K hash bits per key into an
M-bit array — the broadcast shrinks from the keys themselves to a
fixed M/8 bytes, at the price of deterministic, hash-driven false
positives.

Everything here is exact-checkable because a Bloom filter is NOT
random: given the same K salted md5 hashes and the same M, both
engines derive bit-for-bit identical filters. The oracle replays
membership set-theoretically (bit p set <=> p in the eval position
set), while the Spark plan packs real 64-bit words and tests bits with
shifts — two implementations, one semantics, which is exactly the
N-version evidence the repo's check protocol wants.

Output contract: per training doc, its shingle count, Bloom-candidate
count, TRUE overlap count (candidates verified against the real eval
shingles — so the final contamination flag is exact, the filter only
prunes the verify join's input), and the contaminated flag at
llm/decontam.py's threshold.

Scale (100 TB posture): the filter build aggregates eval shingles to
<= M/64 words (one tiny keyed shuffle over a bounded key space), then
ONE row broadcasts; the corpus-side bit test is a map-only expression
inside codegen — no corpus shuffle, no UDF. The verify join sees only
Bloom survivors (true matches + ~(1-e^{-KN/M})^K false positives), so
its input is a sliver of the shingle stream. The per-doc counts are
one partial-aggregated groupBy(doc_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..materialize import materialize
from .decontam import CONTAM_THRESHOLD, EVAL_MOD
from ..functions.dialect import Dialect
from .dedup import with_shingles, shingles_sql

#: filter geometry — M sized so the tiny test eval set stays sparse
#: (~2k eval shingles at sf0.01 -> ~1.5 bits/key load with K=3);
#: production sizes M at ~1.44 * K * N bits for the planned key count
M_BITS = 4096
K_HASHES = 3
_WORDS = M_BITS // 64


def _bit_pos(j: int, s: str) -> str:
    """Bit position of salt ``j`` for shingle expression ``s`` —
    md5-prefix bucket, the repo-standard deterministic hash."""
    return (
        f"pmod(cast(conv(substring(md5(concat('{j}:', {s})), 1, 8), 16, 10)"
        f" as bigint), {M_BITS})"
    )


def _pos_sql(d: Dialect, j: int, s: str) -> str:
    """:func:`_bit_pos` as SQL (the hash is non-negative, so ``%`` is
    ``pmod``)."""
    salted = f"'{j}:' || {s}"
    return f"({d.hex_bigint(f'substr(md5({salted}), 1, 8)')} % {M_BITS})"


def _packed_bitmap(pos: DataFrame) -> DataFrame:
    """One row, one column ``bm``: the bit positions ``p`` packed into
    a map of 64-bit words keyed by word index."""
    return (
        pos.groupBy(F.expr("cast(p div 64 as int)").alias("w"))
        .agg(
            F.expr(
                "aggregate(collect_set(cast(p % 64 as int)), 0L,"
                " (acc, b) -> acc | shiftleft(1L, b))"
            ).alias("word")
        )
        .groupBy()
        .agg(
            F.map_from_entries(F.collect_list(F.struct("w", "word"))).alias("bm")
        )
    )


def bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per training document: Bloom-prefiltered eval-set contamination.

    Output: (doc_id, n_shingles, n_bloom_hits, n_overlap,
    contaminated), ordered by doc_id.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shingled = with_shingles(docs).transform(materialize)
    is_eval = F.col("doc_id") % EVAL_MOD == 0

    eval_sh = (
        shingled.filter(is_eval).select(F.explode("sh").alias("s")).distinct()
    )
    # --- build: eval shingles -> K bit positions -> packed 64-bit words
    pos = (
        eval_sh.select(
            F.explode(
                F.array(*[F.expr(_bit_pos(j, "s")) for j in range(K_HASHES)])
            ).alias("p")
        )
        .distinct()
    )
    bitmap = _packed_bitmap(pos)

    # --- probe: map-only bit test on every training shingle
    train_sh = shingled.filter(~is_eval).select(
        "doc_id", F.explode("sh").alias("s")
    )
    bit_ok = " AND ".join(
        f"((coalesce(element_at(bm, cast({_bit_pos(j, 's')} div 64 as int)), 0L)"
        f" >> cast({_bit_pos(j, 's')} % 64 as int)) & 1) = 1"
        for j in range(K_HASHES)
    )
    hits = train_sh.join(F.broadcast(bitmap)).filter(F.expr(bit_ok)).select(
        "doc_id", "s"
    )
    hits = materialize(hits)  # feeds both the hit count and the verify join

    bloom_cnt = hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_bloom_hits"))
    overlap = (
        hits.join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    sizes = shingled.filter(~is_eval).select("doc_id", F.size("sh").alias("n_shingles"))
    base = docs.filter(~is_eval).select("doc_id")
    ratio = F.when(
        F.coalesce("n_shingles", F.lit(0)) > 0,
        F.coalesce("n_overlap", F.lit(0)).cast("double")
        / F.col("n_shingles").cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        base.join(sizes, "doc_id", "left")
        .join(bloom_cnt, "doc_id", "left")
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_bloom_hits", F.lit(0)).cast("long").alias("n_bloom_hits"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (ratio >= CONTAM_THRESHOLD).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


def _member_sql(d: Dialect) -> str:
    return " AND ".join(
        f"{_pos_sql(d, j, 't.s')} IN (SELECT p FROM pos)" for j in range(K_HASHES)
    )


def _decontam_sql(d: Dialect) -> str:
    return f"""
WITH s AS ({shingles_sql(d)}),
eval_sh AS (
  SELECT DISTINCT {d.fn('unnest', 'sh')} AS s FROM s WHERE doc_id % {EVAL_MOD} = 0
),
pos AS (
  {" UNION ".join(f"SELECT DISTINCT {_pos_sql(d, j, 's')} AS p FROM eval_sh" for j in range(K_HASHES))}
),
train AS (SELECT doc_id, sh FROM s WHERE doc_id % {EVAL_MOD} != 0),
train_e AS (SELECT doc_id, {d.fn('unnest', 'sh')} AS s FROM train),
hits AS (
  SELECT t.doc_id, t.s FROM train_e t WHERE {_member_sql(d)}
),
bloom_cnt AS (SELECT doc_id, COUNT(*) AS n_bloom_hits FROM hits GROUP BY doc_id),
overlap AS (
  SELECT h.doc_id, COUNT(*) AS n_overlap
  FROM hits h JOIN eval_sh e ON h.s = e.s GROUP BY h.doc_id
),
sizes AS (SELECT doc_id, {d.fn('len', 'sh')} AS n_shingles FROM train)
SELECT d.doc_id,
       CAST(COALESCE(sz.n_shingles, 0) AS BIGINT) AS n_shingles,
       CAST(COALESCE(b.n_bloom_hits, 0) AS BIGINT) AS n_bloom_hits,
       CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       (CASE WHEN COALESCE(sz.n_shingles, 0) > 0
             THEN CAST(COALESCE(o.n_overlap, 0) AS DOUBLE)
                  / CAST(sz.n_shingles AS DOUBLE)
             ELSE 0.0{d.D} END) >= {CONTAM_THRESHOLD}{d.D} AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % {EVAL_MOD} != 0) d
LEFT JOIN sizes sz USING (doc_id)
LEFT JOIN bloom_cnt b USING (doc_id)
LEFT JOIN overlap o USING (doc_id)
ORDER BY d.doc_id
"""

#: semi-join filter geometry: sized for the big-order key count at
#: sf0.1 (~1.5k keys at sf0.01 -> fp ~0.03%; deliberately saturates toward ~12% at sf0.1s 15k keys so the report SHOWS what an under-sized filter costs)
SJ_M_BITS = 65536
#: selective dim predicate for the semi-join demo (~10% of orders)
SJ_MIN_TOTAL = 450000


def _sj_bit_pos(j: int, s: str) -> str:
    return (
        f"pmod(cast(conv(substring(md5(concat('{j}:', {s})), 1, 8), 16, 10)"
        f" as bigint), {SJ_M_BITS})"
    )


def _sj_pos_sql(d: Dialect, j: int, s: str) -> str:
    salted = f"'{j}:' || {s}"
    return f"(({d.hex_bigint(f'substr(md5({salted}), 1, 8)')}) % {SJ_M_BITS})"


def bloom_semijoin_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter SEMI-JOIN pruning — the runtime row-filter Spark's
    own `spark.sql.optimizer.runtime.bloomFilter` injects, built
    explicitly so its economics are measurable: the selective dim side
    (orders with o_totalprice >= {SJ_MIN_TOTAL}) packs its keys into a
    {SJ_M_BITS}-bit / K={K_HASHES} filter (ONE broadcast row of 64-bit
    words), the fact side (lineitem) is tested map-only inside
    codegen, and the report quantifies what the filter buys: rows
    passed vs the exact semi-join, false positives, and the fp rate
    among true non-matches.

    Why it matters at 100 TB: a shuffle-hash semi-join moves the fact
    side's join column through the network; the Bloom prefilter drops
    (1 - selectivity - fp) of the fact rows BEFORE any exchange, at
    the cost of a fixed {SJ_M_BITS}/8-byte broadcast. The report's
    fp_nonmatch_ppm is the number that decides whether the verify
    join downstream is cheap enough.

    Output: one row (n_dim_keys, n_fact_rows, n_true_match,
    n_bloom_pass, n_false_pos, fp_nonmatch_ppm).
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= SJ_MIN_TOTAL
    )
    keys = orders.selectExpr(
        "cast(o_orderkey as string) as k"
    ).distinct().transform(materialize)
    pos = keys.select(
        F.explode(
            F.array(*[F.expr(_sj_bit_pos(j, "k")) for j in range(K_HASHES)])
        ).alias("p")
    ).distinct()
    bitmap = _packed_bitmap(pos)
    fact = load_table(spark, sf_dir, "lineitem").selectExpr(
        "cast(l_orderkey as string) as k"
    )
    bit_ok = " AND ".join(
        f"((coalesce(element_at(bm, cast({_sj_bit_pos(j, 'k')} div 64"
        f" as int)), 0L)"
        f" >> cast({_sj_bit_pos(j, 'k')} % 64 as int)) & 1) = 1"
        for j in range(K_HASHES)
    )
    probed = fact.join(F.broadcast(bitmap)).selectExpr(
        "k", f"IF({bit_ok}, 1, 0) as bloom_pass"
    )
    flagged = probed.join(
        F.broadcast(keys.selectExpr("k", "1 as is_match")), "k", "left"
    )
    return (
        flagged.agg(
            F.count(F.lit(1)).cast("long").alias("n_fact_rows"),
            F.sum(F.coalesce("is_match", F.lit(0)))
            .cast("long")
            .alias("n_true_match"),
            F.sum("bloom_pass").cast("long").alias("n_bloom_pass"),
            F.sum(
                F.expr("IF(bloom_pass = 1 AND is_match IS NULL, 1, 0)")
            )
            .cast("long")
            .alias("n_false_pos"),
        )
        .crossJoin(
            F.broadcast(
                keys.agg(F.count(F.lit(1)).cast("long").alias("n_dim_keys"))
            )
        )
        .selectExpr(
            "n_dim_keys",
            "n_fact_rows",
            "n_true_match",
            "n_bloom_pass",
            "n_false_pos",
            "n_false_pos * 1000000"
            " div nullif(n_fact_rows - n_true_match, 0)"
            " as fp_nonmatch_ppm",
        )
    )


def _sj_sql(d: Dialect) -> str:
    member = " AND ".join(
        f"{_sj_pos_sql(d, j, 'f.k')} IN (SELECT p FROM pos)" for j in range(K_HASHES)
    )
    pos_union = " UNION ".join(
        f"SELECT DISTINCT {_sj_pos_sql(d, j, 'k')} AS p FROM keys"
        for j in range(K_HASHES)
    )
    return f"""
WITH keys AS (
  SELECT DISTINCT CAST(o_orderkey AS {d.varchar}) AS k FROM orders
  WHERE o_totalprice >= {SJ_MIN_TOTAL}
),
pos AS ({pos_union}),
fact AS (SELECT CAST(l_orderkey AS {d.varchar}) AS k FROM lineitem),
flagged AS (
  SELECT f.k,
         CASE WHEN {member} THEN 1 ELSE 0 END AS bloom_pass,
         CASE WHEN f.k IN (SELECT k FROM keys) THEN 1 ELSE 0 END
           AS is_match
  FROM fact f
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_fact_rows,
         CAST(SUM(is_match) AS BIGINT) AS n_true_match,
         CAST(SUM(bloom_pass) AS BIGINT) AS n_bloom_pass,
         CAST(SUM(CASE WHEN bloom_pass = 1 AND is_match = 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
  FROM flagged
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM keys) AS n_dim_keys,
       n_fact_rows, n_true_match, n_bloom_pass, n_false_pos,
       n_false_pos * 1000000
         {d.div} nullif(n_fact_rows - n_true_match, 0) AS fp_nonmatch_ppm
FROM agg
"""


QUERIES = {
    "bloom_decontam": bloom_decontam,
    "bloom_semijoin_report": bloom_semijoin_report,
}
TEMPLATES = {
    "bloom_decontam": _decontam_sql,
    "bloom_semijoin_report": _sj_sql,
}
