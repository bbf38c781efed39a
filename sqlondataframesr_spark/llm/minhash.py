"""MinHash + LSH banding — the 100 TB near-duplicate path.

The exact shingle-Jaccard operator (``llm/dedup.py``) is quadratic in
hot shingles; MinHash-LSH replaces it with a fixed-size signature per
document and candidate generation by band-bucket collision:

1. signature: each shingle is hashed ONCE (first 8 hex digits of md5
   → 32-bit int h); permutation i is the universal hash
   ``(A_i * h + B_i) mod P`` with P = 2^31 - 1 and per-permutation
   constants derived deterministically from md5 in Python below — so
   a K=12 signature costs 1 md5 + 12 multiply-mods per shingle, all
   integer ops inside codegen (the classic "one hash function per
   permutation" construction from Broder's resemblance paper);
2. banding: 4 bands x 3 rows; two docs are candidates iff some band
   of their signatures is identical (P[candidate] = 1-(1-J^3)^4,
   ~0.94 at J=0.8, <0.03 at J=0.2);
3. scoring: estimated Jaccard = fraction of the 12 signature
   positions that agree, computed only on candidate pairs.

Everything is md5-derived and deterministic so the DuckDB oracle
reproduces signatures bit-for-bit (no engine-private hash anywhere).

Scale: the signature pass is map-only; banding explodes each doc into
exactly 4 (band, bucket) rows — the self-join shuffles 4 fixed-width
rows per doc instead of one row per shingle (contrast
dedup_ngram_jaccard), and the signature re-join moves K*8 bytes per
*candidate*, not per doc pair. Hot buckets (boilerplate docs) are real
duplicates, so their quadratic blow-up is the answer, not overhead;
AQE skew-join splits the stragglers.

Reference scope note: the reference repo has no near-dup operator at
all (SURVEY.md §2.6 "NOT present") — this module is north-star
surface (BASELINE.json north_star: dedup at 100 TB).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..materialize import materialize
from ..catalog import load_table
from ..functions.dialect import SPARK, Dialect
from ..functions.rounding import r6 as _r6
from . import dedup as _dedup
from .dedup import with_shingles, shingles_sql

#: K signature positions = BANDS * ROWS_PER_BAND
NUM_PERM = 12
BANDS = 4
ROWS_PER_BAND = 3

#: Mersenne prime modulus for the universal hash family
P = 2_147_483_647

#: minimum estimated Jaccard (in units of 1/NUM_PERM) to report
EST_THRESHOLD = 0.5


def _param(i: int, which: str, lo: int) -> int:
    h = hashlib.md5(f"perm:{i}:{which}".encode()).hexdigest()[:12]
    return lo + int(h, 16) % (P - lo)


#: (A_i, B_i) per permutation — embedded as literals in BOTH dialects
PERMS = [(_param(i, "a", 1), _param(i, "b", 0)) for i in range(NUM_PERM)]


def _perms(d: Dialect) -> str:
    """The (A_i, B_i) pairs as a literal list of BIGINT pairs."""
    return d.list(",".join(d.list(f"{a}::BIGINT,{b}::BIGINT") for a, b in PERMS))


def minhash_sig_sql(d: Dialect) -> str:
    """(doc_id, sig): the NUM_PERM-position minhash signature of each
    shingle set ``sh`` of a CTE ``s``."""
    h = d.comp(d.hex_bigint("substr(md5(x), 1, 8)"), "x", "sh")
    perm = f"({d.at('p', 1)} * h + {d.at('p', 2)}) % {P}"
    mins = d.fn("list_min", d.comp(perm, "h", h, brk="\n" + " " * 20))
    sig = d.comp(mins, "p", _perms(d), brk="\n" + " " * 10)
    return f"""
  SELECT doc_id,
         {sig} AS sig
  FROM s
"""


def minhash_bands_sql(d: Dialect) -> str:
    """(doc_id, b, bkey): BANDS rows per signature, ROWS_PER_BAND
    positions each, comma-joined."""
    lo, hi = f"t.b * {ROWS_PER_BAND} + 1", f"t.b * {ROWS_PER_BAND} + {ROWS_PER_BAND}"
    window = d.slice("sig", lo, hi, ROWS_PER_BAND, sep=" : ")
    keys = d.comp(d.cast_str("x"), "x", window, brk="\n" + " " * 25)
    bkey = d.string_agg_list(keys, "','", gap="\n" + " " * 24)
    return f"""
  SELECT doc_id, t.b,
         {bkey} AS bkey
  FROM sig, range(0, {BANDS}) t(b)
"""


#: line break before a comprehension's ``for`` in the minhash SQL
_BRK = "\n" + " " * 16


def sig_agree(d: Dialect, cmp: str, brk: str) -> str:
    """How many of the NUM_PERM positions of ``sa.sig`` and ``sb.sig``
    satisfy ``cmp`` (``{a}``/``{b}`` are the two values)."""
    pair = cmp.format(a=d.at("sa.sig", "i"), b=d.at("sb.sig", "i"))
    agree = d.comp(pair, "i", d.seq(1, NUM_PERM + 1), brk=brk)
    return d.fn("len", d.fn("list_filter", agree, "v -> v"))


def minhash_signatures(docs_shingled: DataFrame) -> DataFrame:
    """doc_id + K-element minhash signature (array<bigint>)."""
    return docs_shingled.select(
        "doc_id",
        F.expr(
            "transform(sh, s -> cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint))"
        ).alias("hsh"),
    ).select(
        "doc_id",
        F.expr(
            f"transform({_perms(SPARK)}, p -> aggregate(hsh, bigint({P}),"
            f"  (acc, h) -> least(acc, (element_at(p, 1) * h + element_at(p, 2)) % {P})))"
        ).alias("sig"),
    )


def minhash_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bkey): one row per signature band, the band's
    rows joined into its bucket key."""
    return sig.select(
        "doc_id",
        F.explode(F.expr(
            f"transform(sequence(0, {BANDS - 1}),"
            f"  b -> struct(b as band, concat_ws(',', transform("
            f"    slice(sig, b * {ROWS_PER_BAND} + 1, {ROWS_PER_BAND}),"
            "     x -> cast(x as string))) as bkey))"
        )).alias("e"),
    ).select("doc_id", "e.band", "e.bkey")


def _band_candidates(sig: DataFrame) -> DataFrame:
    """(doc_b, doc_a, sig_a, sig_b): each distinct doc pair (doc_a <
    doc_b) sharing at least one band bucket, with both signatures."""
    bands = minhash_bands(sig)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    return cand.join(sa, "doc_a").join(sb, "doc_b")


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH, scored by
    estimated Jaccard (signature agreement fraction), est >= 0.5."""
    shingled = with_shingles(load_table(spark, sf_dir, "documents"))
    # sig feeds three branches (bands + both sides of the score join);
    # checkpoint so the shingle+hash pass runs once. K bigints per doc.
    sig = minhash_signatures(shingled).transform(materialize)
    est = _band_candidates(sig).select(
        "doc_a",
        "doc_b",
        _r6(
            F.size(F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
            )).cast("double") / F.lit(float(NUM_PERM))).alias("est_jaccard"),
    )
    return (
        est.filter(F.col("est_jaccard") >= EST_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


def _lsh_sql(d: Dialect) -> str:
    return f"""
WITH s AS ({shingles_sql(d)}),
sig AS ({minhash_sig_sql(d)}),
bands AS ({minhash_bands_sql(d)}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b,
         ROUND(CAST({sig_agree(d, "{a} = {b}", " ")} AS DOUBLE)
               / {float(NUM_PERM)}{d.D}, 6) AS est_jaccard
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, est_jaccard
FROM est
WHERE est_jaccard >= {EST_THRESHOLD}{d.D}
ORDER BY doc_a, doc_b
"""


def dedup_minhash_bbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minwise hashing (Li & König, "b-Bit Minwise Hashing",
    WWW 2010 — public): store only the LOWEST BIT of each minhash
    value (12 bits per doc instead of 12×64) and recover Jaccard from
    the bit-agreement fraction via the b=1 unbiased inversion

        J ≈ 2·agree − 1   (P[bit match] = J + (1−J)/2)

    reported per LSH candidate pair next to the full-signature
    estimate, so the output quantifies what the 64× storage saving
    costs in estimator variance.

    Scale: identical plan to dedup_minhash_lsh (map-only signatures,
    banded candidate join); the b-bit columns add no shuffle. All
    arithmetic integer ppm; the clamp at 0 absorbs the negative range
    of the inversion.

    Output: (doc_a, doc_b, sig_est_ppm, bbit_agree, bbit_est_ppm,
    err_ppm) ordered by (doc_a, doc_b).
    """
    shingled = with_shingles(load_table(spark, sf_dir, "documents"))
    sig = minhash_signatures(shingled).transform(materialize)
    return (
        _band_candidates(sig)
        .selectExpr(
            "doc_a",
            "doc_b",
            f"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y),"
            f" v -> v)) * 1000000 div {NUM_PERM} as sig_est_ppm",
            f"cast(size(filter(zip_with(sig_a, sig_b,"
            f" (x, y) -> x % 2 = y % 2), v -> v)) as bigint) as bbit_agree",
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "sig_est_ppm",
            "bbit_agree",
            f"greatest(2 * (bbit_agree * 1000000 div {NUM_PERM})"
            " - 1000000, 0L) as bbit_est_ppm",
            f"greatest(2 * (bbit_agree * 1000000 div {NUM_PERM})"
            " - 1000000, 0L) - sig_est_ppm as err_ppm",
        )
        .orderBy("doc_a", "doc_b")
    )


def _bbit_sql(d: Dialect) -> str:
    sig_est = f"CAST({sig_agree(d, '{a} = {b}', _BRK)} AS BIGINT)\n           * 1000000"
    return f"""
WITH s AS ({shingles_sql(d)}),
sig AS{d.materialized} ({minhash_sig_sql(d)}),
bands AS ({minhash_bands_sql(d)}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
scored AS (
  SELECT c.doc_a, c.doc_b,
         {d.idiv(sig_est, NUM_PERM)} AS sig_est_ppm,
         CAST({sig_agree(d, "{a} % 2 = {b} % 2", _BRK)} AS BIGINT)
           AS bbit_agree
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.doc_a
  JOIN sig sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, sig_est_ppm, bbit_agree,
       greatest(2 * ({d.idiv('bbit_agree * 1000000', NUM_PERM)}) - 1000000, 0)
         AS bbit_est_ppm,
       greatest(2 * ({d.idiv('bbit_agree * 1000000', NUM_PERM)}) - 1000000, 0)
         - sig_est_ppm AS err_ppm
FROM scored ORDER BY doc_a, doc_b
"""


def minhash_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision meter for the MinHash-LSH candidate generator
    vs the EXACT shingle-Jaccard ground truth (the ANN-recall-report
    posture applied to dedup, closing the one approximate family that
    still lacked its own quality meter): one row — of the true
    Jaccard>=0.8 pairs, how many did LSH surface (recall), and how
    many LSH candidates are true near-dups (precision)? Production
    gates a banding change on this row.

    Scale: composes the two registered pipelines; the report join
    itself touches only the two pair sets (bounded by duplicate
    density, not corpus size). Output: (n_true_pairs,
    n_candidate_pairs, n_hits, recall_ppm, precision_ppm).
    """
    from .dedup import dedup_ngram_jaccard

    truth = dedup_ngram_jaccard(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("t")
    )
    cand = dedup_minhash_lsh(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("c")
    )
    return (
        truth.join(cand, ["doc_a", "doc_b"], "full")
        .agg(
            F.count("t").cast("long").alias("n_true_pairs"),
            F.count("c").cast("long").alias("n_candidate_pairs"),
            F.coalesce(
                F.sum(F.expr("if(t is not null and c is not null, 1L, 0L)")),
                F.lit(0),
            )
            .cast("long")
            .alias("n_hits"),
        )
        .select(
            "n_true_pairs",
            "n_candidate_pairs",
            "n_hits",
            F.expr("n_hits * 1000000L div nullif(n_true_pairs, 0L)")
            .cast("long")
            .alias("recall_ppm"),
            F.expr("n_hits * 1000000L div nullif(n_candidate_pairs, 0L)")
            .cast("long")
            .alias("precision_ppm"),
        )
    )


def _recall_report_sql(d: Dialect) -> str:
    """The report as one composed SQL text over the two pipelines' own
    texts."""
    truth_sql = d.render(_dedup.TEMPLATES["dedup_ngram_jaccard"])
    cand_sql = _lsh_sql(d)
    hit = "COALESCE(SUM(CASE WHEN t IS NOT NULL AND c IS NOT NULL THEN 1 ELSE 0 END), 0)"
    return f"""
WITH truth AS (
  SELECT doc_a, doc_b, 1 AS t FROM ({truth_sql}) tt
),
cand AS (
  SELECT doc_a, doc_b, 1 AS c FROM ({cand_sql}) cc
),
joined AS (
  SELECT truth.t, cand.c FROM truth
  FULL OUTER JOIN cand
    ON cand.doc_a = truth.doc_a AND cand.doc_b = truth.doc_b
)
SELECT CAST(COUNT(t) AS BIGINT) AS n_true_pairs,
       CAST(COUNT(c) AS BIGINT) AS n_candidate_pairs,
       CAST({hit} AS BIGINT) AS n_hits,
       CAST({d.idiv(f'{hit} * 1000000', 'NULLIF(COUNT(t), 0)')} AS BIGINT) AS recall_ppm,
       CAST({d.idiv(f'{hit} * 1000000', 'NULLIF(COUNT(c), 0)')} AS BIGINT) AS precision_ppm
FROM joined
"""


QUERIES = {
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_bbit": dedup_minhash_bbit,
    "minhash_recall_report": minhash_recall_report,
}
TEMPLATES = {
    "dedup_minhash_lsh": _lsh_sql,
    "dedup_minhash_bbit": _bbit_sql,
    "minhash_recall_report": _recall_report_sql,
}
