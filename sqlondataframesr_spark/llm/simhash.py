"""SimHash — bit-sketch near-duplicate detection (Charikar random
hyperplanes over the token set, the Manku et al. WWW'07 web-dedup
construction).

Fingerprint: 64 bits stored as two 32-bit halves (``fp_hi``/``fp_lo``
in BIGINT columns — Spark has no unsigned 64-bit). Bit j is the sign
of the vote sum over distinct tokens of (bit_j(h(token)) ? +1 : -1),
where h(token) = the first 8 (j < 32) or next 8 (j >= 32) hex digits
of md5(token) parsed as a 32-bit integer. Everything after the one
md5 per token is integer shifts — no per-bit string slicing.

Candidate generation is block-banding: the 64 bits split into 4 blocks
of 16; by pigeonhole, ANY pair within hamming distance 3 agrees on at
least one full block, so the per-block equality join finds **exactly**
the pairs with hamming <= 3 — the operator is exact, not approximate
(hamming is re-checked with bit_count(xor()) on candidates, two
instructions per pair).

Determinism: md5-derived bits + integer votes — the DuckDB oracle
reproduces fingerprints bit-for-bit.

Scale: fingerprinting is map-only inside codegen (one md5 + 64 integer
folds per token); the pair join shuffles 4 fixed 16-bit keys per doc;
hamming is xor+popcount per candidate. At 100 TB this is the cheapest
near-dup pass there is — 64 bits per document and equality joins. Hot
blocks (boilerplate-heavy corpora) are split by AQE skew handling, and
the hamming filter runs *before* the pair-dedup so non-duplicate
collisions never reach the distinct's shuffle.

Reference scope note: north-star surface (no near-dup operator in the
reference — SURVEY.md §2.6); cited as a first-class dedup family
member in BASELINE.json's north_star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..materialize import materialize, spread_scan
from ..catalog import load_table
from ..functions.dialect import Dialect

NUM_BITS = 64
BLOCKS = 4
BLOCK_BITS = NUM_BITS // BLOCKS
#: pigeonhole: 4 blocks make the block-join COMPLETE for hamming <= 3
HAMMING_MAX = 3

#: per-token 32-bit halves of md5 (hex → bigint), computed once
_HS = (
    "transform(array_distinct(split(text, ' ')), t -> array("
    " cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint),"
    " cast(conv(substring(md5(t), 9, 8), 16, 10) as bigint)))"
)


def _half_expr(idx: int) -> str:
    """Vote-and-pack 32 bits into one bigint from token-hash half idx."""
    return (
        "aggregate(sequence(0, 31), bigint(0), (acc, j) -> acc +"
        " IF(aggregate(hs, bigint(0),"
        f"      (a, m) -> a + 2 * (shiftright(element_at(m, {idx}), 31 - j) & 1) - 1) > 0,"
        "    shiftleft(bigint(1), 31 - j), bigint(0)))"
    )


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """doc_id + 64-bit fingerprint as two 32-bit halves + token count.

    spread_scan: two md5s per token then a 64-bit vote-fold is the
    CPU-dense pass; don't let a single-row-group scan serialize it."""
    return (
        spread_scan(docs, "doc_id").withColumn("hs", F.expr(_HS))
        .select(
            "doc_id",
            F.expr(_half_expr(1)).alias("fp_hi"),
            F.expr(_half_expr(2)).alias("fp_lo"),
            F.size("hs").alias("n_tokens"),
        )
    )


def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fingerprints(load_table(spark, sf_dir, "documents")).orderBy(
        "doc_id"
    )


def _blocks(fp: DataFrame) -> DataFrame:
    """(doc_id, fp_hi, fp_lo, blk, bkey): 4 fixed 16-bit keys per doc."""
    return fp.select(
        "doc_id",
        "fp_hi",
        "fp_lo",
        F.explode(F.expr(
            f"transform(sequence(0, {BLOCKS - 1}), b -> struct(b as blk,"
            " shiftright(IF(b < 2, fp_hi, fp_lo), IF(b % 2 = 0, 16, 0)) & 65535 as bkey))"
        )).alias("e"),
    ).select("doc_id", "fp_hi", "fp_lo", "e.blk", "e.bkey")


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL near-dup pairs with hamming distance <= 3 (exact by
    pigeonhole over the 4-block join).

    Duplicate-heavy corpora make the naive doc-level block join
    quadratic in cluster size (a 249-doc identical-fingerprint cluster
    contributes 249^2 rows per colliding block). So: group docs by
    fingerprint first, run the block join over DISTINCT fingerprints
    only, and expand back to doc pairs at the end —

    - intra-group pairs (identical fingerprint, hamming 0) come
      straight out of the group's member list;
    - inter-group pairs come from the distinct-fingerprint block join
      (hamming 1..3), expanded members_a x members_b.

    The expansion is output-bound — it materializes exactly the answer,
    never the collision candidates.
    """
    fp = simhash_fingerprints(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "fp_hi", "fp_lo"
    )
    grp = fp.groupBy("fp_hi", "fp_lo").agg(
        F.array_sort(F.collect_list("doc_id")).alias("members")
    )
    # The group table feeds FOUR plan branches (intra pairs, both block
    # sides, the members re-join); without materialization each branch
    # recomputes the full fingerprint scan. It is doc-count-bounded and
    # small (distinct fingerprints only) — checkpoint it once.
    grp = grp.transform(materialize)

    # pairs inside one fingerprint group: hamming identically 0
    intra = (
        grp.filter(F.size("members") > 1)
        .select(F.explode(F.expr(
            "flatten(transform(members, (x, i) ->"
            " transform(slice(members, i + 2, size(members)),"
            "  y -> struct(x as doc_a, y as doc_b))))"
        )).alias("p"))
        .select("p.doc_a", "p.doc_b", F.lit(0).alias("hamming"))
    )

    # distinct-fingerprint block join (gid = min doc id keys the pair)
    g = grp.withColumn("gid", F.element_at("members", 1))
    blocks = _blocks(g.withColumnRenamed("gid", "doc_id")).join(
        g.select(F.col("gid").alias("doc_id"), "members"), "doc_id"
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    inter_groups = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("ga"),
            F.col("b.doc_id").alias("gb"),
            F.col("a.members").alias("ma"),
            F.col("b.members").alias("mb"),
            (
                F.bit_count(F.col("a.fp_hi").bitwiseXOR(F.col("b.fp_hi")))
                + F.bit_count(F.col("a.fp_lo").bitwiseXOR(F.col("b.fp_lo")))
            ).alias("hamming"),
        )
        # filter BEFORE distinct: non-dup collisions never hit the shuffle
        .filter(F.col("hamming") <= HAMMING_MAX)
        .dropDuplicates(["ga", "gb"])
    )
    inter = (
        inter_groups.select(
            F.explode(F.expr(
                "flatten(transform(ma, x -> transform(mb,"
                " y -> struct(least(x, y) as doc_a, greatest(x, y) as doc_b))))"
            )).alias("p"),
            "hamming",
        )
        .select("p.doc_a", "p.doc_b", "hamming")
    )
    return intra.unionByName(inter).orderBy("doc_a", "doc_b")


def _fp_sql(d: Dialect) -> str:
    """The fingerprint (same md5 halves, same packing as the fluent
    :data:`_HS` / :func:`_half_expr`)."""

    def half(idx: int) -> str:
        vote = d.comp(f"2 * (({d.at('m', idx)} >> (31 - j)) & 1) - 1", "m", "hs")
        bit = f"""CASE WHEN {d.list_sum(vote, '0L')} > 0
                        THEN (1::BIGINT << (31 - j)) ELSE 0 END"""
        bits = d.comp(bit, "j", d.seq(0, 32), brk="\n" + " " * 24)
        return f"CAST({d.list_sum(bits, '0L')} AS BIGINT)"

    md5_halves = d.list(
        f"{d.hex_bigint('substr(md5(t), 1, 8)')},\n{' ' * 13}{d.hex_bigint('substr(md5(t), 9, 8)')}"
    )
    tokens = d.fn("list_distinct", d.fn("string_split", "text", "' '"))
    hs = d.comp(md5_halves, "t", tokens, brk="\n" + " " * 12)
    return f"""
  SELECT doc_id,
         {half(1)} AS fp_hi,
         {half(2)} AS fp_lo,
         {d.fn('len', 'hs')} AS n_tokens
  FROM (
    SELECT doc_id,
           {hs} AS hs
    FROM documents
  )
"""


def _fingerprint_sql(d: Dialect) -> str:
    return f"""
WITH fp AS ({_fp_sql(d)})
SELECT doc_id, fp_hi, fp_lo, n_tokens FROM fp ORDER BY doc_id
"""


def _dedup_sql(d: Dialect) -> str:
    bkey = d.shr(
        "CASE WHEN t.b < 2 THEN fp_hi ELSE fp_lo END",
        "(CASE WHEN t.b % 2 = 0 THEN 16 ELSE 0 END)",
        gap="\n" + " " * 10,
    )
    return f"""
WITH fp AS ({_fp_sql(d)}),
blocks AS (
  SELECT doc_id, fp_hi, fp_lo, t.b AS blk,
         ({bkey}) & 65535 AS bkey
  FROM fp, range(0, {BLOCKS}) t(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count({d.xor('a.fp_hi', 'b.fp_hi')}) + bit_count({d.xor('a.fp_lo', 'b.fp_lo')}) AS hamming
  FROM blocks a
  JOIN blocks b ON a.blk = b.blk AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  WHERE bit_count({d.xor('a.fp_hi', 'b.fp_hi')}) + bit_count({d.xor('a.fp_lo', 'b.fp_lo')}) <= {HAMMING_MAX}
)
SELECT doc_a, doc_b, hamming FROM cand ORDER BY doc_a, doc_b
"""


QUERIES = {
    "simhash_fingerprint": simhash_fingerprint,
    "dedup_simhash": dedup_simhash,
}

TEMPLATES = {
    "simhash_fingerprint": _fingerprint_sql,
    "dedup_simhash": _dedup_sql,
}
