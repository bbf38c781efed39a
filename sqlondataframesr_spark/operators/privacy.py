"""Release-audit privacy operators: a k-anonymity generalization
ladder and an l-diversity audit — the checks a training-data team runs
before a 100 TB corpus (or the metadata describing it) leaves the
building.

North-star extensions (no reference counterpart — RDataFramesSQL.Rmd
has no privacy surface; SURVEY.md north-star scope). Related:
``text_pii_scrub`` (llm/text.py) removes point identifiers from
content; this module audits the *quasi-identifier* risk of the
structured side — the combination of innocuous columns (nation,
market segment, balance bracket) that re-identifies a row even after
the names are gone (Sweeney's k-anonymity; Machanavajjhala's
l-diversity for the attribute-disclosure hole k-anonymity leaves).

Scale design (100 TB):

- ``privacy_k_anonymity_ladder`` — the three generalization levels
  ((nation, segment, balance bracket) → (nation, segment) → (nation))
  are ONE scan + ONE shuffle via GROUPING SETS: Catalyst expands the
  sets map-side (×3 pre-aggregated rows, not ×3 scans), and the
  shuffle moves per-class partial counts, never raw rows. The ladder
  summary then aggregates the ≤ |nations|×|segments|×|brackets| class
  frame — bounded by the QI domain, a constant w.r.t. data volume.
- The balance bracket is a FIXED-WIDTH range (floor(cents/100000) —
  $1000 brackets), not an ntile: data-independent breakpoints need no
  global sort (the unpartitioned-window trap this repo's distributed
  rank replaced, operators/drank.py) and generalize identically on
  every executor with zero coordination.
- ``privacy_l_diversity`` — distinct-sensitive-per-class is a
  two-level aggregate: dedup (class, sensitive) first (map-side
  combine collapses duplicates before the shuffle), then count per
  class. No count_distinct over raw rows, no window.

Determinism: counts and fixed-width brackets are exact integers in
both engines; pct columns are ppm via truncating div. Level rows and
worst-class rows are totally ordered by explicit keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..functions.dialect import SPARK, Dialect
from ..functions.rounding import r6_sql

#: k-anonymity threshold: classes smaller than this need suppression
K_ANON = 5

#: l-diversity threshold: classes with fewer distinct sensitive values
L_DIV = 3

#: fixed-width balance bracket: $1000 = 100000 cents per bracket
BRACKET_CENTS = 100000

_BRACKET = (
    f"cast(floor(cast(round(c_acctbal * 100) as bigint)"
    f" / {BRACKET_CENTS}.0) as bigint)"
)


def privacy_k_anonymity_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table across a 3-level
    generalization ladder of the quasi-identifier set:

      level 0: (nation, mktsegment, $1000 balance bracket)
      level 1: (nation, mktsegment)
      level 2: (nation)

    For each level: the number of QI equivalence classes, the smallest
    class, how many classes fall below k={K_ANON}, and how many ROWS
    sit in those classes (= the suppression cost of releasing at that
    level). One scan, one GROUPING SETS shuffle.

    Output: (level, n_classes, min_class, classes_below_k, rows_below_k,
    rows_below_ppm) ordered by level.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.expr(_BRACKET).alias("bal_bracket"),
    )
    classes = cust.groupingSets(
        [
            ["c_nationkey", "c_mktsegment", "bal_bracket"],
            ["c_nationkey", "c_mktsegment"],
            ["c_nationkey"],
        ],
        "c_nationkey",
        "c_mktsegment",
        "bal_bracket",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("class_size"),
        # grouping() = 1 when the column is aggregated away at this set
        (
            F.grouping("c_mktsegment") + F.grouping("bal_bracket")
        ).cast("int").alias("level"),
    )
    return (
        classes.groupBy("level")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.min("class_size").alias("min_class"),
            F.sum(
                F.when(F.col("class_size") < K_ANON, F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("classes_below_k"),
            F.sum(
                F.when(
                    F.col("class_size") < K_ANON, F.col("class_size")
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("rows_below_k"),
            F.sum("class_size").cast("long").alias("total_rows"),
        )
        .selectExpr(
            "level",
            "n_classes",
            "min_class",
            "classes_below_k",
            "rows_below_k",
            "rows_below_k * 1000000 div total_rows as rows_below_ppm",
        )
        .orderBy("level")
    )


def _k_anon_sql(d: Dialect) -> str:
    return f"""
WITH cust AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT)
                      / {BRACKET_CENTS}.0) AS BIGINT) AS bal_bracket
    FROM customer
),
classes AS (
    SELECT c_nationkey, c_mktsegment, bal_bracket,
           CAST(COUNT(*) AS BIGINT) AS class_size,
           CAST(GROUPING(c_mktsegment) + GROUPING(bal_bracket) AS INT)
             AS level
    FROM cust
    GROUP BY GROUPING SETS (
        (c_nationkey, c_mktsegment, bal_bracket),
        (c_nationkey, c_mktsegment),
        (c_nationkey)
    )
)
SELECT level,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       MIN(class_size) AS min_class,
       CAST(SUM(CASE WHEN class_size < {K_ANON} THEN 1 ELSE 0 END)
            AS BIGINT) AS classes_below_k,
       CAST(SUM(CASE WHEN class_size < {K_ANON} THEN class_size ELSE 0 END)
            AS BIGINT) AS rows_below_k,
       CAST(SUM(CASE WHEN class_size < {K_ANON} THEN class_size ELSE 0 END)
            AS BIGINT) * 1000000
         {d.div} CAST(SUM(class_size) AS BIGINT) AS rows_below_ppm
FROM classes GROUP BY level ORDER BY level
"""


def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit: with QI = (nation, $1000 balance bracket)
    and sensitive attribute = market segment, a class that is
    k-anonymous but where (almost) everyone shares one segment still
    discloses the segment. Reports every QI class with its size and
    distinct-sensitive count l, flagging l < {L_DIV}, worst first.

    Output: (c_nationkey, bal_bracket, class_size, l_distinct,
    below_l) ordered by (l_distinct, class_size desc, nation, bracket),
    top 50.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.expr(_BRACKET).alias("bal_bracket"),
        "c_mktsegment",
    )
    # dedup (class, sensitive) first: map-side combine collapses the
    # duplicates, so the second shuffle moves <= |QI|x|segments| rows
    dedup = (
        cust.groupBy("c_nationkey", "bal_bracket", "c_mktsegment")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    return (
        dedup.groupBy("c_nationkey", "bal_bracket")
        .agg(
            F.sum("n_rows").cast("long").alias("class_size"),
            F.count(F.lit(1)).cast("long").alias("l_distinct"),
        )
        .selectExpr(
            "c_nationkey",
            "bal_bracket",
            "class_size",
            "l_distinct",
            f"cast(if(l_distinct < {L_DIV}, 1, 0) as int) as below_l",
        )
        .orderBy(
            "l_distinct",
            F.desc("class_size"),
            "c_nationkey",
            "bal_bracket",
        )
        .limit(50)
    )


def _l_div_sql(d: Dialect) -> str:
    return f"""
WITH dedup AS (
    SELECT c_nationkey,
           CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT)
                      / {BRACKET_CENTS}.0) AS BIGINT) AS bal_bracket,
           c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM customer GROUP BY 1, 2, 3
)
SELECT c_nationkey, bal_bracket,
       CAST(SUM(n_rows) AS BIGINT) AS class_size,
       CAST(COUNT(*) AS BIGINT) AS l_distinct,
       CAST(CASE WHEN COUNT(*) < {L_DIV} THEN 1 ELSE 0 END AS INT)
         AS below_l
FROM dedup
GROUP BY c_nationkey, bal_bracket
ORDER BY l_distinct, class_size DESC, c_nationkey, bal_bracket
LIMIT 50
"""


#: DP release parameters: epsilon = 1, count sensitivity Delta f = 1
DP_EPS = "1.0"

def _u_sql(d: Dialect, salt: str) -> str:
    """md5-uniform in (0, 1]: (h + 1) / 2^52 over 13 hex chars — the
    sketches-module determinism contract (llm/sampling.py's idiom)."""
    h = d.hex_bigint(f"substr(md5('{salt}' || {d.cast_str('c_nationkey')}), 1, 13)")
    return f"(({h} + 1) / CAST(4503599627370496 AS DOUBLE))"


def privacy_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy-STYLE noisy count release of the
    per-nation customer histogram: Laplace(1/ε) noise added to each
    count (ε = {DP_EPS}, sensitivity 1), sampled as b·ln(u1/u2) — the
    difference-of-exponentials construction (Dwork et al., TCC 2006
    — public).

    HONESTY CAVEAT (same contract as the sketches module): u1/u2 here
    are md5-uniform — pure functions of the nation key — so this
    release is DETERMINISTIC and therefore NOT differentially private
    as shipped; real deployments swap the two uniforms for a seeded
    RNG. Determinism is what makes the noise path EXACT-oracle-
    checkable end-to-end; the operator verifies the release pipeline
    (clamping, rounding, error accounting), not the privacy proof.

    Scale: one partial-agg shuffle collapses customers to |nations|
    rows; the noise is a map-side expression on that bounded frame.

    Output: (c_nationkey, exact_n, noise, noisy_n, abs_err) ordered
    by nation; noise rounded to 6 dp, noisy_n clamped at 0.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_nationkey")
    counts = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("exact_n")
    )
    u1 = _u_sql(SPARK, "a")
    u2 = _u_sql(SPARK, "b")
    noise = f"(ln({u1}) - ln({u2})) / {DP_EPS}"
    return counts.selectExpr(
        "c_nationkey",
        "exact_n",
        f"{r6_sql(noise)} as noise",
        f"greatest(cast(round(cast(exact_n as double) + {noise})"
        " as bigint), 0L) as noisy_n",
        f"abs(greatest(cast(round(cast(exact_n as double) + {noise})"
        " as bigint), 0L) - exact_n) as abs_err",
    ).orderBy("c_nationkey")


def _dp_noisy_sql(d: Dialect) -> str:
    u1, u2 = _u_sql(d, "a"), _u_sql(d, "b")
    return f"""
WITH counts AS (
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS exact_n
    FROM customer GROUP BY c_nationkey
)
SELECT c_nationkey, exact_n,
       {r6_sql(f'(ln({u1}) - ln({u2})) / {DP_EPS}')} AS noise,
       greatest(CAST(round(CAST(exact_n AS DOUBLE)
                + (ln({u1}) - ln({u2})) / {DP_EPS}) AS BIGINT),
                0) AS noisy_n,
       abs(greatest(CAST(round(CAST(exact_n AS DOUBLE)
                + (ln({u1}) - ln({u2})) / {DP_EPS}) AS BIGINT),
                0) - exact_n) AS abs_err
FROM counts ORDER BY c_nationkey
"""


QUERIES = {
    "privacy_k_anonymity_ladder": privacy_k_anonymity_ladder,
    "privacy_l_diversity": privacy_l_diversity,
    "privacy_dp_noisy_counts": privacy_dp_noisy_counts,
}

TEMPLATES = {
    "privacy_k_anonymity_ladder": _k_anon_sql,
    "privacy_l_diversity": _l_div_sql,
    "privacy_dp_noisy_counts": _dp_noisy_sql,
}
