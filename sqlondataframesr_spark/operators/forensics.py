"""Data forensics: event-sequence trigram mining and a Benford
first-digit audit — the checks a data team runs to characterize (or
catch) a synthetic/fabricated 100 TB feed.

North-star extensions (no reference counterpart — RDataFramesSQL.Rmd
has no sequence-mining or forensic surface; SURVEY.md north-star
scope). Related: corpus n-gram diversity (llm/corpus.py) mines TEXT
n-grams; ``evt_type_trigrams`` mines BEHAVIOR n-grams; the journey
transition matrix (operators/journeys.py) is its order-1 sibling.

Scale design (100 TB):

- ``evt_type_trigrams`` — ONE window shuffle keyed ``user_id`` (two
  lags over the same per-user order share one sort), then a
  partial-aggregating shuffle straight down to ≤ |event_types|³ rows
  (125 here — bounded by the type vocabulary, never by data volume).
  Top-k leaves through TakeOrderedAndProject.
- ``dq_benford_digits`` — the fact table reduces in one partial-agg
  shuffle to ≤ 9 digit counts; everything after (expected ppm,
  chi-square contributions) is arithmetic on a 9-row frame. The digit
  extraction is string-prefix-of-integer (JVM codegen), not log10 on
  doubles — the only floats are the nine Benford constants, written
  as identical shortest-repr literals in both engines.

Determinism: counts are exact BIGINT; the chi-square contribution is
built from +, -, *, / on exact integers and literal doubles — all
IEEE-754 correctly rounded and mirrored token-for-token in the oracle,
hence bit-identical. Zero-count digits still emit a row (digit frame
is the anchor side, counts LEFT-JOINed), so the schema is stable on
any input, including empty.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..functions.dialect import Dialect

#: top-k emitted behavior trigrams
TRIGRAM_TOP_K = 20

#: Benford P(first digit = d) = log10(1 + 1/d), shortest-repr doubles —
#: the literal text both engines parse to the same binary64
BENFORD_P = {d: repr(math.log10(1 + 1 / d)) for d in range(1, 10)}


def evt_type_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 behavior trigrams: consecutive (t1, t2, t3) event-type
    triples per user (time order, ties on event_id), counted globally.
    Deterministic: ties on count break on the triple itself."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.withColumn("t1", F.lag("event_type", 2).over(w))
        .withColumn("t2", F.lag("event_type", 1).over(w))
        .filter(F.col("t1").isNotNull() & F.col("t2").isNotNull())
        .groupBy("t1", "t2", F.col("event_type").alias("t3"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return tri.orderBy(F.desc("n"), "t1", "t2", "t3").limit(TRIGRAM_TOP_K)


def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of o_totalprice: per first significant
    digit, the observed count, expected count, and chi-square
    contribution. A synthetic (e.g. uniform) price column lights this
    up — that's the point of the report. Output: 9 rows, all digits
    present even at zero observations."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    counts = (
        orders.select(
            F.expr(
                "cast(substring(cast(cast(round(o_totalprice) as bigint)"
                " as string), 1, 1) as bigint) as digit"
            )
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    digits = spark.range(1, 10).select(F.col("id").alias("digit"))
    anchored = (
        digits.join(F.broadcast(counts), "digit", "left")
        .select("digit", F.coalesce("n_obs", F.lit(0).cast("long")).alias("n_obs"))
    )
    total = anchored.agg(F.sum("n_obs").cast("long").alias("n_total"))
    p_case = "case " + " ".join(
        f"when digit = {d} then {p}d" for d, p in BENFORD_P.items()
    ) + " end"
    return (
        anchored.crossJoin(F.broadcast(total))
        .selectExpr(
            "digit",
            "n_obs",
            "n_total",
            f"cast(n_total as double) * ({p_case}) as exp_n",
            f"((cast(n_obs as double) - cast(n_total as double) * ({p_case}))"
            f" * (cast(n_obs as double) - cast(n_total as double) * ({p_case})))"
            f" / nullif(cast(n_total as double) * ({p_case}), 0.0d) as chi2",
        )
        .orderBy("digit")
    )


TRIGRAMS_ORACLE = f"""
WITH tri AS (
    SELECT lag(event_type, 2) OVER w AS t1,
           lag(event_type, 1) OVER w AS t2,
           event_type AS t3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT t1, t2, t3, CAST(COUNT(*) AS BIGINT) AS n
FROM tri
WHERE t1 IS NOT NULL AND t2 IS NOT NULL
GROUP BY t1, t2, t3
ORDER BY n DESC, t1, t2, t3
LIMIT {TRIGRAM_TOP_K}
"""

_P_CASE_SQL = "CASE " + " ".join(
    f"WHEN digit = {d} THEN CAST({p} AS DOUBLE)" for d, p in BENFORD_P.items()
) + " END"


def _benford_sql(d: Dialect) -> str:
    return f"""
WITH counts AS (
    SELECT CAST(left(CAST(CAST(round(o_totalprice) AS BIGINT) AS {d.varchar}), 1)
                AS BIGINT) AS digit,
           CAST(COUNT(*) AS BIGINT) AS n_obs
    FROM orders
    GROUP BY 1
),
anchored AS (
    SELECT d.digit, COALESCE(c.n_obs, 0) AS n_obs
    FROM (SELECT CAST({d.range_col} AS BIGINT) AS digit FROM range(1, 10)) d
    LEFT JOIN counts c ON c.digit = d.digit
),
total AS (
    SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM anchored
)
SELECT digit, n_obs, n_total,
       CAST(n_total AS DOUBLE) * ({_P_CASE_SQL}) AS exp_n,
       ((CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * ({_P_CASE_SQL}))
        * (CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * ({_P_CASE_SQL})))
        / nullif(CAST(n_total AS DOUBLE) * ({_P_CASE_SQL}), 0.0) AS chi2
FROM anchored, total
ORDER BY digit
"""

QUERIES = {
    "evt_type_trigrams": evt_type_trigrams,
    "dq_benford_digits": dq_benford_digits,
}

TEMPLATES = {
    "evt_type_trigrams": TRIGRAMS_ORACLE,
    "dq_benford_digits": _benford_sql,
}
