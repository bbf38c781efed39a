"""Key-salting — the manual fix for shuffle-join skew.

AQE's skew-join splitting (on in our sessions) handles most skew at
runtime by splitting oversized partitions, but it only works for
sort-merge joins with statistics; when one key holds a double-digit
percentage of a 100 TB fact table (the null-key, the default-value
key, the bot user), pre-salting is the deterministic fix:

- the FACT side gets a salt column in [0, n): any cheap spread over
  rows of the same key (here: hash of the whole row mod n, so it is
  deterministic and needs no unique column);
- the DIM side is replicated n times (explode of a 0..n-1 sequence);
- the join runs on (key, salt) — the hot key's rows now land in n
  shuffle partitions instead of one.

Cost model: dim side grows n-fold (keep n small, 8-32, and the dim
side the smaller one); fact side is unchanged. Result is row-for-row
identical to the unsalted join — pinned by the test.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.dialect import Dialect

SALT_COL = "__salt"


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Column | None = None,
    keys: list[str] | None = None,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``fact`` (skewed, large) with ``dim`` (small) spreading
    each fact key over ``n_salts`` shuffle buckets.

    Pass ``keys`` for same-named join columns. The salt is
    deterministic (xxhash64 of the full fact row mod n), so results
    are reproducible run to run.
    """
    if keys is None:
        raise ValueError("salted_join requires same-named join keys via keys=[...]")
    if how not in {"inner", "left", "left_outer", "leftsemi", "left_semi", "left_anti"}:
        # right/full outer would emit unmatched dim rows once PER SALT
        raise ValueError(f"salted_join does not preserve {how} join semantics")
    fact_s = fact.withColumn(
        SALT_COL, F.pmod(F.xxhash64(*fact.columns), F.lit(n_salts)).cast("int")
    )
    dim_s = dim.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return fact_s.join(dim_s, [*keys, SALT_COL], how).drop(SALT_COL)


def two_phase_count_distinct(
    df: DataFrame, keys: list[str], value: str
) -> DataFrame:
    """Exact COUNT(DISTINCT value) per key, as two cheap aggregates.

    A direct ``countDistinct`` keeps a per-key value SET through the
    shuffle — map-side partials barely reduce, and a hot key
    concentrates its whole value universe on one reducer. The standard
    scale rewrite:

    1. ``groupBy(keys, value)`` — dedup rides a shuffle keyed on
       (key, VALUE), so a hot key's values spread across the cluster
       (the value acts as a natural salt);
    2. ``groupBy(keys).count()`` — counting the now-distinct rows; the
       second shuffle carries one row per (key, value), already tiny.

    Identical output to ``countDistinct`` (tested): NULL values are
    dropped before the first aggregate, matching COUNT(DISTINCT)'s
    NULL-skipping semantics. Use when keys are few/hot and values are
    many. For merely-approximate needs, ``approx_count_distinct``
    (q22) beats both.
    """
    return (
        df.filter(F.col(value).isNotNull())
        .groupBy(*keys, value)
        .agg(F.lit(1))
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias(f"n_distinct_{value}"))
    )


def evt_distinct_users_2phase(spark, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    return two_phase_count_distinct(
        load_table(spark, sf_dir, "events"), ["event_type"], "user_id"
    ).orderBy("event_type")


EVT_DISTINCT_USERS_2PHASE_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_user_id
FROM events GROUP BY event_type ORDER BY event_type
"""


QUERIES = {"evt_distinct_users_2phase": evt_distinct_users_2phase}


#: a key is flagged skewed when it holds more than this share of the
#: table, in parts-per-million (2000 ppm = 0.2%: on a 32-partition
#: shuffle of a uniform table each partition holds ~31250 ppm, so a
#: single KEY at 2000+ ppm is already a visible partition-imbalance
#: contributor; production tunes this to cluster size)
SKEW_PPM_THRESHOLD = 2000
#: heaviest keys reported
SKEW_TOP_K = 20


def skew_key_report(spark, sf_dir: str) -> DataFrame:
    """The diagnostic you run BEFORE reaching for salted_join: the
    heaviest join keys of the events fact table (user_id — the
    bot-user/default-value hazard), with exact parts-per-million
    shares and the skew flag.

    Output: (user_id, cnt, share_ppm, skewed) — top SKEW_TOP_K keys by
    count, ties to the smaller key. share_ppm is exact integer
    arithmetic (cnt * 1e6 div total), so the flag is reproducible
    across engines and runs.

    Scale: one map-side-combined groupBy reduces the fact table to its
    key cardinality; the 1-row total is a broadcast; the top-K cut is
    sort+limit (TakeOrderedAndProject — no global sort materializes).
    The report's cost is the cost of ONE aggregate over the join key —
    run it once per ingest, feed the flagged keys to salted_join (or
    let AQE skew-split when the imbalance is milder).
    """
    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    return (
        counts.join(F.broadcast(total))
        .select(
            "user_id",
            F.col("cnt").cast("long").alias("cnt"),
            F.expr("cnt * 1000000L div total").cast("long").alias("share_ppm"),
        )
        .withColumn("skewed", F.col("share_ppm") > SKEW_PPM_THRESHOLD)
        .orderBy(F.col("cnt").desc(), F.col("user_id").asc())
        .limit(SKEW_TOP_K)
    )


def _skew_key_report_sql(d: Dialect) -> str:
    return f"""
WITH counts AS (
  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
),
tot AS (SELECT SUM(cnt) AS total FROM counts)
SELECT user_id,
       CAST(cnt AS BIGINT) AS cnt,
       CAST(cnt * 1000000 {d.div} total AS BIGINT) AS share_ppm,
       (cnt * 1000000 {d.div} total) > {SKEW_PPM_THRESHOLD} AS skewed
FROM counts CROSS JOIN tot
ORDER BY cnt DESC, user_id ASC
LIMIT {SKEW_TOP_K}
"""

QUERIES["skew_key_report"] = skew_key_report
TEMPLATES = {
    "evt_distinct_users_2phase": EVT_DISTINCT_USERS_2PHASE_ORACLE,
    "skew_key_report": _skew_key_report_sql,
}
