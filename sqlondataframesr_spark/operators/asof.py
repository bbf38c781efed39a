"""Distributed AS-OF join — match each left row to the most recent
right row at-or-before its timestamp, per key.

The reference has no as-of/range joins (SURVEY.md §2.4 "NOT present");
this is north-star surface: time-series engines (kdb+ ``aj``, DuckDB
``ASOF JOIN``, pandas ``merge_asof``) treat it as a first-class
operator, and Spark lacks a native one.

The naive Spark spelling — an inequality join ``l.t >= r.t`` then an
argmax — is a disaster at scale: the inequality join materializes
O(|L| x |R|) rows *per key* before the argmax prunes them. This
implementation is the **union-window** form:

1. tag both sides and UNION them into one relation (map-side, no
   shuffle yet),
2. one shuffle, partitioned by the join key, sorted by
   ``(time, side)`` — right rows sort BEFORE left rows at equal
   timestamps, which yields the inclusive (``>=``) match,
3. a running ``last(col, ignorenulls=True)`` window fills each left
   row with the latest preceding right payload,
4. keep only left rows.

Cost: ONE shuffle of |L| + |R| rows and a linear scan per key —
the same plan shape as a windowed aggregate, with no intermediate
blow-up. At 100 TB both sides arrive pre-hashed on the key, the sort
is per-partition (spillable), and skewed keys are handled by AQE the
same way any window would be.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import StructField, StructType

from ..catalog import load_table
from ..functions.dialect import dual


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_time: str,
    right_time: str,
) -> DataFrame:
    """Left as-of join: every ``left`` row, plus the payload of the
    latest ``right`` row with ``right_time <= left_time`` on the same
    key (NULLs when no right row precedes it).

    ``right``'s non-key, non-time columns must not collide with
    ``left``'s — rename before calling. Right side should be unique
    per (key, time); pre-aggregate otherwise (determinism).
    """
    lpay = [c for c in left.columns if c not in on and c != left_time]
    rpay = [c for c in right.columns if c not in on and c != right_time]
    clash = set(lpay) & set(rpay)
    if clash:
        raise ValueError(f"rename right-side columns before asof_join: {clash}")

    # The right payload travels as ONE struct so the window back-fill is
    # atomic: a matched right row with a NULL in one payload column can
    # never mix that column from an older right row (a per-column
    # last(ignorenulls) would tear payloads that way).
    rp_type = StructType(
        [StructField(c, right.schema[c].dataType) for c in rpay]
    )
    l_tagged = left.select(
        *on,
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),
        *lpay,
        F.lit(None).cast(rp_type).alias("__rp"),
    )
    r_tagged = right.select(
        *on,
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lpay],
        F.struct(*rpay).alias("__rp"),
    )
    w = (
        Window.partitionBy(*on)
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l_tagged.unionByName(r_tagged).select(
        *on,
        "__t",
        "__side",
        *lpay,
        F.last("__rp", ignorenulls=True).over(w).alias("__rp"),
    )
    return filled.filter(F.col("__side") == 1).select(
        *on,
        F.col("__t").alias(left_time),
        *lpay,
        *[F.col(f"__rp.{c}").alias(c) for c in rpay],
    )


def evt_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase attribution: each 'click' event matched to the same
    user's most recent 'purchase' at-or-before the click."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_event_id"),
        F.col("value").alias("purchase_value"),
    )
    return asof_join(
        clicks, purchases, on=["user_id"], left_time="ts", right_time="ts"
    ).orderBy("user_id", "ts")


# DuckDB has a native ASOF JOIN — the ideal oracle: an independent
# implementation of the same semantics (inclusive >=, latest match).
EVT_ASOF_ORACLE = """
SELECT c.user_id, c.ts, c.event_id,
       p.event_id AS purchase_event_id,
       p.value AS purchase_value
FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN
     (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts >= p.ts
ORDER BY c.user_id, c.ts
"""


QUERIES = {"evt_asof_attribution": evt_asof_attribution}

# deliberate dual: the textbook correlated spelling (left join
# on ts <= ts + per-left argmax) — the form whose O(|L| x |R|)-per-key
# blow-up the union-window operator above exists to avoid. Keeping it
# as the dual pins the SEMANTICS with an independent plan; it is not a
# production path.
TEMPLATES = {
    "evt_asof_attribution": dual(EVT_ASOF_ORACLE, """
WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, ts AS p_ts, event_id AS purchase_event_id,
             value AS purchase_value
      FROM events WHERE event_type = 'purchase'),
j AS (
  SELECT c.user_id, c.ts, c.event_id, p.purchase_event_id, p.purchase_value,
         row_number() OVER (PARTITION BY c.user_id, c.event_id
                            ORDER BY p.p_ts DESC NULLS LAST,
                                     p.purchase_event_id DESC) AS rn
  FROM c LEFT JOIN p ON c.user_id = p.user_id AND p.p_ts <= c.ts
)
SELECT user_id, ts, event_id, purchase_event_id, purchase_value
FROM j WHERE rn = 1
ORDER BY user_id, ts
"""),
}
