"""Entity resolution (blocked fuzzy self-join) and item-item
collaborative filtering — the two record-linkage workloads a curation
team runs on a 100 TB catalog.

North-star extensions (no reference counterpart — RDataFramesSQL.Rmd
has no fuzzy matching or recommender surface; SURVEY.md §2 north-star
scope). Related: the text near-dup family in llm/dedup.py does
*document* linkage by content; this module links *entities* by name
and *items* by co-occurrence.

Scale design (100 TB):

- ``er_customer_pairs`` — the classic blocking decomposition: candidate
  pairs are generated ONLY within a blocking key
  ``(c_nationkey, c_mktsegment)``, so the quadratic blow-up is bounded
  per block (b rows → b²/2 pairs) instead of corpus-wide. The join is
  an equi-join on the block key (shuffle- or broadcast-hash, Catalyst's
  choice) with the `a.key < b.key` dedup and the Levenshtein threshold
  applied as post-join filters — `.explain` shows the equi-keys in the
  join condition, NOT a cartesian product. At 1000× data, blocks grow
  linearly, so per-block pairs grow quadratically: the documented
  escape is a finer block key (append a name-prefix bucket), the same
  knob every ER system exposes. Levenshtein runs JVM-side
  (whole-stage codegen), never in Python.
- ``rec_item_cosine`` — user×item counts reduce first (partial-agg
  shuffle keyed (user_id, event_type) moves pre-aggregated rows, not
  raw events), then the pair join runs on the REDUCED relation (≤
  |items| rows per user) and collapses straight to the |items|²
  cosine matrix. The norm join joins a |items|-row frame — broadcast.

Determinism: Levenshtein is the classic unit-cost edit distance in
both engines (exact INT). Cosines are computed from exact BIGINT
dot/norm sums with one IEEE-754 expression —
``dot / (sqrt(na) * sqrt(nb))`` — where /, *, sqrt are all correctly
rounded, so Spark and DuckDB produce bit-identical doubles.
"""

from __future__ import annotations

import textwrap

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..functions.dialect import Dialect, dual
from ..materialize import materialize, spread_scan
from .components import min_label_components
from ..functions.closure_sql import packed_closure_sql

#: max edit distance for a candidate match
ER_MAX_DISTANCE = 2

#: top-k emitted match pairs
ER_TOP_K = 100


def _lev_bounded(left: str, right: str):
    """Threshold-bounded Levenshtein (Spark 3.5+ 3-arg form): returns
    the true distance when <= ER_MAX_DISTANCE, else -1, letting the
    banded DP early-exit instead of filling the full matrix. r13 A/B on
    the blocked self-join (sf0.1, 5-run medians): 0.61 s -> 0.42 s with
    a bit-identical surviving-pair set and identical projected
    distances (`>= 0` replaces `<= ER_MAX_DISTANCE` as the filter; the
    oracle keeps the dialect-portable 2-arg spelling)."""
    return F.expr(f"levenshtein({left}, {right}, {ER_MAX_DISTANCE})")


def _blocked_matches(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, Column]:
    """Customer pairs ``a``/``b`` (a.c_custkey < b.c_custkey) inside one
    (nation, mktsegment) block whose names are within
    ER_MAX_DISTANCE, and the bounded edit-distance column."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    # single-row-group dim parquet = 1 split: without the spread the
    # whole blocked pair space (~1M Levenshtein evals at sf0.1) lands
    # in ONE probe task (materialize.spread_scan, SCALE.md r4)
    a = spread_scan(c).alias("a")
    b = c.alias("b")
    lev = _lev_bounded("a.c_name", "b.c_name")
    matches = a.join(
        b,
        on=[
            F.col("a.c_nationkey") == F.col("b.c_nationkey"),
            F.col("a.c_mktsegment") == F.col("b.c_mktsegment"),
            F.col("a.c_custkey") < F.col("b.c_custkey"),
        ],
    ).filter(lev >= 0)
    return matches, lev


def er_customer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate duplicate customers: pairs inside the same
    (nation, mktsegment) block whose names are within edit distance
    2. Top-100 by (distance, custkey_a, custkey_b) — deterministic,
    TakeOrderedAndProject."""
    matches, lev = _blocked_matches(spark, sf_dir)
    pairs = matches.select(
        F.col("a.c_custkey").alias("custkey_a"),
        F.col("b.c_custkey").alias("custkey_b"),
        F.col("a.c_nationkey").alias("nationkey"),
        F.col("a.c_mktsegment").alias("mktsegment"),
        lev.cast("long").alias("name_distance"),
    )
    return pairs.orderBy("name_distance", "custkey_a", "custkey_b").limit(ER_TOP_K)


#: positional q-gram banding of the name's discriminative tail: the
#: LAST 9 characters split into 3 trigrams. Any pair within
#: ER_MAX_DISTANCE=2 SUBSTITUTIONS agrees on >= 1 trigram (pigeonhole:
#: 2 edits cannot touch all 3 bands); length-changing edits can shift
#: positions past the guarantee, so the banded path is approximate
#: WITH A METER (er_banding_report), the DF-capped-dedup posture.
ER_BANDS = 3
ER_BAND_WIDTH = 3

#: bucket-size cap on the banded index (the SHINGLE_DF_CAP idiom):
#: a band whose value is shared by more than this many rows of a
#: block is UNINFORMATIVE — on zero-padded sequential names the
#: high-order trigram is a constant, and keeping it would degenerate
#: the banded index back to the full blocked fan (measured: without
#: the cap, n_banded_pairs == n_blocked_pairs on this corpus exactly
#: because band 0 is always "000"). Dropping hot buckets trades
#: bounded recall (a pair whose ONLY shared bands are hot is missed —
#: er_banding_report meters it) for ~linear candidate fan.
ER_BAND_DF_CAP = 10


def _band_expr(i: int) -> str:
    """Band-i trigram of the name tail — ONE expression text valid and
    identical in Spark SQL and DuckDB (substring/greatest/length are
    1-based in both), so fluent, dual, and oracle share the spelling."""
    return (
        f"substring(c_name, greatest(length(c_name) - 8, 1)"
        f" + {ER_BAND_WIDTH * i}, {ER_BAND_WIDTH})"
    )


def _banded_index(c: DataFrame) -> DataFrame:
    """(c_custkey, c_nationkey, c_mktsegment, band, bkey) — one row
    per (row, band), BEFORE the DF cap."""
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.expr(_band_expr(i)).alias("bkey"),
                )
                for i in range(ER_BANDS)
            ])
        ).alias("b"),
    ).select("c_custkey", "c_nationkey", "c_mktsegment", "b.band", "b.bkey")


def _banded_candidates(c: DataFrame) -> DataFrame:
    """DISTINCT candidate pairs (ka, kb) from the DF-capped banded
    index: equal (nationkey, mktsegment, band, trigram) within buckets
    of size <= :data:`ER_BAND_DF_CAP`, ka < kb. The join is an
    equi-join whose per-bucket fan is capped at CAP²/2 — candidate
    count grows ~linearly with the corpus instead of quadratically
    per block (the er.py:17-24 escape, implemented + capped)."""
    bands = _banded_index(c)
    ok = (
        bands.groupBy("c_nationkey", "c_mktsegment", "band", "bkey")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= ER_BAND_DF_CAP)
        .select("c_nationkey", "c_mktsegment", "band", "bkey")
    )
    kept = bands.join(
        F.broadcast(ok), ["c_nationkey", "c_mktsegment", "band", "bkey"]
    )
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.c_nationkey") == F.col("b.c_nationkey"),
                F.col("a.c_mktsegment") == F.col("b.c_mktsegment"),
                F.col("a.band") == F.col("b.band"),
                F.col("a.bkey") == F.col("b.bkey"),
                F.col("a.c_custkey") < F.col("b.c_custkey"),
            ],
        )
        .select(
            F.col("a.c_custkey").alias("ka"), F.col("b.c_custkey").alias("kb")
        )
        .distinct()
    )


def er_customer_pairs_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-path sibling of :func:`er_customer_pairs`: candidates
    from the positional q-gram banded index instead of the full
    blocked self-join, exact Levenshtein verify on the candidates
    only. Identical output contract (top-100 by distance/key).

    Scale: the blocked exact path generates b²/2 pairs per
    (nation, segment) block — ~8k at sf0.01, ~890k at sf0.1, growing
    quadratically with block size (the 0.43 scaling-exponent watch
    item in SCALE.md). The banded index sub-buckets each block by a
    name trigram and DROPS buckets hotter than
    :data:`ER_BAND_DF_CAP` (a constant high-order trigram — zero-
    padded ids — would otherwise degenerate the index back to the
    full blocked fan; measured, see er_banding_report), so candidate
    fan stays ~linear. Recall semantics: the pigeonhole guarantee
    covers substitution-only matches whose shared band is NOT hot; a
    pair whose only agreeing bands are hot is missed, and
    :func:`er_banding_report` meters exactly that against the exact
    arm. Measured on the synthetic corpus (deliberately unflattering,
    the matryoshka-recall posture): fan ratio 0.44 at sf0.01 / 0.042
    at sf0.1, recall 0.63 / 0.34 — sequential zero-padded ids are the
    adversarial case for positional banding (near-pairs differ in low
    digits spanning two bands while the high band is a constant hot
    bucket). Real name-like keys band far better; the report is the
    artifact a deployment tunes bands/cap against. Classic q-gram
    blocking + the repo's DF-cap idiom (Christen, *Data Matching*,
    2012 — public)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    cand = _banded_candidates(spread_scan(c))
    a = c.select(
        F.col("c_custkey").alias("ka"),
        F.col("c_name").alias("name_a"),
        "c_nationkey",
        "c_mktsegment",
    )
    b = c.select(
        F.col("c_custkey").alias("kb"), F.col("c_name").alias("name_b")
    )
    lev = _lev_bounded("name_a", "name_b")
    return (
        cand.join(a, "ka")
        .join(b, "kb")
        .filter(lev >= 0)
        .select(
            F.col("ka").alias("custkey_a"),
            F.col("kb").alias("custkey_b"),
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            lev.cast("long").alias("name_distance"),
        )
        .orderBy("name_distance", "custkey_a", "custkey_b")
        .limit(ER_TOP_K)
    )


def er_banding_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded path's meter (minhash_recall_report posture), one
    row: blocked-vs-banded candidate fan and match recall.

    Output: (n_blocked_pairs, n_banded_pairs, n_true_matches,
    n_banded_matches, df_cap, n_hot_buckets, fan_ratio_ppm,
    recall_ppm). n_blocked_pairs is computed from per-block COUNTS
    (Σ n·(n−1)/2 — never materializing the quadratic pair set);
    n_hot_buckets counts the index buckets the DF cap dropped (>0 =
    the cap BINDS — on this corpus the constant high-order trigram
    guarantees it); n_true_matches runs the exact blocked arm (this is
    a meter — it costs what the truth costs, like every recall report
    in the repo)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    blocked = (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.expr("n * (n - 1) div 2")).cast("long").alias("n_blocked"))
    )
    hot = (
        _banded_index(c)
        .groupBy("c_nationkey", "c_mktsegment", "band", "bkey")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(
            F.coalesce(
                F.sum(F.expr(f"if(df > {ER_BAND_DF_CAP}, 1L, 0L)")), F.lit(0)
            ).cast("long").alias("n_hot")
        )
    )
    cand = _banded_candidates(spread_scan(c)).transform(materialize)
    a = c.select(F.col("c_custkey").alias("ka"), F.col("c_name").alias("name_a"))
    b = c.select(F.col("c_custkey").alias("kb"), F.col("c_name").alias("name_b"))
    banded_matches = (
        cand.join(a, "ka")
        .join(b, "kb")
        .filter(_lev_bounded("name_a", "name_b") >= 0)
        .agg(F.count(F.lit(1)).cast("long").alias("n_banded_matches"))
    )
    true_matches = _match_pairs(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("n_true_matches")
    )
    n_banded = cand.agg(F.count(F.lit(1)).cast("long").alias("n_banded"))
    return (
        blocked.crossJoin(F.broadcast(n_banded))
        .crossJoin(F.broadcast(true_matches))
        .crossJoin(F.broadcast(banded_matches))
        .crossJoin(F.broadcast(hot))
        .select(
            F.col("n_blocked").alias("n_blocked_pairs"),
            F.col("n_banded").alias("n_banded_pairs"),
            "n_true_matches",
            "n_banded_matches",
            F.lit(ER_BAND_DF_CAP).cast("long").alias("df_cap"),
            F.col("n_hot").alias("n_hot_buckets"),
            F.expr("n_banded * 1000000L div nullif(n_blocked, 0L)")
            .cast("long")
            .alias("fan_ratio_ppm"),
            F.expr("n_banded_matches * 1000000L div nullif(n_true_matches, 0L)")
            .cast("long")
            .alias("recall_ppm"),
        )
    )


def _match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNCAPPED threshold match pairs (the top-k cap in
    er_customer_pairs is presentation; clustering needs every edge)."""
    matches, _ = _blocked_matches(spark, sf_dir)
    return matches.select(
        F.col("a.c_custkey").alias("ka"), F.col("b.c_custkey").alias("kb")
    )


def er_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ER pipeline's last mile: transitive closure of the
    match pairs -> one entity id per customer (min custkey of the
    component) plus the entity size. Iterative min-label propagation
    (operators/components.py) vs the oracle's FULL recursive closure —
    same iterative-vs-closure differential as dedup_clusters.

    Output: (custkey, entity_id, entity_size), one row per customer,
    ordered by custkey."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    pairs = _match_pairs(spark, sf_dir)
    # pin the edge list: every propagation round joins it, and without
    # the persist each round would recompute the blocked Levenshtein
    # self-join (measured 6 s/round -> ~1 s/round at sf0.1)
    edges = (
        pairs.select(F.col("ka").alias("src"), F.col("kb").alias("dst"))
        .union(pairs.select(F.col("kb").alias("src"), F.col("ka").alias("dst")))
        .transform(materialize)
    )
    labels = min_label_components(
        cust.select(F.col("c_custkey").alias("node")), edges
    )
    sized = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("entity_size")
    )
    return (
        labels.join(sized, "label")
        .select(
            F.col("node").alias("custkey"),
            F.col("label").alias("entity_id"),
            "entity_size",
        )
        .orderBy("custkey")
    )


def rec_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: cosine similarity between
    event types over the user × event_type count matrix. Output: one
    row per unordered item pair (≤ |items|² / 2), ordered."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    ui = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    norms = ui.groupBy("event_type").agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("nrm")
    )
    a = ui.alias("a")
    b = ui.alias("b")
    dots = (
        a.join(
            b,
            on=[
                F.col("a.user_id") == F.col("b.user_id"),
                F.col("a.event_type") < F.col("b.event_type"),
            ],
        )
        .groupBy(
            F.col("a.event_type").alias("item_a"),
            F.col("b.event_type").alias("item_b"),
        )
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).cast("long").alias("dot"))
    )
    na = norms.alias("na")
    nb = norms.alias("nb")
    # one IEEE expression, mirrored verbatim in the oracle: each of
    # /, *, sqrt is correctly rounded, so the doubles are bit-identical
    cosine = F.col("dot").cast("double") / (
        F.sqrt(F.col("na.nrm").cast("double"))
        * F.sqrt(F.col("nb.nrm").cast("double"))
    )
    return (
        dots.join(F.broadcast(na), F.col("na.event_type") == F.col("item_a"))
        .join(F.broadcast(nb), F.col("nb.event_type") == F.col("item_b"))
        .select("item_a", "item_b", "dot", cosine.alias("cosine"))
        .orderBy("item_a", "item_b")
    )


#: every blocked customer pair within ER_MAX_DISTANCE edits, as the
#: FROM/WHERE tail of a SELECT over aliases ``a`` and ``b`` (the exact
#: pair set the oracles, the banding report and the clusters dual share)
_MATCH_PAIRS = f"""FROM customer a
JOIN customer b
  ON a.c_nationkey = b.c_nationkey
 AND a.c_mktsegment = b.c_mktsegment
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= {ER_MAX_DISTANCE}"""


ER_PAIRS_ORACLE = f"""
SELECT a.c_custkey AS custkey_a,
       b.c_custkey AS custkey_b,
       a.c_nationkey AS nationkey,
       a.c_mktsegment AS mktsegment,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS name_distance
{_MATCH_PAIRS}
ORDER BY name_distance, custkey_a, custkey_b
LIMIT {ER_TOP_K}
"""

REC_COSINE_ORACLE = """
WITH ui AS (
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events
    GROUP BY user_id, event_type
),
norms AS (
    SELECT event_type, CAST(SUM(cnt * cnt) AS BIGINT) AS nrm
    FROM ui
    GROUP BY event_type
),
dots AS (
    SELECT a.event_type AS item_a, b.event_type AS item_b,
           CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS dot
    FROM ui a
    JOIN ui b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
)
SELECT d.item_a, d.item_b, d.dot,
       CAST(d.dot AS DOUBLE)
         / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
         AS cosine
FROM dots d
JOIN norms na ON na.event_type = d.item_a
JOIN norms nb ON nb.event_type = d.item_b
ORDER BY d.item_a, d.item_b
"""


def _banded_cand_sql(d: Dialect) -> str:
    """bnd + ok + kept + cand CTE text. The bkey expression is the
    shared _band_expr spelling with the band index as a column; ``ok``
    is the DF cap (the dedup `rare` CTE idiom)."""
    expl = f"CROSS JOIN (SELECT {d.fn('unnest', d.list('0, 1, 2'))} AS band) t"
    return f"""bnd AS (
  SELECT c_custkey, c_nationkey, c_mktsegment, band,
         substring(c_name, greatest(length(c_name) - 8, 1)
                   + {ER_BAND_WIDTH} * band, {ER_BAND_WIDTH}) AS bkey
  FROM customer {expl}
),
ok AS (
  SELECT c_nationkey, c_mktsegment, band, bkey
  FROM bnd GROUP BY c_nationkey, c_mktsegment, band, bkey
  HAVING COUNT(*) <= {ER_BAND_DF_CAP}
),
kept AS (
  SELECT bnd.* FROM bnd
  JOIN ok USING (c_nationkey, c_mktsegment, band, bkey)
),
cand AS (
  SELECT DISTINCT a.c_custkey AS ka, b.c_custkey AS kb
  FROM kept a JOIN kept b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.band = b.band AND a.bkey = b.bkey
   AND a.c_custkey < b.c_custkey
)"""


def _banded_pairs_sql(d: Dialect) -> str:
    return f"""
WITH {_banded_cand_sql(d)}
SELECT cand.ka AS custkey_a, cand.kb AS custkey_b,
       ca.c_nationkey AS nationkey, ca.c_mktsegment AS mktsegment,
       CAST(levenshtein(ca.c_name, cb.c_name) AS BIGINT) AS name_distance
FROM cand
JOIN customer ca ON ca.c_custkey = cand.ka
JOIN customer cb ON cb.c_custkey = cand.kb
WHERE levenshtein(ca.c_name, cb.c_name) <= {ER_MAX_DISTANCE}
ORDER BY name_distance, custkey_a, custkey_b
LIMIT {ER_TOP_K}
"""


def _banding_report_sql(d: Dialect) -> str:
    intdiv = d.div
    return f"""
WITH {_banded_cand_sql(d)},
blocked AS (
  SELECT CAST(SUM(n * (n - 1) {intdiv} 2) AS BIGINT) AS n_blocked
  FROM (SELECT COUNT(*) AS n FROM customer
        GROUP BY c_nationkey, c_mktsegment) g
),
nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_banded FROM cand),
tm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_true
{textwrap.indent(_MATCH_PAIRS, '  ')}
),
bm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_bm
  FROM cand
  JOIN customer ca ON ca.c_custkey = cand.ka
  JOIN customer cb ON cb.c_custkey = cand.kb
  WHERE levenshtein(ca.c_name, cb.c_name) <= {ER_MAX_DISTANCE}
),
hot AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN df > {ER_BAND_DF_CAP} THEN 1
                            ELSE 0 END), 0) AS BIGINT) AS n_hot
  FROM (SELECT COUNT(*) AS df FROM bnd
        GROUP BY c_nationkey, c_mktsegment, band, bkey) d
)
SELECT blocked.n_blocked AS n_blocked_pairs,
       nb.n_banded AS n_banded_pairs,
       tm.n_true AS n_true_matches,
       bm.n_bm AS n_banded_matches,
       CAST({ER_BAND_DF_CAP} AS BIGINT) AS df_cap,
       hot.n_hot AS n_hot_buckets,
       CAST(nb.n_banded * 1000000 {intdiv} NULLIF(blocked.n_blocked, 0)
            AS BIGINT) AS fan_ratio_ppm,
       CAST(bm.n_bm * 1000000 {intdiv} NULLIF(tm.n_true, 0)
            AS BIGINT) AS recall_ppm
FROM blocked CROSS JOIN nb CROSS JOIN tm CROSS JOIN bm CROSS JOIN hot
"""


ER_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS (
    SELECT a.c_custkey AS ka, b.c_custkey AS kb
{textwrap.indent(_MATCH_PAIRS, '    ')}
),
edges AS (
    SELECT ka AS src, kb AS dst FROM pairs
    UNION
    SELECT kb AS src, ka AS dst FROM pairs
),
reach(src, dst) AS (
    SELECT c_custkey, c_custkey FROM customer
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clusters AS (
    SELECT src AS custkey, MIN(dst) AS entity_id FROM reach GROUP BY src
)
SELECT c.custkey, c.entity_id, cs.entity_size
FROM clusters c
JOIN (SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS entity_size
      FROM clusters GROUP BY entity_id) cs USING (entity_id)
ORDER BY c.custkey
"""

QUERIES = {
    "er_customer_pairs": er_customer_pairs,
    "er_customer_pairs_banded": er_customer_pairs_banded,
    "er_banding_report": er_banding_report,
    "er_entity_clusters": er_entity_clusters,
    "rec_item_cosine": rec_item_cosine,
}

# deliberate dual: Spark 4's recursive CTE supports only UNION ALL
# (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), which never terminates on a
# cyclic edge list, so er_entity_clusters' dual is the bounded-round
# packed-array hash-to-min closure (functions/closure_sql.py), which
# poisons every id to -1 on non-convergence.
_CLUSTERS_DUAL = packed_closure_sql(
    prelude=f"""pairs AS (
  SELECT a.c_custkey AS ka, b.c_custkey AS kb
{textwrap.indent(_MATCH_PAIRS, '  ')}),
edges AS (
  SELECT ka AS src, kb AS dst FROM pairs
  UNION ALL
  SELECT kb AS src, ka AS dst FROM pairs)""",
    nodes_sql="SELECT c_custkey AS node FROM customer",
    key_name="custkey",
    id_name="entity_id",
    size_name="entity_size",
)

TEMPLATES = {
    # The pair/cosine oracle text is fully dialect-portable (levenshtein,
    # sqrt, CAST) — the same string runs on both engines.
    "er_customer_pairs": ER_PAIRS_ORACLE,
    "er_customer_pairs_banded": _banded_pairs_sql,
    "er_banding_report": _banding_report_sql,
    "rec_item_cosine": REC_COSINE_ORACLE,
    "er_entity_clusters": dual(ER_CLUSTERS_ORACLE, _CLUSTERS_DUAL),
}
