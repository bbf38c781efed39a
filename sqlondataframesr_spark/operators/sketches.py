"""Distributed sketches: KMV (k-minimum-values) distinct counting and
a count-min frequency sketch — the summaries a 100 TB pipeline ships
between stages instead of re-scanning the corpus.

North-star extensions (no reference counterpart — RDataFramesSQL.Rmd
has no sketch surface). The repo already has exact heavy hitters
(llm/curation.py) and approx percentile/HLL probes (q22); this module
adds the two sketch families whose MERGE property is the whole point:
a sketch built per-partition/per-tenant and OR-ed together must equal
the sketch of the union, or incremental rollups silently drift.
``sketch_kmv_merge_check`` proves that equality end-to-end.

Determinism contract (what makes a "probabilistic" sketch EXACT-
oracle-able): the hash is md5 — bit-identical in Spark and DuckDB —
truncated to 13 hex chars (52 bits), so every estimate is a pure
integer function of the input multiset. No RNG, no platform seed.

Scale design (100 TB):

- ``sketch_kmv_distinct`` — candidate K-min extraction is TWO-PHASE:
  the distinct (group, h) frame is first min-K'd per (group,
  pmod(h, 256)) cell, so a hot group's sort spreads over 256 tasks,
  then the global per-group min-K runs over <= 256*K survivor rows
  per group. Any value in the global K smallest is in the K smallest
  of its own cell, so the two-phase result is EXACTLY the one-pass
  result (same argument as the heavy-hitters candidate prune,
  llm/curation.py). No unpartitioned window anywhere.
- ``sketch_cms_freq_report`` — the sketch build is explode(x DEPTH)
  then groupBy(depth, bucket): map-side partial aggregation collapses
  the shuffle to <= DEPTH*WIDTH = 4096 cells regardless of corpus
  size, and the probe join broadcasts those 4096 cells. CMS
  guarantees cms_cnt >= exact_cnt (property-tested).
- Estimate arithmetic is bounded by construction:
  (K-1) * 2^52 = 283726776524341248 < 2^63. err_ppm is computed
  multiply-FIRST — (estimate - exact) * 1e6 div exact — so its real
  int64 bound is |estimate - exact| <= ~9.2e12 (ADVICE r10 corrected
  the earlier div-first description). Since the KMV estimate and the
  exact count are both <= the true distinct count within a (K-1)*2^52
  / min_h factor, the difference stays far inside that bound for any
  input where the estimate itself fits int64; the same
  multiply-first shape and bound apply to the CMS join-size err_ppm
  (|cms - exact| <= ~9.2e12 rows of join output).

Documented range contract (the ml_ols_trend convention):
``sketch_cms_join_size``'s per-depth dot product
SUM(cnt_a * cnt_b) over WIDTH buckets is bounded by the product of
the two input cardinalities; it exceeds int64 once n_a * n_b >
~9.2e18 (e.g. two 3e9-row inputs). Past that, CAST the per-bucket
product to DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) before the SUM —
exactly the llm/diversity.py:174 escape — and divide back down before
the ppm step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import load_table
from ..functions.dialect import SPARK, Dialect
from ..materialize import materialize

#: KMV sketch size (number of minimum hash values retained)
KMV_K = 64

#: hash space: 13 hex chars of md5 = 52 bits
HASH_BITS = 52
HASH_SPACE = 1 << HASH_BITS  # 4503599627370496

#: fan-out cells for the two-phase min-K (spreads a hot group's sort)
KMV_CELLS = 256

#: count-min sketch geometry — the one geometry of every CMS here and
#: in streaming/windows.py: the bucket and depth builders below read it
#: at call time, so the fluent plans, the oracles and the duals follow
#: any change together
CMS_DEPTH = 4
CMS_WIDTH = 1024

#: how many exact-top terms the CMS report probes
CMS_TOP = 20

def _h_sql(d: Dialect, col: str = "text") -> str:
    """The 52-bit md5 hash of ``col`` (13 hex chars)."""
    return d.hex_bigint(f"substr(md5({col}), 1, 13)")


def cms_bucket_sql(d: Dialect, key: str) -> str:
    """CMS row ``j``'s bucket of ``key`` (non-negative hash, so ``%``
    is ``pmod``)."""
    salted = f"{d.cast_str('j')} || ':' || {key}"
    return f"({_h_sql(d, salted)} % {CMS_WIDTH})"


def cms_depth_sql(d: Dialect) -> str:
    """The CMS depth axis 0 .. CMS_DEPTH-1 as a list literal."""
    return d.list(", ".join(map(str, range(CMS_DEPTH))))


def cms_depth_axis() -> F.Column:
    """The CMS depth axis 0 .. CMS_DEPTH-1 as an array column."""
    return F.array(*[F.lit(i) for i in range(CMS_DEPTH)])


def _kmv_minset(distinct_h: DataFrame, group_cols: list[str]) -> DataFrame:
    """The K smallest distinct hashes per group, two-phase (see module
    docstring): cell-local min-K spreads a hot group over KMV_CELLS
    tasks; the survivor set per group is <= KMV_CELLS * KMV_K rows."""
    cell = F.pmod(F.col("h"), F.lit(KMV_CELLS))
    w1 = Window.partitionBy(*group_cols, "cell").orderBy("h")
    local = (
        distinct_h.withColumn("cell", cell)
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= KMV_K)
        .drop("cell", "rn")
    )
    w2 = Window.partitionBy(*group_cols).orderBy("h")
    return (
        local.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= KMV_K)
        .drop("rn")
    )


#: numerator of the full-sketch estimator; 63 * 2^52 < 2^63 by design
_KMV_FULL_EST = (KMV_K - 1) * HASH_SPACE


def _kmv_estimate() -> F.Column:
    """KMV estimator over columns named (n_sk, h_k): if the sketch is
    not full the sketch IS the distinct set (estimate = n_sk exactly);
    else (K-1)/U_k with U_k = h_k / 2^52, i.e. (K-1)*2^52 div h_k
    (truncating — identical to DuckDB ``//``)."""
    return F.expr(
        f"IF(n_sk < {KMV_K}, n_sk,"
        f" cast({_KMV_FULL_EST} as bigint) div h_k)"
    )


def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KMV distinct-count estimate of document texts, with
    the exact answer and signed error beside it.

    Output: (source, exact_distinct, n_sk, kmv_estimate, err_ppm)
    ordered by source. err_ppm = (estimate - exact)*1e6 div exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    distinct_h = (
        docs.select("source", F.expr(_h_sql(SPARK)).alias("h"))
        .groupBy("source", "h")
        .agg(F.count(F.lit(1)).alias("_"))
        .drop("_")
    )
    exact = distinct_h.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("exact_distinct")
    )
    sk = (
        _kmv_minset(distinct_h, ["source"])
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sk"),
            F.max("h").alias("h_k"),
        )
    )
    est = _kmv_estimate().cast("long")
    return (
        sk.join(exact, "source")
        .withColumn("kmv_estimate", est)
        .selectExpr(
            "source",
            "exact_distinct",
            "n_sk",
            "kmv_estimate",
            "(kmv_estimate - exact_distinct) * 1000000"
            " div nullif(exact_distinct, 0) as err_ppm",
        )
        .orderBy("source")
    )


def sketch_kmv_merge_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeability proof: a global KMV sketch assembled by
    MERGING per-lang sketches (union their K-min sets, dedup, re-take
    the K minimum) must equal the sketch built directly over the whole
    corpus — same n_sk, same h_k, same estimate. This is the property
    that lets 1000 executors sketch their partitions independently and
    combine on the driver without a second corpus scan.

    Output: two rows (method in {'direct','merged'}) with identical
    (n_sk, h_k, kmv_estimate), ordered by method."""
    docs = load_table(spark, sf_dir, "documents")
    h_frame = docs.select("lang", F.expr(_h_sql(SPARK)).alias("h"))

    # per-lang sketches (as a 1000-tenant rollup would materialize)
    per_lang_h = h_frame.groupBy("lang", "h").agg(
        F.count(F.lit(1)).alias("_")
    ).drop("_")
    lang_minsets = _kmv_minset(per_lang_h, ["lang"]).select("h")
    merged_h = lang_minsets.groupBy("h").agg(
        F.count(F.lit(1)).alias("_")
    ).drop("_")

    # direct global sketch
    global_h = h_frame.groupBy("h").agg(F.count(F.lit(1)).alias("_")).drop("_")

    def _finish(minset_src: DataFrame, method: str) -> DataFrame:
        tagged = minset_src.withColumn("g", F.lit(0))
        sk = (
            _kmv_minset(tagged, ["g"])
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_sk"),
                F.max("h").alias("h_k"),
            )
        )
        return sk.select(
            F.lit(method).alias("method"),
            "n_sk",
            "h_k",
            _kmv_estimate().cast("long").alias("kmv_estimate"),
        )

    return (
        _finish(global_h, "direct")
        .unionByName(_finish(merged_h, "merged"))
        .orderBy("method")
    )


def sketch_cms_freq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream, probed at the
    exact top-{CMS_TOP} terms: for each term the sketch's estimate
    (min over DEPTH salted rows) next to the exact count and the
    overcount (always >= 0 — CMS never underestimates).

    Output: (term, exact_cnt, cms_cnt, overcount, rnk) by rank."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    js = cms_depth_axis()
    cms = (
        toks.withColumn("j", F.explode(js))
        .select(
            "j", F.expr(cms_bucket_sql(SPARK, "term")).alias("bucket")
        )
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cell_cnt"))
    )
    exact = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt")
    )
    top = exact.orderBy(F.desc("exact_cnt"), "term").limit(CMS_TOP)
    w = Window.orderBy(F.desc("exact_cnt"), "term")
    top = top.withColumn("rnk", F.row_number().over(w))
    probes = top.withColumn("j", F.explode(js)).withColumn(
        "bucket", F.expr(cms_bucket_sql(SPARK, "term"))
    )
    # the sketch is <= DEPTH*WIDTH rows — broadcast it to the probes
    return (
        probes.join(F.broadcast(cms), ["j", "bucket"])
        .groupBy("term", "exact_cnt", "rnk")
        .agg(F.min("cell_cnt").alias("cms_cnt"))
        .selectExpr(
            "term",
            "exact_cnt",
            "cms_cnt",
            "cms_cnt - exact_cnt as overcount",
            "rnk",
        )
        .orderBy("rnk")
    )


#: the two event streams whose same-user join size the CMS predicts
_JS_SIDE_A = "click"
_JS_SIDE_B = "purchase"


def sketch_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based JOIN-SIZE estimation — the inner-product read of a
    count-min sketch (Cormode & Muthukrishnan 2005 §4.2; the AMS
    F2/join-size line of work): estimate
    |click ⋈_user purchase| = Σ_u f_click(u)·f_purchase(u)
    from two CMS sketches as min_j Σ_bucket cmsA[j,b]·cmsB[j,b],
    with the exact answer beside it. This is the cardinality a query
    optimizer wants BEFORE running the join (the raw blowup behind
    evt_click_purchase_pairs), shipped as two 4 KB sketches instead
    of a corpus shuffle.

    Guarantee: the estimate never underestimates (every bucket sum is
    a sum of non-negative products that includes the true diagonal).

    Scale (100 TB): the corpus collapses ONCE to per-(type, user)
    counts (map-side combine); the CMS build explodes DEPTH rows over
    that REDUCED frame and partial-aggregates to ≤ 2·DEPTH·WIDTH
    cells; the dot product joins two ≤4096-row frames (broadcast).
    The exact side is one more keyed shuffle of the reduced frame.

    Output: one row (exact_join_size, cms_join_size, overcount,
    overcount_ppm).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_JS_SIDE_A, _JS_SIDE_B)
    )
    cnt = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    js = cms_depth_axis()
    cells = (
        cnt.withColumn("j", F.explode(js))
        .select(
            "event_type",
            "j",
            F.expr(cms_bucket_sql(SPARK, SPARK.cast_str("user_id"))).alias("bucket"),
            "f",
        )
        .groupBy("event_type", "j", "bucket")
        .agg(F.sum("f").cast("long").alias("cell"))
    )
    a = cells.filter(F.col("event_type") == _JS_SIDE_A).select(
        "j", "bucket", F.col("cell").alias("ca")
    )
    b = cells.filter(F.col("event_type") == _JS_SIDE_B).select(
        "j", "bucket", F.col("cell").alias("cb")
    )
    dots = (
        a.join(F.broadcast(b), ["j", "bucket"])
        .groupBy("j")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("dot"))
    )
    est = dots.agg(F.min("dot").cast("long").alias("cms_join_size"))
    per_user = cnt.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == _JS_SIDE_A, F.col("f"))
              .otherwise(F.lit(0))).alias("fa"),
        F.sum(F.when(F.col("event_type") == _JS_SIDE_B, F.col("f"))
              .otherwise(F.lit(0))).alias("fb"),
    )
    exact = per_user.agg(
        F.sum(F.col("fa") * F.col("fb")).cast("long").alias("exact_join_size")
    )
    return (
        exact.crossJoin(F.broadcast(est))
        .selectExpr(
            "exact_join_size",
            "cms_join_size",
            "cms_join_size - exact_join_size as overcount",
            "(cms_join_size - exact_join_size) * 1000000"
            " div nullif(exact_join_size, 0) as overcount_ppm",
        )
    )


def _cms_join_size_sql(d: Dialect) -> str:
    return f"""
WITH cnt AS (
    SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS f
    FROM events
    WHERE event_type IN ('{_JS_SIDE_A}', '{_JS_SIDE_B}')
    GROUP BY 1, 2
),
stream AS (
    SELECT c.event_type, j.j, c.user_id, c.f
    FROM cnt c CROSS JOIN (SELECT {d.fn('unnest', cms_depth_sql(d))} AS j) j
),
cells AS (
    SELECT event_type, j, {cms_bucket_sql(d, d.cast_str('user_id'))} AS bucket,
           CAST(SUM(f) AS BIGINT) AS cell
    FROM stream GROUP BY 1, 2, 3
),
dots AS (
    SELECT a.j, CAST(SUM(a.cell * b.cell) AS BIGINT) AS dot
    FROM cells a JOIN cells b ON a.j = b.j AND a.bucket = b.bucket
    WHERE a.event_type = '{_JS_SIDE_A}' AND b.event_type = '{_JS_SIDE_B}'
    GROUP BY a.j
),
est AS (SELECT CAST(MIN(dot) AS BIGINT) AS cms_join_size FROM dots),
per_user AS (
    SELECT user_id,
           SUM(CASE WHEN event_type = '{_JS_SIDE_A}' THEN f ELSE 0 END) AS fa,
           SUM(CASE WHEN event_type = '{_JS_SIDE_B}' THEN f ELSE 0 END) AS fb
    FROM cnt GROUP BY user_id
),
ex AS (
    SELECT CAST(SUM(fa * fb) AS BIGINT) AS exact_join_size FROM per_user
)
SELECT ex.exact_join_size, est.cms_join_size,
       est.cms_join_size - ex.exact_join_size AS overcount,
       (est.cms_join_size - ex.exact_join_size) * 1000000
         {d.div} nullif(ex.exact_join_size, 0) AS overcount_ppm
FROM ex CROSS JOIN est
"""


def _kmv_distinct_sql(d: Dialect) -> str:
    return f"""
WITH h AS (
    SELECT DISTINCT source, {_h_sql(d)} AS h FROM documents
),
ranked AS (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM h
),
sk AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sk, MAX(h) AS h_k
    FROM ranked WHERE rn <= {KMV_K} GROUP BY source
),
ex AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS exact_distinct
    FROM h GROUP BY source
),
est AS (
    SELECT s.source, e.exact_distinct, s.n_sk,
           CAST(CASE WHEN s.n_sk < {KMV_K} THEN s.n_sk
                ELSE {_KMV_FULL_EST} {d.div} s.h_k END AS BIGINT) AS kmv_estimate
    FROM sk s JOIN ex e USING (source)
)
SELECT source, exact_distinct, n_sk, kmv_estimate,
       CAST((kmv_estimate - exact_distinct) * 1000000
            {d.div} nullif(exact_distinct, 0) AS BIGINT) AS err_ppm
FROM est ORDER BY source
"""


def _kmv_merge_sql(d: Dialect) -> str:
    return f"""
WITH h AS (SELECT lang, {_h_sql(d)} AS h FROM documents),
lang_h AS (SELECT DISTINCT lang, h FROM h),
lang_ranked AS (
    SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
    FROM lang_h
),
merged_pool AS (SELECT DISTINCT h FROM lang_ranked WHERE rn <= {KMV_K}),
global_pool AS (SELECT DISTINCT h FROM h),
finish AS (
    SELECT 'direct' AS method, h,
           row_number() OVER (ORDER BY h) AS rn
    FROM global_pool
    UNION ALL
    SELECT 'merged' AS method, h,
           row_number() OVER (ORDER BY h) AS rn
    FROM merged_pool
),
sk AS (
    SELECT method, CAST(COUNT(*) AS BIGINT) AS n_sk, MAX(h) AS h_k
    FROM finish WHERE rn <= {KMV_K} GROUP BY method
)
SELECT method, n_sk, h_k,
       CAST(CASE WHEN n_sk < {KMV_K} THEN n_sk
            ELSE {_KMV_FULL_EST} {d.div} h_k END AS BIGINT) AS kmv_estimate
FROM sk ORDER BY method
"""


_TOP_TERMS = """SELECT term, exact_cnt,
           row_number() OVER (ORDER BY exact_cnt DESC, term) AS rnk
    FROM exact"""


def _cms_freq_sql(d: Dialect) -> str:
    return f"""
WITH toks AS (
    SELECT {d.fn('unnest', d.fn('string_split', 'text', "' '"))} AS term FROM documents
),
stream AS (
    SELECT t.term, j.j
    FROM toks t CROSS JOIN (SELECT {d.fn('unnest', cms_depth_sql(d))} AS j) j
),
cms AS (
    SELECT j, {cms_bucket_sql(d, 'term')} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cell_cnt
    FROM stream GROUP BY 1, 2
),
exact AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_cnt
    FROM toks GROUP BY term
),
top AS (
    {d.qualify(_TOP_TERMS, f"rnk <= {CMS_TOP}")}
),
probes AS (
    SELECT t.term, t.exact_cnt, t.rnk, j.j,
           {cms_bucket_sql(d, 'term')} AS bucket
    FROM top t CROSS JOIN (SELECT {d.fn('unnest', cms_depth_sql(d))} AS j) j
)
SELECT p.term, p.exact_cnt,
       MIN(c.cell_cnt) AS cms_cnt,
       MIN(c.cell_cnt) - p.exact_cnt AS overcount,
       p.rnk
FROM probes p JOIN cms c ON p.j = c.j AND p.bucket = c.bucket
GROUP BY p.term, p.exact_cnt, p.rnk
ORDER BY p.rnk
"""


def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set operations: pairwise source VOCABULARY Jaccard estimated
    from merged per-source sketches, with the exact answer beside it —
    the sketch-union/intersection read a curation team uses to compare
    1000 tenants without a quadratic corpus scan (Beyer et al.,
    "On Synopses for Distinct-Value Estimation Under Multiset
    Operations", SIGMOD'07).

    Estimator: merge A's and B's K-min sets, re-take the K minimum
    (that IS the KMV sketch of A∪B — the merge law
    sketch_kmv_merge_check proves); within that union sketch the
    fraction of hashes present in BOTH input sketches estimates
    J(A,B), and the union sketch's own (n_sk, h_k) estimates |A∪B|.

    Scale (100 TB): the corpus is touched ONCE (distinct (source,
    term-hash), map-side combine); per-source sketches are ≤ K rows ×
    |sources| — broadcast-sized, so every pair step below runs on a
    bounded frame no matter the corpus size. The exact columns are one
    hash-partitioned self-equi-join on the 52-bit hash (posting lists
    bounded by |sources| per hash, same argument as
    corpus_source_overlap).

    Output: (src_a, src_b, n_union_sk, union_estimate, inter_in_sketch,
    jaccard_est_ppm, exact_inter, exact_union, exact_jaccard_ppm,
    err_ppm) ordered by (src_a, src_b). err_ppm = est − exact.
    """
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    terms = docs.select(
        "source",
        F.explode(F.expr("filter(split(text, ' '), x -> x != '')")).alias(
            "term"
        ),
    )
    # dh feeds the sketch AND both exact branches (sizes, intersection)
    # and minset feeds srcs/side_a/side_b: pin both, or the corpus
    # tokenize+hash pass re-runs per consumer (~8 scans unpinned)
    dh = (
        terms.select("source", F.expr(_h_sql(SPARK, "term")).alias("h"))
        .groupBy("source", "h")
        .agg(F.count(F.lit(1)).alias("_"))
        .drop("_")
        .transform(materialize)
    )
    minset = _kmv_minset(dh, ["source"]).transform(materialize)

    srcs = minset.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("sa"))
        .crossJoin(F.broadcast(srcs.select(F.col("source").alias("sb"))))
        .filter(F.col("sa") < F.col("sb"))
    )
    side_a = pairs.join(
        F.broadcast(minset), pairs.sa == minset.source
    ).select("sa", "sb", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    side_b = pairs.join(
        F.broadcast(minset), pairs.sb == minset.source
    ).select("sa", "sb", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    pool = (
        side_a.unionByName(side_b)
        .groupBy("sa", "sb", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    # per-pair window over <= 2K rows — bounded by the SKETCH, not the
    # corpus (contrast: the unpartitioned-window trap drank.py replaced)
    w = Window.partitionBy("sa", "sb").orderBy("h")
    usk = (
        pool.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("sa", "sb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sk"),
            F.max("h").alias("h_k"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias(
                "inter_sk"
            ),
        )
    )

    sizes = dh.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ex_inter = (
        dh.select(F.col("source").alias("ia"), "h")
        .join(dh.select(F.col("source").alias("ib"), "h"), "h")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    return (
        usk.join(
            F.broadcast(sizes.select(F.col("source").alias("sa"),
                                     F.col("n").alias("na"))), "sa")
        .join(
            F.broadcast(sizes.select(F.col("source").alias("sb"),
                                     F.col("n").alias("nb"))), "sb")
        .join(
            F.broadcast(ex_inter),
            (F.col("sa") == F.col("ia")) & (F.col("sb") == F.col("ib")),
            "left",
        )
        .selectExpr(
            "sa as src_a",
            "sb as src_b",
            "n_sk as n_union_sk",
            f"cast(IF(n_sk < {KMV_K}, n_sk,"
            f" cast({_KMV_FULL_EST} as bigint) div h_k) as bigint)"
            " as union_estimate",
            "inter_sk as inter_in_sketch",
            "inter_sk * 1000000 div n_sk as jaccard_est_ppm",
            "coalesce(n_inter, 0) as exact_inter",
            "na + nb - coalesce(n_inter, 0) as exact_union",
            "coalesce(n_inter, 0) * 1000000"
            " div (na + nb - coalesce(n_inter, 0)) as exact_jaccard_ppm",
            "inter_sk * 1000000 div n_sk"
            " - coalesce(n_inter, 0) * 1000000"
            "   div (na + nb - coalesce(n_inter, 0)) as err_ppm",
        )
        .orderBy("src_a", "src_b")
    )


def _kmv_jaccard_sql(d: Dialect) -> str:
    return f"""
WITH terms AS (
    SELECT source,
           {d.fn('unnest', d.fn('list_filter', d.fn('string_split', 'text', "' '"), "x -> x != ''"))}
             AS term
    FROM documents
),
dh AS (SELECT DISTINCT source, {_h_sql(d, 'term')} AS h FROM terms),
ranked AS (
    SELECT source, h,
           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM dh
),
sk AS (SELECT source, h FROM ranked WHERE rn <= {KMV_K}),
srcs AS (SELECT DISTINCT source FROM sk),
pairs AS (
    SELECT a.source AS sa, b.source AS sb
    FROM srcs a JOIN srcs b ON a.source < b.source
),
pool AS (
    SELECT p.sa, p.sb, s.h,
           MAX(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS in_a,
           MAX(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS in_b
    FROM pairs p JOIN sk s ON s.source = p.sa OR s.source = p.sb
    GROUP BY 1, 2, 3
),
ranked2 AS (
    SELECT sa, sb, h, in_a, in_b,
           row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rn
    FROM pool
),
usk AS (
    SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS n_sk, MAX(h) AS h_k,
           CAST(SUM(in_a * in_b) AS BIGINT) AS inter_sk
    FROM ranked2 WHERE rn <= {KMV_K} GROUP BY 1, 2
),
sizes AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM dh GROUP BY 1
),
ex_inter AS (
    SELECT a.source AS ia, b.source AS ib,
           CAST(COUNT(*) AS BIGINT) AS n_inter
    FROM dh a JOIN dh b ON a.h = b.h AND a.source < b.source
    GROUP BY 1, 2
)
SELECT u.sa AS src_a, u.sb AS src_b, u.n_sk AS n_union_sk,
       CAST(CASE WHEN u.n_sk < {KMV_K} THEN u.n_sk
            ELSE {_KMV_FULL_EST} {d.div} u.h_k END AS BIGINT)
         AS union_estimate,
       u.inter_sk AS inter_in_sketch,
       u.inter_sk * 1000000 {d.div} u.n_sk AS jaccard_est_ppm,
       COALESCE(i.n_inter, 0) AS exact_inter,
       a.n + b.n - COALESCE(i.n_inter, 0) AS exact_union,
       COALESCE(i.n_inter, 0) * 1000000
         {d.div} (a.n + b.n - COALESCE(i.n_inter, 0)) AS exact_jaccard_ppm,
       u.inter_sk * 1000000 {d.div} u.n_sk
         - COALESCE(i.n_inter, 0) * 1000000
           {d.div} (a.n + b.n - COALESCE(i.n_inter, 0)) AS err_ppm
FROM usk u
JOIN sizes a ON a.source = u.sa
JOIN sizes b ON b.source = u.sb
LEFT JOIN ex_inter i ON i.ia = u.sa AND i.ib = u.sb
ORDER BY src_a, src_b
"""


QUERIES = {
    "sketch_kmv_distinct": sketch_kmv_distinct,
    "sketch_kmv_jaccard": sketch_kmv_jaccard,
    "sketch_cms_join_size": sketch_cms_join_size,
    "sketch_kmv_merge_check": sketch_kmv_merge_check,
    "sketch_cms_freq_report": sketch_cms_freq_report,
}

TEMPLATES = {
    "sketch_kmv_distinct": _kmv_distinct_sql,
    "sketch_kmv_jaccard": _kmv_jaccard_sql,
    "sketch_cms_join_size": _cms_join_size_sql,
    "sketch_kmv_merge_check": _kmv_merge_sql,
    "sketch_cms_freq_report": _cms_freq_sql,
}
