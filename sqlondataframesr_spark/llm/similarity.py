"""Similarity search over ``embeddings.embedding`` (array<float>, 64-d).

Two paths, both oracle-checked:

- :func:`ann_cosine_topk` — brute-force cosine top-k. The query set is
  broadcast, so the scan side streams once with no shuffle; exact, and
  the right baseline to measure every approximate variant against.
- :func:`ann_lsh_topk` / :func:`dedup_embedding_cosine` — random
  hyperplane LSH (Charikar sign sketches): each vector gets a 16-bit
  sign signature; signature split into 4 bands of 4 bits; candidates
  are pairs agreeing on >= 1 band; exact cosine is computed only on
  candidates. P[bit agree] = 1 - theta/pi, so a cosine-0.95 pair
  agrees on a 4-bit band with p ~ 0.66 and survives 4 bands with
  p ~ 0.99; unrelated vectors (cos ~ 0) collide rarely, so the
  all-pairs O(n^2) never materializes.

Determinism: the 16x64 hyperplane matrix is precomputed here from
md5("j:d") (uniform in [-1, 1), rounded to 6 dp) and embedded as a
*literal* in both the Spark expression and the DuckDB oracle — the
two engines evaluate the identical matrix, so signatures agree
bit-for-bit. Cosines are computed in double and rounded to 6 dp
before ranking; ties broken by neighbor id.

Scale (100 TB posture): signatures are map-only inside codegen (one
fused fold per plane); banding emits exactly 4 fixed-width rows per
vector, so the candidate join shuffles 4 small rows per vector rather
than the vector itself; exact scoring re-joins the full vectors only
for candidate ids. The brute-force path broadcasts the (small) query
set — scan-side stays shuffle-free. Hot buckets (dense regions) are
handled by AQE skew splitting.

Reference scope note: the reference has no vector operations at all
(SURVEY.md §2.7 "NOT present") — this module is north-star surface
(similarity search over an embedding column).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..materialize import materialize, spread_scan, truncate
from ..operators.components import min_label_components
from ..catalog import load_table
from ..functions import vector as V
from ..functions.dialect import DUCK, SPARK, Dialect, dual
from ..functions.rounding import r6 as _r6, r6_sql
from ..functions.closure_sql import packed_closure_sql

DIM = 64
NUM_PLANES = 16
BANDS = 4
BAND_BITS = NUM_PLANES // BANDS
TOP_K = 5
#: query set for the top-k operators: vec_id < N_QUERIES
N_QUERIES = 10
#: minimum exact cosine for the embedding near-dup report
COS_THRESHOLD = 0.4


def _plane_weight(j: int, d: int) -> float:
    """Deterministic uniform [-1, 1) weight from md5 — no RNG state."""
    h = hashlib.md5(f"{j}:{d}".encode()).hexdigest()[:8]
    return round(int(h, 16) / 2**32 * 2 - 1, 6)


PLANES = [[_plane_weight(j, d) for d in range(DIM)] for j in range(NUM_PLANES)]


def _planes(d: Dialect) -> str:
    """The hyperplane matrix as a literal list of double lists."""
    return d.list(",".join(d.list(",".join(f"{w}{d.D}" for w in p)) for p in PLANES))


def load_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vec_id + double-cast vector + L2 norm (cast once, reuse
    everywhere). spread_scan: band/dot-product exprs downstream are
    CPU-dense; don't let a single-row-group scan serialize them."""
    return (
        spread_scan(load_table(spark, sf_dir, "embeddings"), "vec_id")
        .select("vec_id", F.expr(V.to_double("embedding")).alias("v"))
        .withColumn("nrm", F.expr(V.l2_norm("v")))
    )




def with_signature(vectors: DataFrame) -> DataFrame:
    """Add the 16-char '0'/'1' sign signature column."""
    return vectors.withColumn(
        "sig",
        F.expr(
            f"concat_ws('', transform({_planes(SPARK)},"
            " p -> IF(aggregate(zip_with(p, v, (w, x) -> w * x), 0D, (a, x) -> a + x) >= 0,"
            " '1', '0')))"
        ),
    )


def _bands(signed: DataFrame) -> DataFrame:
    """Explode signature into (vec_id, band, bkey) — 4 fixed rows/vector."""
    return signed.select(
        "vec_id",
        F.explode(F.expr(
            f"transform(sequence(0, {BANDS - 1}),"
            f"  b -> struct(b as band, substring(sig, b * {BAND_BITS} + 1, {BAND_BITS}) as bkey))"
        )).alias("e"),
    ).select("vec_id", "e.band", "e.bkey")


def _topk(scored: DataFrame) -> DataFrame:
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "neighbor_id", "cosine", "rnk")
        .orderBy("q_id", "rnk")
    )


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for each query vector (vec_id < 10).

    The query side is broadcast — the full scan streams once against an
    in-memory query table (BroadcastNestedLoopJoin), no shuffle of the
    big side at any scale.
    """
    vec = load_vectors(spark, sf_dir)
    q = vec.select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    ).filter(F.col("q_id") < N_QUERIES)
    scored = (
        vec.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(V.cosine(SPARK, "qv", "v", "qn", "nrm", DIM)).alias("cosine"),
        )
    )
    return _topk(scored)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 among LSH band-collision candidates (the approximate path).

    Same output shape as :func:`ann_cosine_topk`; recall < 1 by design —
    the oracle replicates the bucketing, so the check pins the
    *algorithm*, not ideal-kNN."""
    # vec feeds three branches (bands + query/neighbor score joins)
    vec = load_vectors(spark, sf_dir).transform(materialize)
    bands = _bands(with_signature(vec))
    qb = bands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "band", "bkey"
    )
    cand = (
        bands.join(F.broadcast(qb), ["band", "bkey"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    qv = vec.select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn"))
    nv = vec.select(F.col("vec_id").alias("neighbor_id"), "v", "nrm")
    scored = (
        cand.join(F.broadcast(qv), "q_id")
        .join(nv, "neighbor_id")
        .select("q_id", "neighbor_id",
                F.expr(V.cosine(SPARK, "qv", "v", "qn", "nrm", DIM)).alias("cosine"))
    )
    return _topk(scored)


#: neighbors per vector in the corpus-wide kNN graph
KNN_K = 3


def knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide approximate kNN graph: top-3 cosine neighbors for
    EVERY vector, candidates from LSH band collisions.

    The all-vectors sibling of :func:`ann_lsh_topk` (which serves a
    small query set): semantic dedup, SSL-prototype mining and graph-
    based curation (e.g. SemDeDup-style cluster pruning) all start
    from this artifact. Brute force is O(n^2); here candidates are
    pairs agreeing on >= 1 of 4 signature bands, so the join cost is
    sum over (band, bucket) of bucket_size^2 — dense semantic regions
    pay for exactly the comparisons that matter. The oracle replicates
    the bucketing, so the check pins the algorithm, not ideal-kNN
    (recall < 1 by design, same contract as ann_lsh_topk).

    Scale: signatures map-side (one fused fold per plane); the band
    self-join shuffles 4 fixed-width rows per vector; exact cosines
    only on candidate pairs; hot buckets split by AQE skew handling.
    Vectors with no band collision have no row — at production scale
    you union a random-neighbor fallback for isolated points.
    """
    vec = load_vectors(spark, sf_dir).transform(materialize)
    # bands feed both sides of the self-join — checkpoint once
    bands = _bands(with_signature(vec)).transform(materialize)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("q_id"), F.col("b.vec_id").alias("neighbor_id"))
        .distinct()
    )
    qv = vec.select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    nv = vec.select(F.col("vec_id").alias("neighbor_id"), "v", "nrm")
    scored = (
        cand.join(qv, "q_id")
        .join(nv, "neighbor_id")
        .select(
            "q_id",
            "neighbor_id",
            F.expr(V.cosine(SPARK, "qv", "v", "qn", "nrm", DIM)).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_K)
        .select(F.col("q_id").alias("vec_id"), "neighbor_id", "cosine", "rnk")
        .orderBy("vec_id", "rnk")
    )


#: IVF coarse quantizer: number of inverted lists and probed lists
NLIST = 8
NPROBE = 2


def assign_lists(
    vec: DataFrame, centroids: DataFrame, id_col: str, with_cos: bool = False
) -> DataFrame:
    """Nearest-centroid assignment: (id, list_id) by max cosine
    (6 dp rounded, smaller centroid id wins ties). ``with_cos`` also
    returns the winning cosine as ``proto_cos`` (= max(ccos): the
    winner has the maximum cosine by definition; the -c_id tie-break
    only picks WHICH centroid wins among equals) — the single shared
    home for the assignment tie-break, so semdedup and the
    prototypicality pruner can never drift apart (code-review r8)."""
    scored = vec.join(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col("c_id"),
        F.expr(V.cosine(SPARK, "v", "cv", "nrm", "cn", DIM)).alias("ccos"),
    )
    aggs = [F.expr("max_by(c_id, struct(ccos, -c_id))").alias("list_id")]
    if with_cos:
        aggs.append(F.max("ccos").alias("proto_cos"))
    return scored.groupBy(id_col).agg(*aggs)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: vectors are bucketed into NLIST
    inverted lists by nearest coarse centroid; each query probes its
    NPROBE nearest lists and reranks exactly — the classic
    cluster-then-probe scale path (FAISS IVFFlat shape).

    Centroids here are the first NLIST vectors by id — a deterministic
    stand-in for a k-means codebook (the codebook's QUALITY is
    orthogonal to the partition/probe machinery this operator pins;
    a real pipeline would plug trained centroids into the same plan).

    Scale: assignment is a broadcast of NLIST tiny centroid rows
    against the scan plus one groupBy(vec_id) — the standard IVF build
    shuffle; per query only ~NPROBE/NLIST of the corpus is scored.
    Probes (q_id x list_id, NPROBE rows per query) broadcast to the
    assigned corpus, so the big side never reshuffles. Recall < 1 by
    design; the oracle replicates the bucketing, pinning the
    algorithm, not ideal-kNN."""
    vec = load_vectors(spark, sf_dir).transform(materialize)
    centroids = vec.filter(F.col("vec_id") < NLIST).select(
        F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    return ivf_from_centroids(vec, centroids)


def ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the TRAINED k-means codebook — the end-to-end
    pipeline :func:`kmeans_train`'s docstring promises: Lloyd
    iterations produce the centroids, the identical partition/probe/
    rerank machinery (:func:`ivf_from_centroids`) serves queries.

    Same scale posture as ann_ivf_topk plus the training cost (one
    corpus scan + one K-group aggregate per iteration). The oracle
    replays the unrolled training AND the probe in one SQL statement,
    so the differential check pins the whole pipeline, not just the
    serving half."""
    vec = load_vectors(spark, sf_dir).transform(materialize)
    cent = kmeans_centroids(vec).select("c_id", "cv", "cn")
    return ivf_from_centroids(vec, cent)


def ivf_from_centroids(vec: DataFrame, centroids: DataFrame) -> DataFrame:
    """The IVF partition/probe/rerank machinery, codebook-agnostic:
    broadcast assignment, NPROBE probes per query, exact rerank on
    candidates only. Plugged by :func:`ann_ivf_topk` (stand-in
    codebook) and :func:`ann_ivf_trained` (k-means codebook)."""
    assigned = assign_lists(vec, centroids, "vec_id")

    q = vec.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    q_scored = q.join(F.broadcast(centroids)).select(
        "q_id", "c_id",
        F.expr(V.cosine(SPARK, "qv", "cv", "qn", "cn", DIM)).alias("ccos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("ccos"), F.col("c_id"))
    probes = (
        q_scored.withColumn("prnk", F.row_number().over(w))
        .filter(F.col("prnk") <= NPROBE)
        .select("q_id", F.col("c_id").alias("list_id"))
    )
    cand = (
        assigned.join(F.broadcast(probes), "list_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
    )
    qv = vec.select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn"))
    nv = vec.select(F.col("vec_id").alias("neighbor_id"), "v", "nrm")
    scored = (
        cand.join(F.broadcast(qv.filter(F.col("q_id") < N_QUERIES)), "q_id")
        .join(nv, "neighbor_id")
        .select("q_id", "neighbor_id",
                F.expr(V.cosine(SPARK, "qv", "v", "qn", "nrm", DIM)).alias("cosine"))
    )
    return _topk(scored)


def _mean_us(d: Dialect, s: str, n: str) -> str:
    """Round-half-up integer mean in micro units: mi = round(s/n) on
    exact integers, half away from zero. The r11 skew tree exposed why
    this can NOT be spelled as float round(round(s/(n*1e6),6)*1e6):
    when s/n lands exactly on a .5 micro boundary (label 5's comp 4,
    s ≡ n/2 mod n), Spark's and DuckDB's float ``round`` broke the tie
    in opposite directions (-65394 vs -65393). The integer spelling
    (2s+n) div (2n), sign-split so the operands are non-negative where
    Spark ``div`` and DuckDB ``//`` provably agree, is exact on both
    engines for every input. Overflow bound: |2s+n| <= n*(2*0.52e6+1),
    inside int64 through n ~ 8.8e12 rows per group."""
    return (
        f"(CASE WHEN {s} >= 0 THEN (2 * {s} + {n}) {d.div} (2 * {n})"
        f" ELSE -((2 * -({s}) + {n}) {d.div} (2 * {n})) END)"
    )


def emb_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column — the aggregation
    behind cluster quality checks, IVF codebook refresh, and
    label-drift monitoring.

    Element-wise mean WITHOUT exploding: each of the 64 dimensions is
    a separate aggregate column, so the plan is ONE hash aggregate
    with map-side partials shuffling 64 longs per (partition, label) —
    versus explode's 64x row blow-up through the shuffle.

    Determinism: each component is quantized to integer micros
    (round(x*1e6)) BEFORE summing, so partial-aggregation order cannot
    perturb the sum — both engines produce the identical integer, and
    the mean stays in integers via :func:`_mean_us` (round-half-up
    (2s+n) div (2n)): the r11 skew tree proved the earlier float
    round-of-round spelling tie-breaks differently across engines at
    exact .5-micro boundaries.

    Output: the centroid is serialized as a comma-joined string of
    per-component integer micros (``centroid_us``) so result rows are
    hashable/sortable by any harness."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", F.expr(V.to_double("embedding")).alias("v")
    )
    sums = [
        F.sum(F.expr(f"cast(round(v[{i}] * 1000000) as bigint)")).alias(f"s{i}")
        for i in range(DIM)
    ]
    g = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"), *sums)
    comps_us = [
        F.expr(_mean_us(SPARK, f"s{i}", "n")).cast("string")
        for i in range(DIM)
    ]
    return g.select(
        "label", "n", F.concat_ws(",", *comps_us).alias("centroid_us")
    ).orderBy("label")


def _centroid_sql(d: Dialect) -> str:
    sums = ",\n       ".join(
        f"SUM(CAST(round({d.at('v', i + 1)} * 1000000) AS BIGINT)) AS s{i}" for i in range(DIM)
    )
    comps = ", ".join(d.cast_str(_mean_us(d, f"s{i}", "n")) for i in range(DIM))
    return f"""
WITH e AS (SELECT label, {d.comp('CAST(x AS DOUBLE)', 'x', 'embedding')} AS v FROM embeddings),
g AS (
  SELECT label, COUNT(*) AS n,
       {sums}
  FROM e GROUP BY label
)
SELECT label, n, concat_ws(',', {comps}) AS centroid_us FROM g ORDER BY label
"""


#: k-means trainer: clusters and unrolled Lloyd iterations
KM_K = 8
KM_ITERS = 3


def kmeans_centroids(vec: DataFrame) -> DataFrame:
    """KM_ITERS unrolled Lloyd iterations → (c_id, n, cv, cn).

    Init = first KM_K vectors by id; assignment on 6-dp-rounded cosine
    with id tie-break; means from exact integer-micros sums — fully
    deterministic, replayed verbatim by the DuckDB oracles (kmeans
    and ann_ivf_trained)."""
    cent = vec.filter(F.col("vec_id") < KM_K).select(
        F.col("vec_id").alias("c_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        F.lit(1).alias("n"),
    )
    sums = [
        F.sum(F.expr(f"cast(round(v[{i}] * 1000000) as bigint)")).alias(f"s{i}")
        for i in range(DIM)
    ]
    comps = [
        # exact integer-micros mean (see _mean_us), back to a double
        # component: mi/1e6 is the same IEEE double on both engines.
        # CAST, not a bare 1000000.0 literal — Spark parses that as
        # DECIMAL and the whole centroid would silently go decimal
        F.expr(
            f"cast({_mean_us(SPARK, f's{i}', 'n')} as double)"
            " / cast(1000000.0 as double)"
        )
        for i in range(DIM)
    ]
    for _ in range(KM_ITERS):
        assigned = assign_lists(vec, cent.select("c_id", "cv", "cn"), "vec_id")
        g = (
            vec.join(assigned, "vec_id")
            .groupBy("list_id")
            .agg(F.count(F.lit(1)).alias("n"), *sums)
        )
        cent = (
            g.select(F.col("list_id").alias("c_id"), "n", F.array(*comps).alias("cv"))
            .withColumn("cn", F.expr(V.l2_norm("cv")))
            .transform(truncate)
        )
    return cent


def kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the IVF codebook: KM_ITERS unrolled Lloyd iterations of
    spherical k-means (cosine assignment) over the embedding column,
    returning (c_id, n, centroid). Plugs directly into
    :func:`ann_ivf_topk`'s assignment plan — this is the "real
    pipeline would plug trained centroids in" path made concrete.

    The iterative-algorithm pattern on Spark: per iteration one
    broadcast of the K tiny centroid rows against the scan (assignment
    — no shuffle of the corpus), then ONE hash aggregate keyed on the
    cluster id for the centroid update (the explode-free 64-column
    integer-micros mean of :func:`emb_label_centroid`). State between
    iterations is K rows; ``materialize.truncate`` cuts each round so the
    lazy plan doesn't grow K*ITERS deep. At 100 TB each iteration is
    one corpus scan + one 8-group aggregate — bandwidth-bound, no
    quadratic term anywhere.

    Deterministic across engines: init = first K vectors by id,
    assignment on 6-dp-rounded cosine with id tie-break, means from
    exact integer-micros sums — the DuckDB oracle replays the
    identical unrolled iterations.
    """
    vec = load_vectors(spark, sf_dir).transform(materialize)
    cent = kmeans_centroids(vec)
    # serialize the centroid as comma-joined integer micros — harness-
    # hashable, and round(x*1e6) of a 6-dp component is engine-exact
    cent_us = F.expr(
        "array_join(transform(cv,"
        " x -> cast(cast(round(x * 1000000.0) as bigint) as string)), ',')"
    )
    return cent.select("c_id", "n", cent_us.alias("centroid_us")).orderBy("c_id")


def kmeans_parts(d: Dialect) -> list[str]:
    """CTE list replaying the unrolled Lloyd iterations — shared by the
    kmeans_train, ann_ivf_trained, semdedup and contrastive SQL (final
    centroid CTE: ``c{KM_ITERS}`` with c_id, n, cv, cn)."""
    sums = ",\n         ".join(
        f"SUM(CAST(round({d.at('v', i + 1)} * 1000000) AS BIGINT)) AS s{i}" for i in range(DIM)
    )
    comps = ", ".join(f"({_mean_us(d, f's{i}', 'n')} / 1000000.0{d.D})" for i in range(DIM))
    parts = [
        f"vec AS ({vec_sql(d)})",
        f"c0 AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM vec WHERE vec_id < {KM_K})",
    ]
    for it in range(KM_ITERS):
        cos = _cos(d, "vec.v", f"c{it}.cv", "vec.nrm", f"c{it}.cn")
        parts.append(
            f"""a{it} AS (
  SELECT vec_id, c_id AS list_id FROM (
    SELECT vec.vec_id, c{it}.c_id,
           row_number() OVER (PARTITION BY vec.vec_id
                              ORDER BY {cos} DESC, c{it}.c_id) AS arnk
    FROM vec CROSS JOIN c{it}) WHERE arnk = 1)"""
        )
        parts.append(
            f"""g{it} AS (
  SELECT list_id, COUNT(*) AS n,
         {sums}
  FROM vec JOIN a{it} USING (vec_id) GROUP BY list_id)"""
        )
        parts.append(
            f"""c{it + 1} AS (
  SELECT list_id AS c_id, n, {d.list(comps)} AS cv,
         sqrt({d.list_sum(d.fn('list_transform', d.list(comps), 'x -> x * x'))}) AS cn
  FROM g{it})"""
        )
    return parts


def _kmeans_sql(d: Dialect) -> str:
    as_us = d.cast_str("CAST(round(x * 1000000.0) AS BIGINT)")
    cent_us = d.fn("array_to_string", d.fn("list_transform", "cv", f"x -> {as_us}"), "','")
    return (
        "WITH "
        + ",\n".join(kmeans_parts(d))
        + f"\nSELECT c_id, n, {cent_us} AS centroid_us"
        + f" FROM c{KM_ITERS} ORDER BY c_id"
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup vector pairs: band collision then exact cosine >= 0.4."""
    # vec feeds three branches (bands + both sides of the score join)
    vec = load_vectors(spark, sf_dir).transform(materialize)
    bands = _bands(with_signature(vec))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    va = vec.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    vb = vec.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b",
                F.expr(V.cosine(SPARK, "va", "vb", "na", "nb", DIM)).alias("cosine"))
        .filter(F.col("cosine") >= COS_THRESHOLD)
        .orderBy("vec_a", "vec_b")
    )


def vec_sql(d: Dialect) -> str:
    """vec_id, the double-cast vector ``v`` and its L2 norm ``nrm``."""
    dbl = "CAST(x AS DOUBLE)"
    return f"""
  SELECT vec_id, {d.comp(dbl, 'x', 'embedding')} AS v,
         sqrt({d.list_sum(d.comp(f'{dbl} * {dbl}', 'x', 'embedding'))}) AS nrm
  FROM embeddings
"""


def _cos(d: Dialect, a: str, b: str, na: str, nb: str) -> str:
    return V.cosine(d, a, b, na, nb, DIM)


def _sig_sql(d: Dialect) -> str:
    dot = d.zip_sum("p", "v", DIM)
    gap = "\n" + " " * 24
    bits = d.comp(f"""CASE WHEN {dot} >= 0
                         THEN '1' ELSE '0' END""", "p", _planes(d))
    return f"""
  SELECT vec_id,
         {d.string_agg_list(bits, "''", gap=gap)} AS sig
  FROM vec
"""


def _bands_sql(d: Dialect) -> str:
    lo = f"t.b * {BAND_BITS} + 1"
    return f"""
  SELECT vec_id, t.b AS band,
         {d.str_slice('sig', lo, f't.b * {BAND_BITS} + {BAND_BITS}', BAND_BITS, sep=' : ')} AS bkey
  FROM sig, range(0, {BANDS}) t(b)
"""


#: rank each query's scored neighbors by exact cosine, ties by id
_RANK_BY_COSINE = """r AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM scored
)"""
#: the exact top-k tail every cosine top-k oracle ends with
_TOP_K_TAIL = f"""{_RANK_BY_COSINE}
SELECT q_id, neighbor_id, cosine, rnk FROM r WHERE rnk <= {TOP_K} ORDER BY q_id, rnk
"""


def _rerank_sql(d: Dialect) -> str:
    """``scored``: the exact cosine of each candidate pair in ``cand``
    (q_id, neighbor_id), read from the ``vec`` CTE."""
    return f"""scored AS (
  SELECT cand.q_id, cand.neighbor_id,
         {_cos(d, 'q.v', 'c.v', 'q.nrm', 'c.nrm')} AS cosine
  FROM cand
  JOIN vec q ON q.vec_id = cand.q_id
  JOIN vec c ON c.vec_id = cand.neighbor_id
)"""


def _lsh_cand_sql(d: Dialect) -> str:
    """vec -> sig -> bands -> the open ``cand`` CTE: distinct pairs
    that share a band bucket (the caller may add a WHERE, then closes
    the CTE)."""
    return f"""WITH vec AS ({vec_sql(d)}),
sig AS ({_sig_sql(d)}),
bands AS ({_bands_sql(d)}),
cand AS (
  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS neighbor_id
  FROM bands q JOIN bands c ON q.band = c.band AND q.bkey = c.bkey AND c.vec_id != q.vec_id"""


def _cosine_topk_sql(d: Dialect) -> str:
    return f"""
WITH vec AS ({vec_sql(d)}),
scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         {_cos(d, 'q.v', 'c.v', 'q.nrm', 'c.nrm')} AS cosine
  FROM vec q JOIN vec c ON c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
{_TOP_K_TAIL}"""


def _knn_graph_lsh_sql(d: Dialect) -> str:
    return f"""
{_lsh_cand_sql(d)}
),
{_rerank_sql(d)},
{_RANK_BY_COSINE}
SELECT q_id AS vec_id, neighbor_id, cosine, rnk FROM r WHERE rnk <= {KNN_K}
ORDER BY vec_id, rnk
"""


def _lsh_topk_sql(d: Dialect) -> str:
    return f"""
{_lsh_cand_sql(d)}
  WHERE q.vec_id < {N_QUERIES}
),
{_rerank_sql(d)},
{_TOP_K_TAIL}"""

#: IVF probe/rerank SQL, codebook-agnostic — expects a ``cent`` CTE
#: (c_id, cv, cn) and the ``vec`` CTE to be in scope. Appended after
#: either the stand-in cent (ANN_IVF_TOPK_ORACLE) or the unrolled
#: k-means parts (_ivf_trained_oracle).
def _ivf_body_sql(d: Dialect) -> str:
    return f"""asg_scored AS (
  SELECT vec.vec_id, cent.c_id,
         {_cos(d, 'vec.v', 'cent.cv', 'vec.nrm', 'cent.cn')} AS ccos
  FROM vec CROSS JOIN cent
),
asg AS (
  SELECT vec_id, c_id AS list_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arnk
        FROM asg_scored)
  WHERE arnk = 1
),
probes AS (
  SELECT vec_id AS q_id, c_id AS list_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS prnk
        FROM asg_scored WHERE vec_id < {N_QUERIES})
  WHERE prnk <= {NPROBE}
),
cand AS (
  SELECT probes.q_id, asg.vec_id AS neighbor_id
  FROM asg JOIN probes USING (list_id)
  WHERE asg.vec_id != probes.q_id
),
{_rerank_sql(d)},
{_TOP_K_TAIL}"""


def _ivf_topk_sql(d: Dialect) -> str:
    return f"""
WITH vec AS ({vec_sql(d)}),
cent AS (
  SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM vec WHERE vec_id < {NLIST}
),
{_ivf_body_sql(d)}"""


def _ivf_trained_sql(d: Dialect) -> str:
    """Unrolled k-means training + IVF probe in ONE SQL statement."""
    return (
        "WITH "
        + ",\n".join(kmeans_parts(d))
        + f",\ncent AS (SELECT c_id, cv, cn FROM c{KM_ITERS}),\n"
        + _ivf_body_sql(d)
    )


def _dedup_embedding_cosine_sql(d: Dialect) -> str:
    return f"""
WITH vec AS ({vec_sql(d)}),
sig AS ({_sig_sql(d)}),
bands AS ({_bands_sql(d)}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
),
scored AS (
  SELECT cand.vec_a, cand.vec_b,
         {_cos(d, 'va.v', 'vb.v', 'va.nrm', 'vb.nrm')} AS cosine
  FROM cand
  JOIN vec va ON va.vec_id = cand.vec_a
  JOIN vec vb ON vb.vec_id = cand.vec_b
)
SELECT vec_a, vec_b, cosine FROM scored
WHERE cosine >= {COS_THRESHOLD}{d.D}
ORDER BY vec_a, vec_b
"""


def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column:
    per-vector scale = 127 / max|x|, q_i = floor(x_i * scale + 0.5)
    (explicit floor(+0.5): identical half-up rounding on every engine,
    no round()-mode divergence). The standard storage/serving
    compression for vector indexes — 4x smaller than float32, and the
    int8 dot product is what SIMD ANN kernels consume.

    Pure map over the scan: no shuffle, no UDF — transform/array_max
    run inside codegen. Emits the quantized vector, its per-vector
    scale (to dequantize) and the quantization error (max abs diff
    after round-trip) so a pipeline can gate on quality.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    return (
        v.withColumn("maxabs", F.expr("array_max(transform(v, x -> abs(x)))"))
        .withColumn(
            "scale",
            F.when(F.col("maxabs") > 0, F.lit(127.0) / F.col("maxabs")).otherwise(
                F.lit(0.0)
            ),
        )
        .withColumn(
            "q_emb",
            F.expr("transform(v, x -> cast(floor(x * scale + 0.5d) as int))"),
        )
        .withColumn(
            "max_err",
            F.when(F.col("scale") > 0,
                   _r6(
                       F.expr(
                           "array_max(transform(zip_with(v, q_emb,"
                           " (x, q) -> abs(x - q / scale)), e -> e))"
                       ))).otherwise(F.lit(0.0)),
        )
        .select(
            "vec_id",
            # int8 codes serialize losslessly as a comma-joined string —
            # keeps harness rows hashable without array cells
            F.expr(
                "array_join(transform(q_emb, x -> cast(x as string)), ',')"
            ).alias("q_emb_str"),
            _r6("scale").alias("scale"),
            "max_err",
        )
        .orderBy("vec_id")
    )


EMB_QUANTIZE_INT8_ORACLE = f"""
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
s AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) AS maxabs
  FROM v
),
sc AS (
  SELECT vec_id, v,
         CASE WHEN maxabs > 0 THEN 127.0 / maxabs ELSE 0.0 END AS scale
  FROM s
),
q AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CAST(floor(x * scale + 0.5) AS INT)) AS q_emb
  FROM sc
)
SELECT vec_id,
       array_to_string(list_transform(q_emb, x -> CAST(x AS VARCHAR)), ',') AS q_emb_str,
       {r6_sql('scale')} AS scale,
       CASE WHEN scale > 0
            THEN {r6_sql('''list_max(list_transform(
                   list_zip(v, q_emb),
                   p -> abs(p[1] - p[2] / scale)))''')}
            ELSE 0.0 END AS max_err
FROM q
ORDER BY vec_id
"""


#: random-projection output dimensionality (Johnson–Lindenstrauss sketch)
RP_DIMS = 8

#: RP_DIMS x DIM projection matrix, md5-derived like PLANES but in its
#: own hash namespace so the two matrices are independent
RP_MATRIX = [
    [_plane_weight(j, d + 10_000) for d in range(DIM)] for j in range(RP_DIMS)
]


def _rp_terms(d: Dialect, j: int) -> str:
    """The j-th projection as an explicit left-to-right double sum —
    the SAME evaluation order in both engines, so the pre-round value
    is bit-identical."""
    return " + ".join(
        f"CAST({d.at('embedding', i + 1)} AS DOUBLE) * ({c})"
        for i, c in enumerate(RP_MATRIX[j])
    )


def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection dimensionality reduction 64 -> RP_DIMS: each
    output component is a dot product with an md5-derived fixed
    hyperplane (the Johnson–Lindenstrauss sketch used to cheapen
    downstream clustering / dedup passes). Components land in separate
    DOUBLE columns — array-free output, trivially hashable.

    Scale: pure map, zero shuffle; the 64x8 literal matrix lives in
    the plan (codegen constant-folds it), NOT in a broadcast — nothing
    to ship, nothing to OOM.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        *[
            F.expr(f"round({_rp_terms(SPARK, j)}, 5)").alias(
                f"p{j}"
            )
            for j in range(RP_DIMS)
        ],
    ).orderBy("vec_id")


def _random_projection_sql(d: Dialect) -> str:
    return "SELECT vec_id, " + ", ".join(
        f"round({_rp_terms(d, j)}, 5) AS p{j}" for j in range(RP_DIMS)
    ) + " FROM embeddings ORDER BY vec_id"


#: SQ8 search: candidates kept per query for exact re-ranking. 32 for
#: top-5 is the standard ~6x over-fetch serving indexes use.
SQ_RERANK = 32


def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over int8 scalar-quantized codes (the SQ8 serving rung,
    faiss ``SQ8``-style): rank candidates by the INTEGER dot product
    of per-vector-scaled int8 codes — 64 B/vector instead of 512 B —
    keep the top ``SQ_RERANK`` per query, then re-rank exactly on the
    float vectors. Sits between brute force (exact, full-width) and
    IVF (clustered) on the scale ladder: same scan shape as brute
    force at 1/8 the memory bandwidth, no training step.

    Determinism: codes are exact ints (half-up ``floor(x·scale+0.5)``);
    the candidate ranking key ``idot / (scale·nrm)`` divides the exact
    integer dot by per-CANDIDATE constants only (the query's own
    factors are rank-invariant inside its partition) with the same
    expression shape on both engines — identical IEEE doubles,
    identical order; ties pinned by neighbor_id.

    Scale: quantization is a pure map (codegen transform); scoring is
    the brute-force broadcast pattern (query codes broadcast, ONE
    stream over the corpus, no big-side shuffle); only
    N_QUERIES·SQ_RERANK rows reach the exact re-rank join.
    """
    vec = load_vectors(spark, sf_dir)
    codes = (
        vec.withColumn("maxabs", F.expr("array_max(transform(v, x -> abs(x)))"))
        .withColumn(
            "scale",
            F.when(F.col("maxabs") > 0, F.lit(127.0) / F.col("maxabs")).otherwise(
                F.lit(0.0)
            ),
        )
        .withColumn(
            "qe", F.expr("transform(v, x -> cast(floor(x * scale + 0.5d) as bigint))")
        )
        .select("vec_id", "nrm", "scale", "qe")
    )
    q = (
        codes.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("qe").alias("qqe"),
        )
    )
    cand = (
        codes.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(
                "aggregate(zip_with(qqe, qe, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"
            ).alias("idot"),
            "scale",
            "nrm",
        )
        .withColumn(
            "approx",
            F.when(
                F.col("scale") > 0,
                F.col("idot").cast("double") / (F.col("scale") * F.col("nrm")),
            ),
        )
        .withColumn(
            "crnk",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.col("approx").desc_nulls_last(), F.col("neighbor_id").asc()
                )
            ),
        )
        .filter(F.col("crnk") <= SQ_RERANK)
        .select("q_id", "neighbor_id")
    )
    qv = vec.select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    ).filter(F.col("q_id") < N_QUERIES)
    scored = (
        cand.join(F.broadcast(qv), "q_id")
        .join(vec, cand.neighbor_id == vec.vec_id)
        .select(
            "q_id",
            "neighbor_id",
            F.expr(V.cosine(SPARK, "qv", "v", "qn", "nrm", DIM)).alias("cosine"),
        )
    )
    return _topk(scored)


def _sq8_codes_sql(d: Dialect) -> str:
    code = f"CAST(floor({d.at('v', 'i')} * scale + 0.5{d.D}) AS BIGINT)"
    maxabs = d.fn("list_max", d.fn("list_transform", "v", "x -> abs(x)"))
    return f"""
  SELECT vec_id, nrm, scale,
         {d.comp(code, 'i', d.seq(1, DIM + 1))} AS qe
  FROM (SELECT vec_id, v, nrm,
               CASE WHEN {maxabs} > 0
                    THEN 127.0{d.D} / {maxabs}
                    ELSE 0.0{d.D} END AS scale
        FROM vec)
"""


def _sq8_topk_sql(d: Dialect) -> str:
    return f"""
WITH vec AS ({vec_sql(d)}),
codes AS ({_sq8_codes_sql(d)}),
scored_int AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         {d.zip_sum('q.qe', 'c.qe', DIM, zero='0L')} AS idot,
         c.scale AS scale, c.nrm AS nrm
  FROM codes q JOIN codes c ON c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
cand AS (
  SELECT q_id, neighbor_id
  FROM (SELECT q_id, neighbor_id,
               row_number() OVER (
                 PARTITION BY q_id
                 ORDER BY (CASE WHEN scale > 0
                           THEN CAST(idot AS DOUBLE) / (scale * nrm) END)
                          DESC NULLS LAST, neighbor_id ASC) AS crnk
        FROM scored_int)
  WHERE crnk <= {SQ_RERANK}
),
{_rerank_sql(d)},
{_TOP_K_TAIL}"""


#: Matryoshka progressive refinement: shortlist on the first
#: MRL_PREFIX_DIM dimensions, exact rerank on the full vector.
MRL_PREFIX_DIM = 16
MRL_SHORTLIST = 25


def ann_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN by Matryoshka-style progressive refinement (Kusupati et al.,
    "Matryoshka Representation Learning", NeurIPS 2022 — public): rank
    ALL candidates by cosine over only the first :data:`MRL_PREFIX_DIM`
    dimensions (a 4x-cheaper comparison; with MRL-trained embeddings
    the prefix is itself a valid low-rank embedding), keep the top
    :data:`MRL_SHORTLIST` per query (5x over-retrieval vs TOP_K), then
    re-rank the shortlist exactly on the full vector.

    Sits on the serving ladder between brute force (exact, full-width)
    and SQ8 (full-width, low-precision): same broadcast-query scan
    shape as brute force at 1/4 the dot-product FLOPs and — at scale,
    where the prefix is STORED as its own column — 1/4 the scan bytes
    (here it is sliced from the full column; the plan shape is what's
    under test, and column pruning would do the rest on a prefix
    column).

    Determinism: prefix cosine rounds to 6dp with neighbor_id
    tie-break, so the shortlist boundary is pinned on both engines;
    the exact rerank reuses the brute-force scoring expression.
    Recall contract (oracle-replicated): a true top-k neighbor is
    missed only if its full-dim rank and prefix rank diverge past the
    5x shortlist — the failure mode MRL training exists to bound.

    Scale: shortlisting is the brute-force broadcast pattern (query
    prefixes broadcast, one stream over the corpus, no big-side
    shuffle); only N_QUERIES x MRL_SHORTLIST rows reach the full-width
    rerank join.
    """
    vec = load_vectors(spark, sf_dir)
    pv = vec.withColumn("pv", F.expr(f"slice(v, 1, {MRL_PREFIX_DIM})")).withColumn(
        "pn", F.expr(V.l2_norm("pv"))
    )
    qp = (
        pv.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("pv").alias("qpv"),
            F.col("pn").alias("qpn"),
        )
    )
    shortlist = (
        pv.join(F.broadcast(qp), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(V.cosine(SPARK, "qpv", "pv", "qpn", "pn", MRL_PREFIX_DIM)).alias("pcos"),
        )
        .withColumn(
            "crnk",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.col("pcos").desc_nulls_last(), F.col("neighbor_id").asc()
                )
            ),
        )
        .filter(F.col("crnk") <= MRL_SHORTLIST)
        .select("q_id", "neighbor_id")
    )
    qv = vec.select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    ).filter(F.col("q_id") < N_QUERIES)
    scored = (
        shortlist.join(F.broadcast(qv), "q_id")
        .join(vec, shortlist.neighbor_id == vec.vec_id)
        .select(
            "q_id",
            "neighbor_id",
            F.expr(V.cosine(SPARK, "qv", "v", "qn", "nrm", DIM)).alias("cosine"),
        )
    )
    return _topk(scored)


def ann_matryoshka_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@TOP_K of the Matryoshka rung against exact brute force —
    the alerting signal the progressive-refinement trade REQUIRES in
    production (same posture as dedup_substring_cap_report / the
    semdedup cap report: approximate operators ship with their own
    quality meter).

    On THIS corpus the embeddings are synthetic and isotropic — the
    prefix dims carry no privileged information — so the measured
    recall is deliberately unflattering (~0.4-0.5 at shortlist=25):
    exactly what the meter should say for non-MRL vectors. An
    MRL-trained model concentrates signal in the prefix and holds this
    near 1.0 (Kusupati et al. 2022); production gates the rung's
    rollout on this report, not on hope.

    Output: (q_id, n_hits, recall), one row per query.
    """
    bf = ann_cosine_topk(spark, sf_dir).select("q_id", "neighbor_id")
    mrl = ann_matryoshka_topk(spark, sf_dir).select(
        F.col("q_id").alias("m_q"), F.col("neighbor_id").alias("m_n")
    )
    return (
        bf.join(
            mrl,
            (F.col("q_id") == F.col("m_q")) & (F.col("neighbor_id") == F.col("m_n")),
            "left",
        )
        .groupBy("q_id")
        .agg(F.count("m_n").alias("n_hits"))
        .select(
            "q_id",
            "n_hits",
            (F.col("n_hits").cast("double") / F.lit(float(TOP_K))).alias("recall"),
        )
        .orderBy("q_id")
    )


# nullif: the 16-dim prefix CAN be all-zero even when the full vector
# is not; DuckDB would emit inf/nan (sorts first under DESC NULLS LAST)
# where Spark emits NULL — both engines must agree on NULL (r8 ADVICE).
def _mrl_prefix_sql(d: Dialect) -> str:
    return f"""
  SELECT vec_id, v, nrm, {d.slice('v', 1, MRL_PREFIX_DIM, MRL_PREFIX_DIM)} AS pv,
         sqrt({d.list_sum(d.comp(f"{d.at('v', 'i')} * {d.at('v', 'i')}", 'i', d.seq(1, MRL_PREFIX_DIM + 1)))}) AS pn
  FROM vec
"""


def _mrl_stages_sql(d: Dialect) -> str:
    """Shared MRL stage chain (pvec -> pre -> cand -> scored), used by
    the top-k and the recall-report SQL."""
    return f"""pvec AS ({_mrl_prefix_sql(d)}),
pre AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         {V.cosine(d, 'q.pv', 'c.pv', 'q.pn', 'c.pn', MRL_PREFIX_DIM)} AS pcos
  FROM pvec q JOIN pvec c ON c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
cand AS (
  SELECT q_id, neighbor_id
  FROM (SELECT q_id, neighbor_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY pcos DESC NULLS LAST, neighbor_id ASC) AS crnk
        FROM pre)
  WHERE crnk <= {MRL_SHORTLIST}
),
{_rerank_sql(d)}"""


def _matryoshka_topk_sql(d: Dialect) -> str:
    return f"""
WITH vec AS ({vec_sql(d)}),
{_mrl_stages_sql(d)},
{_TOP_K_TAIL}"""


def _matryoshka_recall_sql(d: Dialect) -> str:
    return f"""
WITH vec AS ({vec_sql(d)}),
{_mrl_stages_sql(d)},
mrl AS (
  SELECT q_id, neighbor_id
  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM scored)
  WHERE rnk <= {TOP_K}
),
bf_scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
         {_cos(d, 'q.v', 'c.v', 'q.nrm', 'c.nrm')} AS cosine
  FROM vec q JOIN vec c ON c.vec_id != q.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
bf AS (
  SELECT q_id, neighbor_id
  FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM bf_scored)
  WHERE rnk <= {TOP_K}
),
hits AS (
  SELECT bf.q_id, COUNT(mrl.neighbor_id) AS n_hits
  FROM bf LEFT JOIN mrl ON bf.q_id = mrl.q_id AND bf.neighbor_id = mrl.neighbor_id
  GROUP BY bf.q_id
)
SELECT q_id, CAST(n_hits AS BIGINT) AS n_hits,
       CAST(n_hits AS DOUBLE) / {TOP_K} AS recall
FROM hits ORDER BY q_id
"""



def emb_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic duplicate clusters: connected components of the cosine
    near-dup graph (edges = :func:`dedup_embedding_cosine` pairs),
    cluster_id = min vec_id in the component, with the component size.

    The embedding-space analogue of ``dedup_clusters`` — pairwise
    semantic verdicts become a keep/drop partition (keep vec_id ==
    cluster_id, or route each cluster through a quality-ranked keeper
    policy). Same connected-components loop,
    :func:`..operators.components.min_label_components`: per round one
    join and one aggregate of the (vec_id, label) table, cut by
    ``materialize.truncate``; near-dup chains in the sf0.1 testdata
    need 6 rounds. Singleton vectors (no qualifying edge) remain their
    own cluster of size 1 — the report covers the WHOLE corpus.

    The DuckDB oracle replays the banded candidate generation and a
    WITH RECURSIVE reachability closure — the same unbounded-iteration
    semantics the Spark loop unrolls (cap 20 rounds >> real diameter).
    """
    pairs = dedup_embedding_cosine(spark, sf_dir)
    edges = (
        pairs.select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
        .union(pairs.select(F.col("vec_b").alias("src"), F.col("vec_a").alias("dst")))
        .transform(materialize)
    )
    nodes = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("node")
    )
    labels = min_label_components(nodes, edges, max_rounds=20)

    sized = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sized, "label")
        .select(
            F.col("node").alias("vec_id"),
            F.col("label").alias("cluster_id"),
            "cluster_size",
        )
        .orderBy("vec_id")
    )


def _semantic_edges_sql(d: Dialect) -> str:
    """vec -> sig -> bands -> cand -> near -> edges: the banded-LSH
    candidates kept at cosine >= COS_THRESHOLD, both directions."""
    return f"""vec AS ({vec_sql(d)}),
sig AS ({_sig_sql(d)}),
bands AS ({_bands_sql(d)}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
),
near AS (
  SELECT cand.vec_a, cand.vec_b
  FROM cand
  JOIN vec va ON va.vec_id = cand.vec_a
  JOIN vec vb ON vb.vec_id = cand.vec_b
  WHERE {_cos(d, 'va.v', 'vb.v', 'va.nrm', 'vb.nrm')} >= {COS_THRESHOLD}{d.D}
),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM near
  UNION
  SELECT vec_b AS src, vec_a AS dst FROM near
)"""


def _semantic_clusters_sql(d: Dialect) -> str:
    return f"""
WITH RECURSIVE {_semantic_edges_sql(d)},
reach(src, dst) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clusters AS (
  SELECT src AS vec_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
)
SELECT c.vec_id, c.cluster_id, cs.cluster_size
FROM clusters c
JOIN (SELECT cluster_id, COUNT(*) AS cluster_size FROM clusters GROUP BY cluster_id) cs
  USING (cluster_id)
ORDER BY c.vec_id
"""


QUERIES = {
    "ann_matryoshka_topk": ann_matryoshka_topk,
    "ann_matryoshka_recall_report": ann_matryoshka_recall_report,
    "kmeans_train": kmeans_train,
    "emb_random_projection": emb_random_projection,
    "emb_quantize_int8": emb_quantize_int8,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "knn_graph_lsh": knn_graph_lsh,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_ivf_trained": ann_ivf_trained,
    "ann_sq8_topk": ann_sq8_topk,
    "emb_label_centroid": emb_label_centroid,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "emb_semantic_clusters": emb_semantic_clusters,
}

TEMPLATES = {
    "ann_matryoshka_topk": _matryoshka_topk_sql,
    "ann_matryoshka_recall_report": _matryoshka_recall_sql,
    "kmeans_train": _kmeans_sql,
    "emb_random_projection": _random_projection_sql,
    "ann_cosine_topk": _cosine_topk_sql,
    "ann_lsh_topk": _lsh_topk_sql,
    "knn_graph_lsh": _knn_graph_lsh_sql,
    "ann_ivf_topk": _ivf_topk_sql,
    "ann_ivf_trained": _ivf_trained_sql,
    "ann_sq8_topk": _sq8_topk_sql,
    "emb_label_centroid": _centroid_sql,
    "dedup_embedding_cosine": _dedup_embedding_cosine_sql,
    # deliberate dual: zip_with in place of list_zip, whose positional
    # struct fields (p[1], p[2]) have no Spark spelling
    "emb_quantize_int8": dual(EMB_QUANTIZE_INT8_ORACLE, f"""
WITH vv AS (
  SELECT vec_id, transform(embedding, x -> cast(x as double)) AS v
  FROM embeddings
),
s AS (
  SELECT vec_id, v, array_max(transform(v, x -> abs(x))) AS maxabs FROM vv
),
sc AS (
  SELECT vec_id, v,
         CASE WHEN maxabs > 0 THEN 127.0D / maxabs ELSE 0.0D END AS scale
  FROM s
),
q AS (
  SELECT vec_id, v, scale,
         transform(v, x -> cast(floor(x * scale + 0.5D) as int)) AS q_emb
  FROM sc
)
SELECT vec_id,
       array_join(transform(q_emb, x -> cast(x as string)), ',') AS q_emb_str,
       {r6_sql('scale')} AS scale,
       CASE WHEN scale > 0
            THEN {r6_sql('''array_max(transform(zip_with(v, q_emb,
                   (x, qq) -> abs(x - qq / scale)), e -> e))''')}
            ELSE 0.0D END AS max_err
FROM q
ORDER BY vec_id
"""),
    # deliberate dual: Spark's recursive CTE allows only UNION ALL, which
    # never terminates on a cyclic edge list, so the edges (the oracle's
    # own CTEs) feed the shared bounded-round packed-array fold
    # (functions/closure_sql.py), which poisons ids on non-convergence
    "emb_semantic_clusters": dual(_semantic_clusters_sql(DUCK), packed_closure_sql(
        prelude=_semantic_edges_sql(SPARK),
        nodes_sql="SELECT vec_id AS node FROM embeddings",
        key_name="vec_id",
        id_name="cluster_id",
        size_name="cluster_size",
    )),
}
