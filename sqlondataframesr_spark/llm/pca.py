"""Distributed PCA: the top principal component of the embedding
covariance by power iteration — the dimensionality probe a curation
team runs before choosing projection/compression parameters (random
projection, PQ codebooks, matryoshka prefix dims all assume they know
where the variance lives).

North-star extension (no reference counterpart — RDataFramesSQL.Rmd
has no linear-algebra surface). Related: emb_random_projection
compresses with a FIXED basis; this operator finds the data's OWN
leading direction. The eigensolve itself is the Markov-attribution
idiom (operators/journeys.py): distill to a bounded matrix, then
log₂-many truncated matrix squarings instead of a long sequential
chain.

Algorithm (all exact integers):

1. int8-quantize each vector (the emb_quantize_int8 floor(x·s+0.5)
   spelling — half-up on every engine).
2. ONE pass computes the sufficient statistics: per-dim sums Σq_a and
   the pairwise-product sums Σq_a·q_b. The product matrix is
   symmetric, so the fan emits only the DIM·(DIM+1)/2 upper-triangle
   pairs a≤b per row (2,080 instead of 4,096 at DIM=64 — VERDICT r10
   item 3 halved the per-row array, the explode, and the shuffle
   input), partial-aggregated map-side, then mirrored to the full
   DIM² matrix AFTER aggregation (a bounded frame, not row-scale).
3. Scatter matrix C = n·Σq_aq_b − Σq_a·Σq_b (×n² covariance — exact,
   no mean truncation), rescaled to ppm of max|C|.
4. Three rescaled truncated squarings give B^8; the component is
   B^8 · 1 (row sums), L1-normalized to ppm.

Signed-truncation note: both engines truncate integer division toward
zero — Spark ``div`` AND DuckDB ``//`` (-7//2 = -3 on both; verified
empirically, ADVICE r10). The sign-split form sign(x)·(|x| div d)
used below is therefore a defensive identity, kept only so the
expression is correct even on an engine that floors; it is NOT a live
dialect seam, and other operators (theilsen/acf/markov) correctly
rely on plain truncating division matching across engines.

Documented range contract (the ml_ols_trend convention): the scatter
entry n·sp − sa·sb is bounded by 2·127²·n², which exceeds int64 past
n ≈ 1.7·10⁷ vectors. Beyond that, route the c/cv computation through
DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) exactly as
llm/diversity.py:174 does for its n·Σxy − Σx·Σy combination — the
downstream ppm rescale immediately returns to int64, so only the one
combination line changes. The squaring chain itself is safe at any n:
|p| ≤ 10⁶ by construction, so |pa·pb| ≤ 10¹² and the DIM-term sum is
≤ 6.4·10¹³.

Scale (100 TB): the corpus is touched ONCE (map-side product fan,
DIM·(DIM+1)/2 aggregate keys); everything downstream — the DIM²
scatter matrix, the three squaring joins, the normalization — is
bounded by the embedding dimension, not the row count.

Output: (dim, loading_ppm) — DIM rows ordered by dim; loadings sum to
±10⁶ in absolute value (L1-normalized, truncation dust aside).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..functions.dialect import DUCK, SPARK, Dialect, dual
from ..materialize import materialize, truncate

#: embedding dimensionality of the testdata embeddings table
PCA_DIM = 64

#: rescale unit for the matrix entries (ppm)
_U = 1_000_000


def _tdiv(dialect: Dialect, x: str, d: str) -> str:
    """Truncate-toward-zero division. Spark ``div`` and DuckDB ``//``
    BOTH already truncate toward zero (see module docstring); the
    sign-split spelling is a defensive identity, not a bridge."""
    return (
        f"(CASE WHEN {x} >= 0 THEN ({x}) {dialect.div} ({d})"
        f" ELSE -((-({x})) {dialect.div} ({d})) END)"
    )


_Q8 = (
    "transform(v, x -> cast(floor(x * (CASE WHEN maxabs > 0"
    " THEN 127.0 / maxabs ELSE 0.0 END) + 0.5) as bigint))"
)


def emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the int8-quantized embeddings (see
    module docstring for the exact-integer contract).

    Output: (dim, loading_ppm) ordered by dim (1-based)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q8 = materialize(
        emb.select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
        )
        .withColumn("maxabs", F.expr("array_max(transform(v, x -> abs(x)))"))
        .selectExpr("vec_id", f"{_Q8} as q")
    )
    n = q8.agg(F.count(F.lit(1)).cast("long").alias("n"))
    s = (
        q8.select(F.posexplode("q").alias("a0", "qa"))
        .groupBy("a0")
        .agg(F.sum("qa").cast("long").alias("s"))
    )
    # upper-triangle fan (VERDICT r10 item 3): a FLAT bigint array of the
    # DIM*(DIM+1)/2 products q[i]*q[j] for i<=j — 2,080 elements per row
    # instead of 4,096, and no per-element struct allocation (measured:
    # the struct spelling is SLOWER than the full flat fan; the flat
    # halved fan is ~1.5x faster than full). posexplode yields the
    # row-major triangular index f; a broadcast 2,080-row decode table
    # maps f -> (a0, b0) AFTER the aggregate, and the full symmetric
    # matrix is recovered by mirroring a<b rows — both on the bounded
    # DIM-scale frame, never on row-scale data.
    pairs = (
        f"flatten(transform(q, (x, i) -> "
        f"transform(slice(q, i + 1, {PCA_DIM} - i), (y, j) -> x * y)))"
    )
    prod_u = (
        q8.select(F.posexplode(F.expr(pairs)).alias("f", "p"))
        .groupBy("f")
        .agg(F.sum("p").cast("long").alias("sp"))
    )
    # triangular-index decode: f = i*DIM - i*(i-1)/2 + (j-i) for i<=j
    dec = (
        spark.range(PCA_DIM)
        .selectExpr("cast(id as bigint) as i")
        .selectExpr("i", f"explode(sequence(i, {PCA_DIM - 1})) as j")
        .selectExpr(
            f"i * {PCA_DIM} - (i * (i - 1)) div 2 + (j - i) as f",
            "i as a0",
            "j as b0",
        )
    )
    produ = prod_u.join(F.broadcast(dec), "f").select("a0", "b0", "sp")
    prod = produ.unionByName(
        produ.where("a0 <> b0").selectExpr("b0 as a0", "a0 as b0", "sp")
    )
    c = (
        prod
        .join(F.broadcast(s.selectExpr("a0", "s as sa")), "a0")
        .join(F.broadcast(s.selectExpr("a0 as b0", "s as sb")), "b0")
        .crossJoin(F.broadcast(n))
        .selectExpr("a0 + 1 as a", "b0 + 1 as b", "n * sp - sa * sb as cv")
    )

    def rescale(m: DataFrame, col: str) -> DataFrame:
        mx = m.agg(F.max(F.expr(f"abs({col})")).alias("mx"))
        return m.crossJoin(F.broadcast(mx)).selectExpr(
            "a",
            "b",
            _tdiv(SPARK, f"{col} * {_U}", "nullif(mx, 0)") + " as p",
        )

    # the squaring chain is a 3-round iterative loop on a DIM^2-bounded
    # frame: truncate each round so Catalyst analysis stays flat — with
    # lazy persist the per-round wall time grew 0.4s -> 1.5s -> 5.3s on
    # IDENTICAL 4,096-row inputs, pure plan-depth cost.
    b1 = truncate(rescale(c, "cv"))

    def square(m: DataFrame) -> DataFrame:
        x = m.selectExpr("a", "b as k", "p as pa")
        y = m.selectExpr("a as k_", "b", "p as pb")
        mm = (
            x.join(F.broadcast(y), F.col("k") == F.col("k_"))
            .selectExpr("a", "b", _tdiv(SPARK, "pa * pb", str(_U)) + " as m")
            .groupBy("a", "b")
            .agg(F.sum("m").cast("long").alias("raw"))
        ).transform(truncate)  # also stops rescale's max-agg re-deriving the join
        return truncate(rescale(mm, "raw"))

    b8 = square(square(square(b1)))
    v = b8.groupBy("a").agg(F.sum("p").cast("long").alias("v"))
    l1 = v.agg(F.sum(F.expr("abs(v)")).cast("long").alias("l1"))
    return (
        v.crossJoin(F.broadcast(l1))
        .selectExpr(
            "a as dim",
            _tdiv(SPARK, f"v * {_U}", "nullif(l1, 0)") + " as loading_ppm",
        )
        .orderBy("dim")
    )


def _pca_sql(d: Dialect) -> str:
    """The oracle runs the SAME chain but builds the product sums via
    an exploded self-join (a second implementation of step 2 — the
    N-version discipline)."""
    sq_ctes = []
    prev = "b1"
    for name in ("b2", "b4", "b8"):
        sq_ctes.append(f"""
{name}_raw AS MATERIALIZED (
  SELECT x.a, y.b, CAST(SUM({_tdiv(d, "x.p * y.p", str(_U))}) AS BIGINT) AS raw
  FROM {prev} x JOIN {prev} y ON x.b = y.a
  GROUP BY x.a, y.b
),
{name} AS MATERIALIZED (
  SELECT a, b,
         {_tdiv(d, f"raw * {_U}", f"nullif((SELECT MAX(abs(raw)) FROM {name}_raw), 0)")}
           AS p
  FROM {name}_raw
)""")
        prev = name
    return f"""
WITH q8 AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) * (CASE WHEN
                 list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) > 0
               THEN 127.0 / list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))
               ELSE 0.0 END) + 0.5) AS BIGINT)) AS q
  FROM embeddings
),
long_ AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(q, 1) AS a, unnest(q) AS qa FROM q8
),
nrow AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q8),
s AS MATERIALIZED (SELECT a, CAST(SUM(qa) AS BIGINT) AS s FROM long_ GROUP BY a),
prod_u AS MATERIALIZED (
  -- upper triangle only (a<=b); the matrix is symmetric, mirror below
  SELECT x.a, y.a AS b, CAST(SUM(x.qa * y.qa) AS BIGINT) AS sp
  FROM long_ x JOIN long_ y USING (vec_id)
  WHERE x.a <= y.a
  GROUP BY x.a, y.a
),
prod AS MATERIALIZED (
  SELECT a, b, sp FROM prod_u
  UNION ALL
  SELECT b AS a, a AS b, sp FROM prod_u WHERE a <> b
),
c AS MATERIALIZED (
  SELECT p.a, p.b, nrow.n * p.sp - sa.s * sb.s AS cv
  FROM prod p
  JOIN s sa ON sa.a = p.a
  JOIN s sb ON sb.a = p.b
  CROSS JOIN nrow
),
b1 AS MATERIALIZED (
  SELECT a, b,
         {_tdiv(d, f"cv * {_U}", "nullif((SELECT MAX(abs(cv)) FROM c), 0)")} AS p
  FROM c
),{",".join(sq_ctes)},
v AS MATERIALIZED (SELECT a, CAST(SUM(p) AS BIGINT) AS v FROM b8 GROUP BY a),
l1 AS MATERIALIZED (SELECT CAST(SUM(abs(v)) AS BIGINT) AS l1 FROM v)
SELECT CAST(v.a AS BIGINT) AS dim,
       {_tdiv(d, f"v.v * {_U}", "nullif(l1.l1, 0)")} AS loading_ppm
FROM v CROSS JOIN l1
ORDER BY dim
"""


QUERIES = {"emb_pca_power": emb_pca_power}
# no Spark-SQL dual: generate_subscripts/zipped-unnest has no direct
# Spark spelling; the fluent form + DuckDB oracle are the two versions
TEMPLATES = {"emb_pca_power": dual(_pca_sql(DUCK))}
