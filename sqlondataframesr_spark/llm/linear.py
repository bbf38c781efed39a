"""Distributed linear-classifier training: batch perceptron over
int8-quantized embeddings, in EXACT integer arithmetic.

North-star extension (the reference, RDataFramesSQL.Rmd, has no ML
surface): the simplest end-to-end "train a model on Spark" operator —
a batch (gradient) perceptron separating label 0 from the rest of the
``embeddings`` table. The point is the HARNESS shape, shared with
kmeans_train (llm/similarity.py:443) and the integer PageRank
(operators/graph.py):

- features are int8-quantized ONCE (the identical floor(x*scale+0.5)
  formula as :func:`..similarity.emb_quantize_int8`, whose
  cross-engine exactness is already oracle-pinned) and the quantized
  table is pinned via ``materialize``;
- each unrolled round is one corpus scan: margins come from a
  broadcast of the ONE-row weight state (crossJoin — no shuffle of
  the corpus), the misclassified set reduces through a single
  explode-free 64-column integer aggregate (the
  emb_label_centroid pattern), and the weight update is a 1-row x
  1-row crossJoin. State between rounds is ONE row;
  ``materialize.truncate`` keeps the lazy plan flat.
- at 100 TB each round is one bandwidth-bound scan + a tiny global
  aggregate — the same cost envelope as a Lloyd iteration; nothing
  quadratic, nothing driver-side.

Why a BATCH perceptron: the classic online perceptron is
order-dependent (each update changes the next margin), which is
anti-distributed; the batch variant sums updates over ALL currently
misclassified rows per round — an order-independent integer SUM, so
Spark and the DuckDB oracle agree to the last digit. Integer range:
|w_i| grows at most 127 * n_rows per round, so margins stay below
2^63 through ~10^9 training rows at 5 rounds (documented overflow
contract, same style as operators/affinity.py's lift).

Output is the LEARNING CURVE — per round: mistakes under the
pre-update weights, then the L1 norm and bias of the post-update
weights (an exact fingerprint of the full weight state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..materialize import materialize, truncate
from ..functions.dialect import Dialect
from .similarity import DIM

#: unrolled training rounds
PC_ROUNDS = 5

#: the one-vs-rest target class
PC_POS_LABEL = 0


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, y, xq): y in {+1,-1}, xq = int8-quantized embedding as
    array<bigint> — the emb_quantize_int8 formula verbatim."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.when(F.col("label") == PC_POS_LABEL, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    return emb.withColumn(
        "maxabs", F.expr("array_max(transform(v, x -> abs(x)))")
    ).select(
        "vec_id",
        "y",
        F.expr(
            "transform(v, x -> cast(floor(x * (case when maxabs > 0"
            " then 127.0 / maxabs else 0.0 end) + 0.5d) as bigint))"
        ).alias("xq"),
    )


#: the DIM per-dimension update sums as ONE parsed struct expression.
#: r13 (guide §1.2 "per-task work" applied to the DRIVER): profiling
#: showed ~0.5 s PER ROUND of pure py4j plan construction for the 64
#: separate Column objects (each F.sum/.cast/.alias chain is its own
#: JVM round-trip) plus ~0.25 s of JVM analysis at the truncation
#: call. One string expression parsed JVM-side builds the IDENTICAL
#: aggregate plan (same coalesce(sum(..), 0)::bigint per dimension)
#: with two py4j calls per round instead of ~260.
_UPD_STRUCT = (
    "struct(cast(count(1) as bigint) as nm,"
    " cast(coalesce(sum(y), 0) as bigint) as db, "
    + ", ".join(
        f"cast(coalesce(sum(y * element_at(xq, {i + 1})), 0) as bigint) as d{i}"
        for i in range(DIM)
    )
    + ")"
)

_NEW_WS = (
    "array("
    + ", ".join(f"element_at(ws, {i + 1}) + u.d{i}" for i in range(DIM))
    + ") as ws"
)


def _train(spark: SparkSession, sf_dir: str):
    """Run the :data:`PC_ROUNDS` unrolled rounds; returns
    (quantized training frame, final 1-row weight state, per-round
    curve frames)."""
    qv = materialize(_quantized(spark, sf_dir))
    # 1-row weight state: ws array<bigint>[DIM], b bigint
    w = spark.range(1).selectExpr(
        f"array_repeat(0L, {DIM}) as ws", "cast(0 as bigint) as b"
    )
    curve_rows = []
    for t in range(1, PC_ROUNDS + 1):
        scored = qv.crossJoin(F.broadcast(w)).withColumn(
            "mg",
            F.expr("aggregate(zip_with(xq, ws, (x, wi) -> x * wi), 0L,"
                   " (acc, e) -> acc + e) + b"),
        )
        mis = scored.filter(F.expr("y * mg <= 0"))
        upd = mis.agg(F.expr(_UPD_STRUCT).alias("u"))
        w = (
            w.crossJoin(upd)
            .selectExpr(_NEW_WS, "cast(b + u.db as bigint) as b", "u.nm as nm")
            .transform(truncate)
        )
        curve_rows.append(
            w.selectExpr(
                f"cast({t} as bigint) as round",
                "nm as n_mistakes",
                "cast(aggregate(transform(ws, x -> abs(x)), 0L,"
                " (acc, e) -> acc + e) as bigint) as w_l1",
                "b as bias",
            )
        )
        w = w.drop("nm")
    return qv, w, curve_rows


def ml_perceptron_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train :data:`PC_ROUNDS` batch-perceptron rounds; return the
    learning curve (round, n_mistakes, w_l1, bias) ordered by round.

    n_mistakes counts rows misclassified by the PRE-update weights of
    that round (round 1 therefore counts the zero-weight state, where
    every margin is 0 and y*0 <= 0 flags everything); w_l1/bias
    fingerprint the POST-update state exactly.
    """
    _, _, curve_rows = _train(spark, sf_dir)
    out = curve_rows[0]
    for r in curve_rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("round")


def ml_perceptron_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-serve: confusion counts of the FINAL trained weights
    over the training set (decision rule: +1 iff margin > 0 — a zero
    margin predicts the negative class, matching the training rule's
    y*mg <= 0 mistake test).

    Output: (y_true, y_pred, n) ordered by (y_true, y_pred) — <= 4
    rows. Scoring is one map-only pass against the broadcast 1-row
    weight state: at 100 TB inference is a bandwidth-bound scan.
    """
    qv, w, _ = _train(spark, sf_dir)
    return (
        qv.crossJoin(F.broadcast(w))
        .select(
            F.col("y").alias("y_true"),
            F.expr(
                "cast(case when aggregate(zip_with(xq, ws, (x, wi) -> x * wi),"
                " 0L, (acc, e) -> acc + e) + b > 0 then 1 else -1 end as bigint)"
            ).alias("y_pred"),
        )
        .groupBy("y_true", "y_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("y_true", "y_pred")
    )


#: one-vs-rest rounds — fewer than the binary trainer's 5 because each
#: OvR round costs a CLASSES x corpus fan-out (the standard OvR price)
OVR_ROUNDS = 3

#: the embeddings label vocabulary (0..9 in the synthetic corpus; the
#: designed pytest exercises a different class set via its own inject)
N_CLASSES = 10


def ml_perceptron_ovr_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass (one-vs-rest) batch perceptron: train
    :data:`OVR_ROUNDS` rounds of :data:`N_CLASSES` binary classifiers
    SIMULTANEOUSLY, then serve by argmax margin; returns the 10x10
    confusion matrix of the trained model over the training set.

    The state is CLASSES rows of (ws, b); each round is ONE pass over
    the classes x corpus fan-out (broadcast weight join — the corpus
    never shuffles) and ONE |classes|-group aggregate for all updates.
    Serving picks ``max_by(cls, struct(margin, -cls))`` per vector —
    the single-shuffle argmax of operators/argmax.py, ties to the
    smallest class on both engines.

    Output: (y_true, y_pred, n) ordered, <= classes^2 rows.
    """
    qv = materialize(
        _quantized_multi(spark, sf_dir)
    )  # (vec_id, label, xq)
    classes = spark.range(N_CLASSES).select(F.col("id").cast("long").alias("cls"))
    q10 = qv.crossJoin(F.broadcast(classes)).select(
        "vec_id",
        "label",
        "cls",
        F.when(F.col("label") == F.col("cls"), F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("y"),
        "xq",
    )
    w = classes.select(
        "cls",
        F.expr(f"array_repeat(0L, {DIM})").alias("ws"),
        F.lit(0).cast("long").alias("b"),
    )
    mg_expr = (
        "aggregate(zip_with(xq, ws, (x, wi) -> x * wi), 0L,"
        " (acc, e) -> acc + e) + b"
    )
    # single parsed struct per round — see _UPD_STRUCT (r13): the 64
    # per-dimension sums as one string expression kills the ~0.5 s/round
    # py4j plan-construction tax while producing the identical plan
    ovr_upd = (
        "struct(cast(coalesce(sum(y), 0) as bigint) as db, "
        + ", ".join(
            f"cast(coalesce(sum(y * element_at(xq, {i + 1})), 0) as bigint)"
            f" as d{i}"
            for i in range(DIM)
        )
        + ")"
    )
    ovr_new_ws = (
        "array("
        + ", ".join(
            f"element_at(ws, {i + 1}) + coalesce(u.d{i}, 0L)" for i in range(DIM)
        )
        + ") as ws"
    )
    for _ in range(OVR_ROUNDS):
        mis = (
            q10.join(F.broadcast(w), "cls")
            .withColumn("mg", F.expr(mg_expr))
            .filter(F.expr("y * mg <= 0"))
        )
        upd = mis.groupBy("cls").agg(F.expr(ovr_upd).alias("u"))
        w = (
            w.join(upd, "cls", "left")
            .selectExpr(
                "cls",
                ovr_new_ws,
                "cast(b + coalesce(u.db, 0L) as bigint) as b",
            )
            .transform(truncate)
        )
    scored = q10.join(F.broadcast(w), "cls").withColumn("mg", F.expr(mg_expr))
    pred = scored.groupBy("vec_id").agg(
        F.max_by(
            "cls", F.struct(F.col("mg"), (-F.col("cls")).cast("long"))
        ).alias("y_pred"),
        F.max("label").cast("long").alias("y_true"),
    )
    return (
        pred.groupBy("y_true", "y_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("y_true", "y_pred")
    )


def _quantized_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, xq) — the int8 quantization of :func:`_quantized`
    keeping the raw multiclass label."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    return emb.withColumn(
        "maxabs", F.expr("array_max(transform(v, x -> abs(x)))")
    ).select(
        "vec_id",
        "label",
        F.expr(
            "transform(v, x -> cast(floor(x * (case when maxabs > 0"
            " then 127.0 / maxabs else 0.0 end) + 0.5d) as bigint))"
        ).alias("xq"),
    )


def _quantized_ctes(d: Dialect, label_sel: str, label: str) -> str:
    """v -> s -> q: the int8-quantized vectors ``xq`` with the ``label``
    column that ``label_sel`` selects."""
    lt = "list_transform"
    quant = """x -> CAST(floor(x * (CASE WHEN maxabs > 0
             THEN 127.0 / maxabs ELSE 0.0 END) + 0.5) AS BIGINT)"""
    return f"""v AS (
  SELECT vec_id{label_sel},
         {d.fn(lt, 'embedding', 'x -> CAST(x AS DOUBLE)')} AS v
  FROM embeddings
),
s AS (
  SELECT vec_id, {label}, v, {d.fn('list_max', d.fn(lt, 'v', 'x -> abs(x)'))} AS maxabs FROM v
),
q AS (
  SELECT vec_id, {label},
         {d.fn(lt, 'v', quant)} AS xq
  FROM s
)"""


def _perceptron_ovr_sql(d: Dialect) -> str:
    """Unrolled one-vs-rest training + argmax scoring as SQL."""
    e = d.at
    margin = " + ".join(f"{e('xq', i + 1)} * w.w{i}" for i in range(DIM))
    d_sums = ",\n         ".join(
        f"COALESCE(SUM(y * {e('xq', i + 1)}), 0) AS d{i}" for i in range(DIM)
    )
    w_upd = ", ".join(f"w.w{i} + COALESCE(u.d{i}, 0) AS w{i}" for i in range(DIM))
    w_zero = ", ".join(f"CAST(0 AS BIGINT) AS w{i}" for i in range(DIM))
    sql = f"""
WITH {_quantized_ctes(d, ", CAST(label AS BIGINT) AS label", "label")},
classes AS (SELECT CAST(cls AS BIGINT) AS cls FROM {d.generate_series(0, N_CLASSES - 1)} AS c(cls)),
q10 AS (
  SELECT q.vec_id, q.label, c.cls,
         CAST(CASE WHEN q.label = c.cls THEN 1 ELSE -1 END AS BIGINT) AS y,
         q.xq
  FROM q CROSS JOIN classes c
),
w0 AS (SELECT cls, CAST(0 AS BIGINT) AS b, {w_zero} FROM classes)"""
    for t in range(1, OVR_ROUNDS + 1):
        sql += f""",
mis{t} AS (
  SELECT * FROM (
    SELECT q10.cls, q10.y, q10.xq, ({margin}) + w.b AS mg
    FROM q10 JOIN w{t - 1} w USING (cls))
  WHERE y * mg <= 0
),
u{t} AS (
  SELECT cls, COALESCE(SUM(y), 0) AS db,
         {d_sums}
  FROM mis{t} GROUP BY cls
),
w{t} AS (
  SELECT w.cls, CAST(w.b + COALESCE(u.db, 0) AS BIGINT) AS b, {w_upd}
  FROM w{t - 1} w LEFT JOIN u{t} u ON u.cls = w.cls
)"""
    sql += f""",
scored AS (
  SELECT q10.vec_id, q10.label, q10.cls, ({margin}) + w.b AS mg
  FROM q10 JOIN w{OVR_ROUNDS} w USING (cls)
),
pred AS (
  SELECT vec_id, label AS y_true, cls AS y_pred FROM (
    SELECT vec_id, label, cls,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY mg DESC, cls ASC) AS rnk
    FROM scored) WHERE rnk = 1
)
SELECT CAST(y_true AS BIGINT) AS y_true, CAST(y_pred AS BIGINT) AS y_pred,
       CAST(COUNT(*) AS BIGINT) AS n
FROM pred GROUP BY y_true, y_pred
ORDER BY y_true, y_pred"""
    return sql


def _perceptron_sql(d: Dialect, final: str = "curve") -> str:
    """The SAME unrolled training replayed as SQL. ``final`` selects
    the output: 'curve' (learning curve) or 'confusion' (score the
    final weights back over the training set)."""
    e = d.at

    margin = " + ".join(f"{e('xq', i + 1)} * w.w{i}" for i in range(DIM))
    d_sums = ",\n         ".join(
        f"COALESCE(SUM(y * {e('xq', i + 1)}), 0) AS d{i}" for i in range(DIM)
    )
    w_upd = ", ".join(f"w.w{i} + u.d{i} AS w{i}" for i in range(DIM))
    w_zero = ", ".join(f"CAST(0 AS BIGINT) AS w{i}" for i in range(DIM))
    l1 = " + ".join(f"ABS(w{i})" for i in range(DIM))
    label = f""",
         CAST(CASE WHEN label = {PC_POS_LABEL} THEN 1 ELSE -1 END AS BIGINT) AS y"""
    sql = f"""
WITH {_quantized_ctes(d, label, "y")},
w0 AS (SELECT CAST(0 AS BIGINT) AS b, {w_zero})"""
    for t in range(1, PC_ROUNDS + 1):
        sql += f""",
m{t} AS (
  SELECT q.vec_id, q.y, q.xq, ({margin}) + w.b AS mg
  FROM q CROSS JOIN w{t - 1} w
),
mis{t} AS (SELECT * FROM m{t} WHERE y * mg <= 0),
u{t} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nm,
         COALESCE(SUM(y), 0) AS db,
         {d_sums}
  FROM mis{t}
),
w{t} AS (
  SELECT CAST(w.b + u.db AS BIGINT) AS b, {w_upd}, u.nm AS nm
  FROM w{t - 1} w CROSS JOIN u{t} u
),
r{t} AS (
  SELECT CAST({t} AS BIGINT) AS round, CAST(nm AS BIGINT) AS n_mistakes,
         CAST({l1} AS BIGINT) AS w_l1, CAST(b AS BIGINT) AS bias
  FROM w{t}
)"""
    if final == "confusion":
        return sql + f""",
mf AS (
  SELECT q.y AS y_true,
         CASE WHEN ({margin}) + w.b > 0 THEN 1 ELSE -1 END AS y_pred
  FROM q CROSS JOIN w{PC_ROUNDS} w
)
SELECT CAST(y_true AS BIGINT) AS y_true, CAST(y_pred AS BIGINT) AS y_pred,
       CAST(COUNT(*) AS BIGINT) AS n
FROM mf GROUP BY y_true, y_pred
ORDER BY y_true, y_pred"""
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM r{t}" for t in range(1, PC_ROUNDS + 1)
    )
    return sql + f"\n{union}\nORDER BY round"


QUERIES = {
    "ml_perceptron_curve": ml_perceptron_curve,
    "ml_perceptron_confusion": ml_perceptron_confusion,
    "ml_perceptron_ovr_confusion": ml_perceptron_ovr_confusion,
}
TEMPLATES = {
    "ml_perceptron_curve": _perceptron_sql,
    "ml_perceptron_confusion": lambda d: _perceptron_sql(d, final="confusion"),
    "ml_perceptron_ovr_confusion": _perceptron_ovr_sql,
}
