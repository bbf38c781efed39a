"""Feature-engineering operators: distributed grid-search quantile
regression (pinball loss) and leakage-safe leave-one-out target
encoding — the model-prep passes a training pipeline runs over a
100 TB feature store before any learner sees the data.

North-star extensions (no reference counterpart — RDataFramesSQL.Rmd
has no ML-prep surface; SURVEY.md north-star scope). Related:
ml_ols_trend / ml_conformal_interval (operators/stats.py) fit and
bound a MEAN model; ``ml_quantile_grid`` fits the conditional
QUANTILES (the robust/asymmetric-cost alternative), and
``ml_target_encoding_loo`` builds the categorical feature both would
consume.

Scale design (100 TB):

- ``ml_quantile_grid`` — quantile regression has no closed-form
  sufficient statistics, so the classic distributed answer is a GRID
  of candidate slopes scored in ONE scan: the grid (derived from a
  1-row broadcast aggregate, so it auto-centers at any SF) fans each
  row ×|grid| MAP-SIDE, partial aggregation collapses the shuffle to
  |grid|×|taus| keys regardless of corpus size, and argmin runs on
  that bounded frame. No iterative IRLS, no sort, no driver loop.
- ``ml_target_encoding_loo`` — one broadcast dim join + one category-
  keyed shuffle to the per-category sufficient stats (n, Σy), then
  the per-row encodings are a map-side expression joined BACK by the
  bounded category table (broadcast). Output is the per-category
  audit of the row-level encodings (n, Σenc, min/max enc), so the
  differential check exercises every row's formula without shipping
  a corpus-sized result.

Determinism: pinball losses are exact integers (tau in tenths makes
10·loss integral: max(9d, -d) for tau=0.9, max(5d, -5d) for tau=0.5);
encodings are truncating-div integer cents; argmin ties break to the
smallest slope via min_by struct order mirrored with a window in the
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..functions.dialect import Dialect
from .concentration import event_cents_histogram

#: grid geometry: slopes from 50% to 150% of the moment estimate
GRID_N = 16

#: m-estimate smoothing weight for the smoothed encoding column
TE_SMOOTH_M = 10


def ml_quantile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median (tau=0.5) and 90th-percentile (tau=0.9) regression of
    line-item price on quantity through the origin, by exact pinball-
    loss grid search: {GRID_N}+1 candidate slopes spanning 50%..150%
    of the moment estimate Σy div Σx, each scored with the integral
    10×pinball loss in one corpus scan.

    Output: (tau_pct, best_slope_cents, loss10, n_rows) — 2 rows
    ordered by tau_pct. Ties on loss break to the smaller slope.
    """
    li = load_table(spark, sf_dir, "lineitem").selectExpr(
        "cast(round(l_quantity) as bigint) as x",
        "cast(round(l_extendedprice * 100) as bigint) as y",
    )
    center = li.agg(
        F.expr("sum(y) div nullif(sum(x), 0)").alias("c"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    # grid derived from the 1-row broadcast center: slope_g =
    # c*(GRID_N+g) div (2*GRID_N), g = 0..GRID_N*2 -> 50%..150% of c
    grid = (
        spark.range(0, 2 * GRID_N + 1)
        .select(F.col("id").cast("long").alias("g"))
        .crossJoin(F.broadcast(center))
        .selectExpr(
            f"c * ({GRID_N} + g) div {2 * GRID_N} as slope",
            "n_rows",
        )
        # integer grid points can collide for small centers; dedupe or
        # a duplicated slope would double-count its loss in the fan
        .distinct()
    )
    # ONE scan: each row fans x|grid| map-side and BOTH tau losses
    # ride the same fanned row as two aggregate columns (fusing the
    # taus halves the fan and drops the per-row branch); partial agg
    # collapses to <= 2*GRID_N+1 keys before the shuffle
    scored_wide = (
        li.crossJoin(F.broadcast(grid))
        .selectExpr(
            "slope",
            "n_rows",
            "greatest(5 * (y - slope * x), -5 * (y - slope * x)) as p50",
            "greatest(9 * (y - slope * x), -(y - slope * x)) as p90",
        )
        .groupBy("slope", "n_rows")
        .agg(
            F.sum("p50").cast("long").alias("loss50"),
            F.sum("p90").cast("long").alias("loss90"),
        )
    )
    scored = scored_wide.selectExpr(
        "slope",
        "n_rows",
        "stack(2, 50, loss50, 90, loss90) as (tau_pct, loss10)",
    ).selectExpr("cast(tau_pct as int) as tau_pct", "slope", "n_rows",
                 "loss10")
    return (
        scored.groupBy("tau_pct")
        .agg(
            F.expr(
                "min_by(struct(slope, loss10), struct(loss10, slope))"
            ).alias("best"),
            F.max("n_rows").alias("n_rows"),
        )
        .selectExpr(
            "tau_pct",
            "best.slope as best_slope_cents",
            "best.loss10 as loss10",
            "n_rows",
        )
        .orderBy("tau_pct")
    )


def _quantile_grid_sql(d: Dialect) -> str:
    return f"""
WITH li AS (
    SELECT CAST(round(l_quantity) AS BIGINT) AS x,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS y
    FROM lineitem
),
center AS (
    SELECT CAST(SUM(y) AS BIGINT) {d.div} nullif(CAST(SUM(x) AS BIGINT), 0)
             AS c,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM li
),
grid AS (
    SELECT DISTINCT c * ({GRID_N} + g.g) {d.div} {2 * GRID_N} AS slope,
           n_rows
    FROM center CROSS JOIN
         (SELECT {d.fn('unnest', d.seq(0, 2 * GRID_N + 1))} AS g) g
),
taus AS (SELECT {d.fn('unnest', d.list('50, 90'))} AS tau_pct),
scored AS (
    SELECT t.tau_pct, gr.slope, gr.n_rows,
           CAST(SUM(CASE WHEN t.tau_pct = 50
                THEN greatest(5 * (li.y - gr.slope * li.x),
                              -5 * (li.y - gr.slope * li.x))
                ELSE greatest(9 * (li.y - gr.slope * li.x),
                              -(li.y - gr.slope * li.x)) END) AS BIGINT)
             AS loss10
    FROM li CROSS JOIN grid gr CROSS JOIN taus t
    GROUP BY 1, 2, 3
),
ranked AS (
    SELECT tau_pct, slope, loss10, n_rows,
           row_number() OVER (PARTITION BY tau_pct
                              ORDER BY loss10, slope) AS rn
    FROM scored
)
SELECT CAST(tau_pct AS INT) AS tau_pct,
       slope AS best_slope_cents,
       loss10,
       n_rows
FROM ranked WHERE rn = 1 ORDER BY tau_pct
"""


def ml_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out + m-estimate target encoding of part brand
    against line-item price (Micci-Barreca, SIGKDD Explorations 2001
    — public): every row gets

        enc_loo    = (S_brand − y_i) div (n_brand − 1)
        enc_smooth = (S_brand − y_i + m·μ) div (n_brand − 1 + m)

    (μ = corpus mean in cents, m = {TE_SMOOTH_M}) — the leakage-safe
    encodings: the row's own target never leaks into its feature.
    Reported as the per-brand audit of those row-level values.

    Output: (brand, n, y_sum, enc_loo_sum, enc_loo_min, enc_loo_max,
    enc_smooth_min, enc_smooth_max) ordered by brand.
    """
    li = load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_partkey",
        "cast(round(l_extendedprice * 100) as bigint) as y",
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    # no broadcast hint: part GROWS with SF (the test_plans static
    # guard) — AQE picks broadcast at runtime while it actually fits
    rows = li.join(part, li.l_partkey == part.p_partkey).select(
        "brand", "y"
    )
    stats = rows.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("y_sum"),
    )
    glob = rows.agg(
        F.expr("sum(y) div count(1)").cast("long").alias("mu")
    )
    enc = (
        rows.join(F.broadcast(stats), "brand")
        .crossJoin(F.broadcast(glob))
        .selectExpr(
            "brand",
            "n",
            "y_sum",
            "(y_sum - y) div nullif(n - 1, 0) as enc_loo",
            f"(y_sum - y + {TE_SMOOTH_M} * mu)"
            f" div (n - 1 + {TE_SMOOTH_M}) as enc_smooth",
        )
    )
    return (
        enc.groupBy("brand", "n", "y_sum")
        .agg(
            F.sum("enc_loo").cast("long").alias("enc_loo_sum"),
            F.min("enc_loo").alias("enc_loo_min"),
            F.max("enc_loo").alias("enc_loo_max"),
            F.min("enc_smooth").alias("enc_smooth_min"),
            F.max("enc_smooth").alias("enc_smooth_max"),
        )
        .orderBy("brand")
    )


def _target_encoding_sql(d: Dialect) -> str:
    return f"""
WITH rows_ AS (
    SELECT p.p_brand AS brand,
           CAST(round(l.l_extendedprice * 100) AS BIGINT) AS y
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
stats AS (
    SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS y_sum
    FROM rows_ GROUP BY brand
),
gmean AS (
    SELECT CAST(SUM(y) AS BIGINT) {d.div} CAST(COUNT(*) AS BIGINT) AS mu
    FROM rows_
),
enc AS (
    SELECT r.brand, s.n, s.y_sum,
           (s.y_sum - r.y) {d.div} nullif(s.n - 1, 0) AS enc_loo,
           (s.y_sum - r.y + {TE_SMOOTH_M} * g.mu)
             {d.div} (s.n - 1 + {TE_SMOOTH_M}) AS enc_smooth
    FROM rows_ r JOIN stats s USING (brand) CROSS JOIN gmean g
)
SELECT brand, n, y_sum,
       CAST(SUM(enc_loo) AS BIGINT) AS enc_loo_sum,
       MIN(enc_loo) AS enc_loo_min,
       MAX(enc_loo) AS enc_loo_max,
       MIN(enc_smooth) AS enc_smooth_min,
       MAX(enc_smooth) AS enc_smooth_max
FROM enc GROUP BY brand, n, y_sum ORDER BY brand
"""


#: activity-bucket cap for the isotonic calibration curve
ISO_MAX_BUCKET = 100


def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration of conversion rate against user
    activity, via the CLOSED FORM of weighted isotonic regression:

        iso(k) = max_{{i<=k}} min_{{j>=k}} rate(i..j)

    (the max-min representation of the pool-adjacent-violators
    solution — Ayer et al., Ann. Math. Stat. 1955; Barlow et al. 1972
    — public), where rate(i..j) is the pooled conversion rate of
    buckets i..j in integer ppm (big-ticket conversion, value >= 150). The classic PAV algorithm is a
    SEQUENTIAL merge loop; the max-min form is embarrassingly
    parallel, which is what makes isotonic regression Spark-friendly.

    Monotonicity survives the ppm truncation: every pooled rate is
    truncated BEFORE the max-min, and max over a growing prefix of
    (min over a shrinking suffix) is non-decreasing in k by
    construction — property-tested.

    Scale (100 TB): one shuffle collapses events to per-user
    (activity, converted) rows, a second to the ≤{ISO_MAX_BUCKET}
    activity buckets; the O(n³) max-min expansion runs on that
    BOUNDED bucket frame (≤ 64k intermediate rows for 40 buckets —
    constant w.r.t. corpus size), never on raw data.

    Output: (bucket, n_users, n_conv, raw_ppm, iso_ppm) ordered by
    bucket; iso_ppm is non-decreasing.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    # big-ticket conversion (the ab_conversion_ztest threshold): plain
    # "any purchase" saturates to rate 1.0 on this corpus
    per_user = ev.groupBy("user_id").agg(
        F.expr(
            f"least(count(1), {ISO_MAX_BUCKET})"
        ).cast("long").alias("bucket"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= 150),
                1,
            ).otherwise(0)
        ).cast("long").alias("conv"),
    )
    b = per_user.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("w"),
        F.sum("conv").cast("long").alias("c"),
    )
    from pyspark.sql import Window

    wcum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # prefix sums over the bounded bucket frame (<= ISO_MAX_BUCKET
    # rows — the single-partition window never sees raw data)
    pre = b.select(
        "bucket",
        "w",
        "c",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("c").over(wcum).alias("cc"),
    )
    lo = pre.selectExpr(
        "bucket as i", "cw - w as cw0", "cc - c as cc0"
    )
    hi = pre.selectExpr("bucket as j", "cw as cwj", "cc as ccj")
    pairs = lo.crossJoin(F.broadcast(hi)).filter(
        F.col("i") <= F.col("j")
    ).selectExpr(
        "i",
        "j",
        "(ccj - cc0) * 1000000 div nullif(cwj - cw0, 0) as r",
    )
    ks = b.select(F.col("bucket").alias("k"), "w", "c")
    inner = (
        pairs.join(
            F.broadcast(ks),
            (F.col("i") <= F.col("k")) & (F.col("j") >= F.col("k")),
        )
        .groupBy("k", "w", "c", "i")
        .agg(F.min("r").alias("mr"))
    )
    return (
        inner.groupBy("k", "w", "c")
        .agg(F.max("mr").cast("long").alias("iso_ppm"))
        .selectExpr(
            "k as bucket",
            "w as n_users",
            "c as n_conv",
            "c * 1000000 div w as raw_ppm",
            "iso_ppm",
        )
        .orderBy("bucket")
    )


def _isotonic_sql(d: Dialect) -> str:
    return f"""
WITH per_user AS (
    SELECT user_id,
           least(CAST(COUNT(*) AS BIGINT), {ISO_MAX_BUCKET}) AS bucket,
           CAST(MAX(CASE WHEN event_type = 'purchase' AND value >= 150
                THEN 1 ELSE 0 END) AS BIGINT) AS conv
    FROM events GROUP BY user_id
),
b AS (
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS w,
           CAST(SUM(conv) AS BIGINT) AS c
    FROM per_user GROUP BY bucket
),
pre AS (
    SELECT bucket, w, c,
           SUM(w) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cw,
           SUM(c) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cc
    FROM b
),
pairs AS (
    SELECT lo.bucket AS i, hi.bucket AS j,
           (hi.cc - (lo.cc - lo.c)) * 1000000
             {d.div} nullif(hi.cw - (lo.cw - lo.w), 0) AS r
    FROM pre lo JOIN pre hi ON lo.bucket <= hi.bucket
),
inner_ AS (
    SELECT k.bucket AS k, k.w, k.c, p.i, MIN(p.r) AS mr
    FROM pairs p JOIN b k ON p.i <= k.bucket AND p.j >= k.bucket
    GROUP BY 1, 2, 3, 4
)
SELECT k AS bucket, w AS n_users, c AS n_conv,
       c * 1000000 {d.div} w AS raw_ppm,
       CAST(MAX(mr) AS BIGINT) AS iso_ppm
FROM inner_ GROUP BY k, w, c ORDER BY bucket
"""


def ml_winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics per event type: clamp values at
    the exact P1/P99 (the standard outlier-taming transform a feature
    pipeline applies before scaling) and report mean/std before and
    after — the audit that shows what winsorization bought.

    Everything derives from ONE corpus scan: the per-(type, cents)
    histogram (bounded by the price-like value domain — the
    evt_value_percentiles_exact policy) yields the exact lower-
    quantile P1/P99 via cumulative counts, and the winsorized sums
    are computed ON THE HISTOGRAM (Σ cnt·clamp(cents, p1, p99)) —
    no second pass over raw rows.

    Determinism: means are truncating-div integer cents; stds are one
    sqrt expression over exact BIGINT sums, rounded to 6 dp (the
    ml_ols_trend float discipline).

    Output: (event_type, n, p1_cents, p99_cents, mean_cents,
    wins_mean_cents, std_cents, wins_std_cents) ordered by type.
    """
    from pyspark.sql import Window

    hist = event_cents_histogram(spark, sf_dir)
    wcum = Window.partitionBy("event_type").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "cents",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    cuts = cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.min(F.when(F.expr("100 * cum >= 1 * n"), F.col("cents"))).alias(
            "p1_cents"
        ),
        F.min(F.when(F.expr("100 * cum >= 99 * n"), F.col("cents"))).alias(
            "p99_cents"
        ),
    )
    stats = (
        hist.join(F.broadcast(cuts), "event_type")
        .selectExpr(
            "event_type",
            "n",
            "p1_cents",
            "p99_cents",
            "cnt",
            "cents",
            "greatest(least(cents, p99_cents), p1_cents) as wcents",
        )
        .groupBy("event_type", "n", "p1_cents", "p99_cents")
        .agg(
            F.sum(F.expr("cnt * cents")).cast("long").alias("sx"),
            F.sum(F.expr("cnt * cents * cents")).cast("long").alias("sxx"),
            F.sum(F.expr("cnt * wcents")).cast("long").alias("wx"),
            F.sum(F.expr("cnt * wcents * wcents")).cast("long").alias("wxx"),
        )
    )
    return stats.selectExpr(
        "event_type",
        "n",
        "p1_cents",
        "p99_cents",
        "sx div n as mean_cents",
        "wx div n as wins_mean_cents",
        "round(sqrt(cast(n as double) * cast(sxx as double)"
        " - cast(sx as double) * cast(sx as double))"
        " / cast(n as double), 6) as std_cents",
        "round(sqrt(cast(n as double) * cast(wxx as double)"
        " - cast(wx as double) * cast(wx as double))"
        " / cast(n as double), 6) as wins_std_cents",
    ).orderBy("event_type")


def _winsorize_sql(d: Dialect) -> str:
    return f"""
WITH hist AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
),
cum AS (
    SELECT event_type, cents, cnt,
           SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents
                          ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(cnt) OVER (PARTITION BY event_type) AS n
    FROM hist
),
cuts AS (
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           MIN(CASE WHEN 100 * cum >= 1 * n THEN cents END) AS p1_cents,
           MIN(CASE WHEN 100 * cum >= 99 * n THEN cents END) AS p99_cents
    FROM cum GROUP BY event_type
),
stats AS (
    SELECT h.event_type, c.n, c.p1_cents, c.p99_cents,
           CAST(SUM(h.cnt * h.cents) AS BIGINT) AS sx,
           CAST(SUM(h.cnt * h.cents * h.cents) AS BIGINT) AS sxx,
           CAST(SUM(h.cnt * greatest(least(h.cents, c.p99_cents),
                                     c.p1_cents)) AS BIGINT) AS wx,
           CAST(SUM(h.cnt * greatest(least(h.cents, c.p99_cents),
                                     c.p1_cents)
                    * greatest(least(h.cents, c.p99_cents),
                               c.p1_cents)) AS BIGINT) AS wxx
    FROM hist h JOIN cuts c USING (event_type)
    GROUP BY 1, 2, 3, 4
)
SELECT event_type, n, p1_cents, p99_cents,
       sx {d.div} n AS mean_cents,
       wx {d.div} n AS wins_mean_cents,
       round(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE), 6) AS std_cents,
       round(sqrt(CAST(n AS DOUBLE) * CAST(wxx AS DOUBLE)
         - CAST(wx AS DOUBLE) * CAST(wx AS DOUBLE))
         / CAST(n AS DOUBLE), 6) AS wins_std_cents
FROM stats ORDER BY event_type
"""


QUERIES = {
    "ml_winsorize_stats": ml_winsorize_stats,
    "ml_quantile_grid": ml_quantile_grid,
    "ml_target_encoding_loo": ml_target_encoding_loo,
    "ml_isotonic_calibration": ml_isotonic_calibration,
}

TEMPLATES = {
    "ml_quantile_grid": _quantile_grid_sql,
    "ml_target_encoding_loo": _target_encoding_sql,
    "ml_isotonic_calibration": _isotonic_sql,
    "ml_winsorize_stats": _winsorize_sql,
}
