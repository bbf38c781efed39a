"""Data-quality operators: table profiling and rule-based validation.

Production pipelines gate ingestion on exactly these two shapes (dbt
tests / Great-Expectations / Deequ): a per-column PROFILE (row counts,
null counts, distinct counts, min/max) and a battery of DQ RULES
(primary-key uniqueness, FK orphans, domain checks) whose violation
counts must be zero before a partition is published. Amazon Deequ runs
this same design on Spark; this module is the engine-native analogue,
oracle-checked like every other query.

Reference scope note: the reference notebook (RDataFramesSQL.Rmd) has
no data-validation surface at all — this is north-star tooling a
100 TB ingestion pipeline cannot run without.

Determinism: profile min/max are emitted as TYPED columns (numerics →
``min_num``/``max_num`` doubles, with timestamps as unix seconds;
strings → ``min_str``/``max_str``) rather than stringified values —
cross-engine number→string formatting is not stable, typed values are.

Scale: the profile is ONE full-width aggregate pass (every metric is
an agg expression over the same scan — partials map-side, a
single-partition reduce of ~|columns|·4 scalars). The rule battery's
FK checks are LEFT ANTI joins keyed on the FK (one shuffle each, or
broadcast when the dimension side is bounded); uniqueness is one
keyed count. Nothing quadratic, nothing collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..materialize import spread_scan
from ..functions.dialect import SPARK, Dialect
from ..functions.rounding import r6 as _r6, r6_sql

#: orders columns profiled, with their kind ('num' | 'ts' | 'str')
_PROFILE_COLS = [
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderstatus", "str"),
    ("o_orderpriority", "str"),
]


def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of ``orders``: rows, nulls, exact distinct
    count, typed min/max — the ANALYZE/Deequ profile shape.

    One aggregate pass computes every metric (6 columns × 4 stats as
    agg expressions over a single scan); the per-column rows are then
    unpivoted driver-side from the 1-row result via a literal
    ``stack`` — no second scan, no shuffle beyond the global reduce.

    spread_scan (r13): the multi-count_distinct lowers to an Expand
    (one row per distinct column per input row, a ~7x fan) that runs
    fused with the scan — and the single-row-group testdata parquet
    gives that scan ONE split, so the fan ran on one core. At real
    scale the scan has thousands of splits and this no-ops.
    """
    ords = spread_scan(load_table(spark, sf_dir, "orders"))
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in _PROFILE_COLS:
        aggs.append(F.sum(F.col(c).isNull().cast("bigint")).alias(f"{c}_nulls"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}_distinct"))
        if kind == "num":
            aggs.append(F.min(F.col(c)).cast("double").alias(f"{c}_min"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"{c}_max"))
        elif kind == "ts":
            aggs.append(
                F.expr(f"cast(unix_seconds(min({c})) as double)").alias(f"{c}_min")
            )
            aggs.append(
                F.expr(f"cast(unix_seconds(max({c})) as double)").alias(f"{c}_max")
            )
        else:
            aggs.append(F.min(F.col(c)).alias(f"{c}_min"))
            aggs.append(F.max(F.col(c)).alias(f"{c}_max"))
    one = ords.agg(*aggs)

    stack_parts = []
    for c, kind in _PROFILE_COLS:
        if kind == "str":
            num_min, num_max = "cast(null as double)", "cast(null as double)"
            str_min, str_max = f"{c}_min", f"{c}_max"
        else:
            num_min, num_max = f"{c}_min", f"{c}_max"
            str_min, str_max = "cast(null as string)", "cast(null as string)"
        stack_parts.append(
            f"'{c}', {c}_nulls, {c}_distinct, {num_min}, {num_max}, {str_min}, {str_max}"
        )
    stacked = one.select(
        "n_rows",
        F.expr(
            f"stack({len(_PROFILE_COLS)}, "
            + ", ".join(stack_parts)
            + ") as (col_name, n_nulls, n_distinct, min_num, max_num, min_str, max_str)"
        ),
    )
    return stacked.select(
        "col_name", "n_rows", "n_nulls", "n_distinct",
        "min_num", "max_num", "min_str", "max_str",
    ).orderBy("col_name")


def _profile_sql(d: Dialect) -> str:
    """The per-column UNION-ALL spelling (the differential then proves
    single-pass-stack ≡ per-column scans)."""
    selects = []
    for c, kind in _PROFILE_COLS:
        if kind == "num":
            mn, mx = f"CAST(MIN({c}) AS DOUBLE)", f"CAST(MAX({c}) AS DOUBLE)"
            smn = smx = d.cast_str("NULL")
        elif kind == "ts":
            mn = f"CAST({d.fn('epoch', f'MIN({c})')} AS DOUBLE)"
            mx = f"CAST({d.fn('epoch', f'MAX({c})')} AS DOUBLE)"
            smn = smx = d.cast_str("NULL")
        else:
            mn = mx = "CAST(NULL AS DOUBLE)"
            smn, smx = f"MIN({c})", f"MAX({c})"
        selects.append(f"""
  SELECT '{c}' AS col_name,
         COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         COUNT(DISTINCT {c}) AS n_distinct,
         {mn} AS min_num, {mx} AS max_num,
         {smn} AS min_str, {smx} AS max_str
  FROM orders""")
    return "\nUNION ALL\n".join(selects) + "\nORDER BY col_name"


def dq_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based validation battery (the dbt-test / Deequ-check
    shape): each row is one named rule with its violation count — a
    publish gate requires every count to be 0. Rules cover the three
    families production suites are built from: uniqueness (PK),
    referential integrity (FK anti-joins), and domain constraints.

    The integrity rules all pass (count 0) on the generator's clean
    data — those rows certify both engines agree the data is clean.
    The ``orders_backfill_window`` rule is the discriminating one: it
    validates a hypothetical "pre-2000 backfill" contract the
    synthetic data deliberately violates (orders run to 2001), so the
    differential also certifies a NONZERO count path.
    """
    ords = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    li = load_table(spark, sf_dir, "lineitem")

    pk_dups = (
        ords.groupBy("o_orderkey").count().filter(F.col("count") > 1)
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("orders_pk_unique").alias("rule"), "violations")
    )
    fk_cust = (
        ords.join(cust, ords.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("orders_custkey_fk").alias("rule"), "violations")
    )
    fk_ord = (
        li.select("l_orderkey")
        .join(ords.select("o_orderkey"), li.l_orderkey == ords.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("lineitem_orderkey_fk").alias("rule"), "violations")
    )
    nonpos_price = (
        ords.filter(F.col("o_totalprice") <= 0)
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("orders_totalprice_positive").alias("rule"), "violations")
    )
    null_keys = (
        ords.filter(F.col("o_orderkey").isNull() | F.col("o_custkey").isNull())
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("orders_keys_not_null").alias("rule"), "violations")
    )
    discount_domain = (
        li.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 1))
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("lineitem_discount_domain").alias("rule"), "violations")
    )
    backfill_window = (
        ords.filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .agg(F.count(F.lit(1)).alias("violations"))
        .select(F.lit("orders_backfill_window").alias("rule"), "violations")
    )
    return (
        pk_dups.unionAll(fk_cust)
        .unionAll(fk_ord)
        .unionAll(nonpos_price)
        .unionAll(null_keys)
        .unionAll(discount_domain)
        .unionAll(backfill_window)
        .orderBy("rule")
    )


DQ_VIOLATIONS_ORACLE = """
SELECT 'orders_pk_unique' AS rule,
       (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
        GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS violations
UNION ALL
SELECT 'orders_custkey_fk',
       (SELECT COUNT(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
UNION ALL
SELECT 'lineitem_orderkey_fk',
       (SELECT COUNT(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
UNION ALL
SELECT 'orders_totalprice_positive',
       (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
UNION ALL
SELECT 'orders_keys_not_null',
       (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL OR o_custkey IS NULL)
UNION ALL
SELECT 'lineitem_discount_domain',
       (SELECT COUNT(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1)
UNION ALL
SELECT 'orders_backfill_window',
       (SELECT COUNT(*) FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01')
ORDER BY rule
"""


#: PSI buckets: fixed-width document-length bins (width 64 chars,
#: capped at bucket 9). FIXED edges, not quantiles — quantile edges
#: differ between engines and drift with the data, which would make
#: the drift metric itself drift.
PSI_BUCKETS = 10
PSI_WIDTH = 64


def dq_split_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report between the train and test splits:
    per-bucket Population Stability Index terms over document length.

    PSI = sum over buckets of (p - q) * ln(p / q) is THE production
    gate for "did my eval set drift away from training?" (> 0.25 =
    investigate). Emitted PER BUCKET rather than pre-summed: the rows
    localize WHERE the mass moved, and a cross-bucket float sum would
    be summation-order-nondeterministic across engines — the consumer
    sums 10 rounded terms. Laplace smoothing (+1 per bucket) keeps
    empty buckets finite and is integer-exact on both engines.

    Scale: split assignment and bucketing are map-only expressions;
    the whole report is ONE groupBy over ~doc-count rows into
    PSI_BUCKETS * 2 cells plus a 1-row total broadcast — the same
    shape at 100 TB.
    """
    from ..llm.sampling import TRAIN_PCT, VAL_PCT, bucket_sql

    docs = load_table(spark, sf_dir, "documents")
    hb = F.expr(bucket_sql(SPARK))
    split = (
        F.when(hb < TRAIN_PCT, F.lit("train"))
        .when(hb < VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    lb = F.least(F.floor(F.col("n_chars") / PSI_WIDTH), F.lit(PSI_BUCKETS - 1))
    tagged = docs.select(split.alias("split"), lb.alias("bucket")).filter(
        F.col("split") != "val"
    )
    counts = tagged.groupBy("bucket").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("n_train"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("n_test"),
    )
    spine = spark.range(PSI_BUCKETS).select(F.col("id").alias("bucket"))
    filled = (
        spine.join(counts, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_train", F.lit(0)).alias("n_train"),
            F.coalesce("n_test", F.lit(0)).alias("n_test"),
        )
    )
    totals = filled.agg(
        F.sum("n_train").alias("tot_train"), F.sum("n_test").alias("tot_test")
    )
    p = (F.col("n_train") + 1).cast("double") / (
        F.col("tot_train") + PSI_BUCKETS
    ).cast("double")
    q = (F.col("n_test") + 1).cast("double") / (
        F.col("tot_test") + PSI_BUCKETS
    ).cast("double")
    return (
        filled.crossJoin(F.broadcast(totals))  # 1-row totals
        .select(
            "bucket",
            "n_train",
            "n_test",
            _r6(p).alias("p_train"),
            _r6(q).alias("q_test"),
            _r6((p - q) * F.log(p / q)).alias("psi_term"),
        )
        .orderBy("bucket")
    )


def _psi_sql(d: Dialect) -> str:
    from ..llm.sampling import TRAIN_PCT, VAL_PCT, bucket_sql

    return f"""
WITH tagged AS (
  SELECT CASE WHEN {bucket_sql(d)} < {TRAIN_PCT} THEN 'train'
              WHEN {bucket_sql(d)} < {VAL_PCT} THEN 'val'
              ELSE 'test' END AS split,
         LEAST(CAST(floor(n_chars / {PSI_WIDTH}) AS BIGINT), {PSI_BUCKETS - 1}) AS bucket
  FROM documents
),
counts AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
  FROM tagged WHERE split <> 'val' GROUP BY bucket
),
filled AS (
  SELECT t.b AS bucket,
         COALESCE(n_train, 0) AS n_train, COALESCE(n_test, 0) AS n_test
  FROM range(0, {PSI_BUCKETS}) t(b) LEFT JOIN counts ON counts.bucket = t.b
),
tot AS (SELECT SUM(n_train) AS tot_train, SUM(n_test) AS tot_test FROM filled)
SELECT bucket, n_train, n_test,
       {r6_sql(f'(n_train + 1.0{d.D}) / (tot_train + {PSI_BUCKETS})')} AS p_train,
       {r6_sql(f'(n_test + 1.0{d.D}) / (tot_test + {PSI_BUCKETS})')} AS q_test,
       {r6_sql(f'''((n_train + 1.0{d.D}) / (tot_train + {PSI_BUCKETS})
              - (n_test + 1.0{d.D}) / (tot_test + {PSI_BUCKETS}))
             * ln(((n_train + 1.0{d.D}) / (tot_train + {PSI_BUCKETS}))
                  / ((n_test + 1.0{d.D}) / (tot_test + {PSI_BUCKETS})))''')} AS psi_term
FROM filled, tot
ORDER BY bucket
"""


def dq_join_fanout_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-blowup audit for orders ⋈ lineitem on the order key: per-
    side key multiplicities and the EXACT join cardinality, computed
    from the two per-key count tables WITHOUT running the join — the
    check a pipeline runs before an expensive join to catch fan-out
    bugs (duplicate keys, accidental many-to-many).

    Scale: two partial-aggregated shuffles down to per-key counts
    (each bounded by the key domain), one key-to-key join of those
    count tables, one global aggregate. Σ(n_left·n_right) over common
    keys IS the join's output cardinality — exact, no estimation.
    Output: ONE row (left_rows, right_rows, n_left_keys, n_right_keys,
    n_common_keys, max_left_mult, max_right_mult, exact_join_rows,
    amplification_ppm = join rows as ppm of the larger input).
    """
    lc = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("nl"))
    )
    rc = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).cast("long").alias("nr"))
    )
    both = lc.join(rc, "k", "full_outer")
    return both.agg(
        F.sum(F.coalesce("nl", F.lit(0))).cast("long").alias("left_rows"),
        F.sum(F.coalesce("nr", F.lit(0))).cast("long").alias("right_rows"),
        F.count("nl").cast("long").alias("n_left_keys"),
        F.count("nr").cast("long").alias("n_right_keys"),
        F.sum(
            F.when(F.col("nl").isNotNull() & F.col("nr").isNotNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_common_keys"),
        F.max("nl").cast("long").alias("max_left_mult"),
        F.max("nr").cast("long").alias("max_right_mult"),
        F.sum(
            F.when(
                F.col("nl").isNotNull() & F.col("nr").isNotNull(),
                F.col("nl") * F.col("nr"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("exact_join_rows"),
    ).select(
        "*",
        F.expr(
            "cast(exact_join_rows * 1000000L div"
            " nullif(greatest(left_rows, right_rows), 0L) as bigint)"
        ).alias("amplification_ppm"),
    )


def _fanout_sql(d: Dialect) -> str:
    return f"""
  WITH lc AS (
    SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS nl
    FROM orders GROUP BY o_orderkey
  ),
  rc AS (
    SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS nr
    FROM lineitem GROUP BY l_orderkey
  ),
  both_sides AS (
    SELECT lc.nl, rc.nr FROM lc FULL OUTER JOIN rc ON lc.k = rc.k
  ),
  agg AS (
    SELECT CAST(SUM(COALESCE(nl, 0)) AS BIGINT) AS left_rows,
           CAST(SUM(COALESCE(nr, 0)) AS BIGINT) AS right_rows,
           CAST(COUNT(nl) AS BIGINT) AS n_left_keys,
           CAST(COUNT(nr) AS BIGINT) AS n_right_keys,
           CAST(SUM(CASE WHEN nl IS NOT NULL AND nr IS NOT NULL
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_common_keys,
           CAST(MAX(nl) AS BIGINT) AS max_left_mult,
           CAST(MAX(nr) AS BIGINT) AS max_right_mult,
           CAST(SUM(CASE WHEN nl IS NOT NULL AND nr IS NOT NULL
                          THEN nl * nr ELSE 0 END) AS BIGINT)
             AS exact_join_rows
    FROM both_sides
  )
  SELECT agg.*,
         CAST(exact_join_rows * 1000000 {d.div}
              NULLIF(GREATEST(left_rows, right_rows), 0) AS BIGINT)
           AS amplification_ppm
  FROM agg
"""


#: the lineitem numeric battery for the correlation matrix — integer
#: re-units chosen so every sufficient statistic stays in int64
#: through ~sf10 (price in whole DOLLARS: Σp² ≈ 6·10^15 at sf0.1 —
#: the ml_ols_trend Σy² range contract; ≥sf100 path = DECIMAL(38,0))
_CORR_COLS = [
    ("qty_units", "cast(round(l_quantity) as bigint)"),
    ("price_usd", "cast(round(l_extendedprice) as bigint)"),
    ("discount_bp", "cast(round(l_discount * 10000) as bigint)"),
    ("tax_bp", "cast(round(l_tax * 10000) as bigint)"),
]


def _corr_expr(a: str, b: str) -> str:
    """Pearson r from exact BIGINT sums — ONE float expression,
    token-identical in both engines (the ml_ols_trend discipline);
    n·Σxy would overflow int64 at row scale, so every factor casts to
    double first (exact for sums < 2^53)."""
    n = "cast(n as double)"
    return r6_sql(
        f"({n} * cast(s_{a}_{b} as double)"
        f" - cast(s_{a} as double) * cast(s_{b} as double))"
        f" / nullif(sqrt(({n} * cast(s_{a}_{a} as double)"
        f"   - cast(s_{a} as double) * cast(s_{a} as double))"
        f"  * ({n} * cast(s_{b}_{b} as double)"
        f"   - cast(s_{b} as double) * cast(s_{b} as double))), 0.0)"
    )


def profile_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of the lineitem numeric
    battery (quantity, price, discount, tax) — the profiling read an
    ANALYZE/Deequ pass emits before feature selection.

    Scale (100 TB): ONE scan computes every sufficient statistic
    (n, 4 sums, 4 sums of squares, 6 cross sums) in a single
    partial-aggregated reduce to ONE row; the 6 correlations are then
    map-side expressions unpivoted from that row. No per-pair scans,
    no corr() UDAF ordering hazards — the float math happens once,
    identically in both engines, on exact integer sums.

    Output: (col_a, col_b, n, corr) — C(4,2) = 6 rows ordered by
    (col_a, col_b).
    """
    li = load_table(spark, sf_dir, "lineitem").selectExpr(
        *[f"{expr} as {name}" for name, expr in _CORR_COLS]
    )
    names = [n for n, _ in _CORR_COLS]
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i, a in enumerate(names):
        aggs.append(F.sum(F.col(a)).cast("long").alias(f"s_{a}"))
        for b in names[i:]:
            aggs.append(
                F.sum(F.col(a) * F.col(b)).cast("long").alias(f"s_{a}_{b}")
            )
    sums = li.agg(*aggs)
    pairs = [
        (a, b) for i, a in enumerate(names) for b in names[i + 1:]
    ]
    stack = ", ".join(
        f"'{a}', '{b}', {_corr_expr(a, b)}" for a, b in pairs
    )
    return (
        sums.selectExpr(
            "n",
            f"stack({len(pairs)}, {stack}) as (col_a, col_b, corr)",
        )
        .select("col_a", "col_b", "n", "corr")
        .orderBy("col_a", "col_b")
    )


def _corr_oracle() -> str:
    sum_cols = ["CAST(COUNT(*) AS BIGINT) AS n"]
    names = [n for n, _ in _CORR_COLS]
    for i, (a, ex) in enumerate(_CORR_COLS):
        exd = ex.replace(" as bigint", " AS BIGINT")
        sum_cols.append(f"CAST(SUM({exd}) AS BIGINT) AS s_{a}")
        for b, exb in _CORR_COLS[i:]:
            exbd = exb.replace(" as bigint", " AS BIGINT")
            sum_cols.append(
                f"CAST(SUM(({exd}) * ({exbd})) AS BIGINT) AS s_{a}_{b}"
            )
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i + 1:]]
    selects = " UNION ALL ".join(
        f"SELECT '{a}' AS col_a, '{b}' AS col_b, n, {_corr_expr(a, b)}"
        f" AS corr FROM sums"
        for a, b in pairs
    )
    return (
        "WITH sums AS (SELECT "
        + ", ".join(sum_cols)
        + " FROM lineitem)\nSELECT col_a, col_b, n, corr FROM ("
        + selects
        + ") ORDER BY col_a, col_b"
    )


PROFILE_CORR_ORACLE = _corr_oracle()


#: the orders categorical battery for the entropy profile: column
#: name -> dialect-neutral value expression (bounded domains only)
def _entropy_cols(d: Dialect) -> list[tuple[str, str]]:
    return [
        ("o_orderstatus", "o_orderstatus"),
        ("o_orderpriority", "o_orderpriority"),
        ("order_month", d.cast_str("month(o_orderdate)")),
        ("price_10k_bracket", d.cast_str("CAST(floor(o_totalprice / 10000.0) AS BIGINT)")),
    ]


def profile_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon-entropy profile of the orders categorical battery —
    the information-content read a profiler adds to null/distinct
    counts (a column with 50 distinct values but 0.1 bits of entropy
    is effectively constant; join keys want HIGH normalized entropy).

    Exactness: each value's ln(p) is quantized to integer micro-nats
    before the weighted sum (the lm.py discipline — order-independent
    BIGINT aggregation); normalized entropy divides by ln(k) at the
    same quantization.

    Scale: the four columns unpivot MAP-SIDE (stack ×4 per row), so
    ONE scan + one shuffle on the bounded (column, value) domain
    builds every histogram; the entropy fold runs on that bounded
    frame.

    Output: (col_name, n_rows, n_distinct, entropy_micronats,
    norm_entropy_ppm) ordered by col_name.
    """
    ords = load_table(spark, sf_dir, "orders")
    stack = ", ".join(
        f"'{name}', {expr}"
        for name, expr in _entropy_cols(SPARK)
    )
    long_ = ords.selectExpr(
        f"stack({len(_entropy_cols(SPARK))}, {stack}) as (col_name, val)"
    )
    hist = long_.groupBy("col_name", "val").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_col = hist.groupBy("col_name").agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    terms = hist.join(F.broadcast(per_col), "col_name").selectExpr(
        "col_name",
        "n_rows",
        "n_distinct",
        "c * cast(round(ln(cast(c as double) / cast(n_rows as double))"
        " * 1000000.0) as bigint) as term_us",
    )
    return (
        terms.groupBy("col_name", "n_rows", "n_distinct")
        .agg(F.sum("term_us").cast("long").alias("s_us"))
        .selectExpr(
            "col_name",
            "n_rows",
            "n_distinct",
            # negate FIRST: -s_us >= 0, so truncating div (Spark)
            # and floor // (DuckDB) agree on every operand
            "(-s_us) div n_rows as entropy_micronats",
            "((-s_us) div n_rows) * 1000000"
            " div nullif(cast(round(ln(cast(n_distinct as double))"
            " * 1000000.0) as bigint), 0) as norm_entropy_ppm",
        )
        .orderBy("col_name")
    )


def _entropy_sql(d: Dialect) -> str:
    selects = " UNION ALL ".join(
        f"SELECT '{name}' AS col_name, {expr} AS val FROM orders"
        for name, expr in _entropy_cols(d)
    )
    ent = d.idiv("(-CAST(SUM(term_us) AS BIGINT))", "n_rows")
    norm = d.idiv(
        f"({ent}) * 1000000\n        ",
        "nullif(CAST(round(ln(CAST(n_distinct AS DOUBLE))\n                   * 1000000.0) AS BIGINT), 0)",
    )
    return f"""
WITH long_ AS ({selects}),
hist AS (
    SELECT col_name, val, CAST(COUNT(*) AS BIGINT) AS c
    FROM long_ GROUP BY 1, 2
),
per_col AS (
    SELECT col_name, CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_distinct
    FROM hist GROUP BY col_name
),
terms AS (
    SELECT h.col_name, p.n_rows, p.n_distinct,
           h.c * CAST(round(ln(CAST(h.c AS DOUBLE)
                / CAST(p.n_rows AS DOUBLE)) * 1000000.0) AS BIGINT)
             AS term_us
    FROM hist h JOIN per_col p USING (col_name)
)
SELECT col_name, n_rows, n_distinct,
       {ent} AS entropy_micronats,
       {norm} AS norm_entropy_ppm
FROM terms GROUP BY col_name, n_rows, n_distinct
ORDER BY col_name
"""


QUERIES = {
    "profile_corr_matrix": profile_corr_matrix,
    "profile_entropy": profile_entropy,
    "profile_orders": profile_orders,
    "dq_violations": dq_violations,
    "dq_split_psi": dq_split_psi,
    "dq_join_fanout_report": dq_join_fanout_report,
}

TEMPLATES = {
    # the UNION-ALL-over-one-CTE and scalar-subquery UNION spellings are
    # dialect-neutral
    "profile_corr_matrix": PROFILE_CORR_ORACLE,
    "dq_violations": DQ_VIOLATIONS_ORACLE,
    "profile_entropy": _entropy_sql,
    "profile_orders": _profile_sql,
    "dq_split_psi": _psi_sql,
    "dq_join_fanout_report": _fanout_sql,
}
