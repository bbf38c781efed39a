"""Full-registry empty-input sweep (r9).

Runs EVERY registered query against zero-row tables (served through
catalog._table_cache under a pseudo sf_dir) and reports crashes. The
per-family battery lives in tests/test_empty_inputs.py; this sweep is
the round-boundary exhaustive version — commit its output as
EMPTYCHECK_r{N}.txt.

As of r10 there are NO skips: `stream_dedup_history` materializes its
file-stream source from the catalog cache when the pseudo sf_dir has
no real parquet (two zero-row parity files), so even the streaming
sink runs end-to-end on empty input.

Run: python scripts/empty_sweep.py [name_prefix ...]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SKIP: set[str] = set()  # r10: the streaming sink now handles pseudo sf_dirs

EMPTY = "_empty_sweep"

SCHEMAS = {
    "documents": "doc_id long, text string, lang string, source string, n_chars long",
    "embeddings": "vec_id long, embedding array<float>, label int",
    "events": (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    ),
    "region": "r_regionkey long, r_name string, r_comment string",
    "nation": "n_nationkey long, n_name string, n_regionkey long, n_comment string",
    "customer": (
        "c_custkey long, c_name string, c_address string, c_nationkey long,"
        " c_phone string, c_acctbal double, c_mktsegment string, c_comment string"
    ),
    "supplier": (
        "s_suppkey long, s_name string, s_address string, s_nationkey long,"
        " s_phone string, s_acctbal double, s_comment string"
    ),
    "part": (
        "p_partkey long, p_name string, p_mfgr string, p_brand string,"
        " p_type string, p_size int, p_container string, p_retailprice double,"
        " p_comment string"
    ),
}


def empty_tables(spark) -> dict:
    """A zero-row DataFrame for every table, keyed by table name."""
    import duckdb

    fake = {n: spark.createDataFrame([], s) for n, s in SCHEMAS.items()}
    # orders/lineitem schemas are wide: derive them from the real files
    con = duckdb.connect()
    tmap = {"BIGINT": "long", "VARCHAR": "string", "DOUBLE": "double",
            "INTEGER": "int", "TIMESTAMP": "timestamp", "DATE": "date"}
    for t in ("orders", "lineitem"):
        cols = con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('/root/testdata/sf0.001/{t}.parquet')"
        ).fetchall()
        schema = ", ".join(f"{c[0]} {tmap.get(c[1], c[1].lower())}" for c in cols)
        fake[t] = spark.createDataFrame([], schema)
    return fake


def main() -> int:
    from sqlondataframesr_spark.session import get_spark

    spark = get_spark(app_name="empty-sweep", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    import sqlondataframesr_spark.catalog as C
    from sqlondataframesr_spark import registry
    from sqlondataframesr_spark.materialize import release_all

    app = spark.sparkContext.applicationId
    for name, df in empty_tables(spark).items():
        C._table_cache[(app, EMPTY, name)] = df

    qs = registry.queries()
    if len(sys.argv) > 1:  # prefix filter, same CLI as driver_sim.py
        qs = {n: f for n, f in qs.items()
              if any(n.startswith(p) for p in sys.argv[1:])}
    ok, fails = 0, []
    for n in sorted(qs):
        if n in SKIP:
            print(f"{n} SKIP (streaming file source needs a real dir)")
            continue
        try:
            qs[n](spark, EMPTY).collect()
            ok += 1
            print(f"{n} ok")
        except Exception as e:  # noqa: BLE001 — report and continue
            fails.append(n)
            print(f"{n} FAIL {type(e).__name__}: {str(e)[:140]}")
        finally:
            release_all()
    print(f"SUMMARY ok={ok} fail={len(fails)} skip={len(SKIP)} fails={fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
