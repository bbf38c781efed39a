"""Simulate the driver's correctness gate: plain SparkSession (none of
our confs), every queries() entry vs oracle_sql() via DuckDB at sf0.01,
compared by check.compare_rows, the driver's EXACT value rule.
Run it from a cwd outside the checkout, as the driver does:
  cd /tmp && python <repo>/scripts/driver_sim.py

Flags / args:
  SF_DIR    env var — the parquet tree to run on (default sf0.01)
  argv      prefix filters, e.g. python driver_sim.py kmeans emb_"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[8]").appName("driver-sim")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e

print("entry rows:", len(e.entry(spark).collect()))
from sqlondataframesr_spark.check import (compare_rows, duckdb_connect, duckdb_rows,
                                          oracle_type_violations, spark_rows)

SF = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
con = duckdb_connect(SF)
qs, osql = e.queries(), e.oracle_sql()
# optional argv filter: python driver_sim.py q14 q15  (prefix match)
if len(sys.argv) > 1:
    qs = {n: f for n, f in qs.items() if any(n.startswith(p) for p in sys.argv[1:])}

fails = 0
for name, fn in sorted(qs.items()):
    cols, rows = spark_rows(fn(spark, SF))
    if name not in osql:
        print(name, "rows-only:", len(rows))
        continue
    # Type-exactness preflight (VERDICT r4 item 2): the driver's hasher
    # folds the oracle value's declared type/format in, so a DuckDB
    # HUGEINT (bare SUM of INTEGER) or DECIMAL hashes differently from
    # Spark's BIGINT/DOUBLE even when the numbers are equal — and the
    # value compare can't see it. Reject exotic output types at
    # registration time instead of letting the driver find them.
    bad = oracle_type_violations(con, osql[name])
    if bad:
        fails += 1
        print(name, "ORACLE-TYPE-FAIL:", bad)
        continue
    ok = not compare_rows(cols, rows, *duckdb_rows(con, osql[name]))
    if not ok:
        fails += 1
    print(name, len(rows), "match" if ok else "MISMATCH")
sys.exit(1 if fails else 0)
