"""Query registry assembly.

Each query module exposes two dicts with the same keys, the query names:

- ``QUERIES``  — name -> callable(spark, sf_dir) -> DataFrame (fluent
  DataFrame form; what the driver's correctness gate runs).
- ``TEMPLATES`` — name -> the query's SQL, declared once
  (functions/dialect.py). ``registry`` renders it into the DuckDB
  oracle (the differential ground truth) and the Spark-SQL form over
  the registered temp views (the dual-API form; tests check both
  against the oracle, recreating the reference's N-version structure,
  RDataFramesSQL.Rmd:40-53).
"""
