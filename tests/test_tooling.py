"""One measurement path, one comparator and one SQL source per query:
the bench and the scripts must compile under names that shadow no
stdlib module, and the status-store reader, the conf profiles, the
lineage cut, the float rule, the DuckDB star views and the
DuckDB/Spark-SQL spellings must each live in one place (perfbench/,
session.PROFILES, materialize.truncate, check.py and
functions/dialect.py), so a second copy cannot drift from what the
bench times, from what release_all frees, from what the driver's value
hash accepts, or from the oracle its dual is checked against."""

from __future__ import annotations

import ast
import glob
import importlib.util
import os
import re
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: regexes, spelled in pieces so this file does not match its own search
STATUS_STORE_CALL = re.escape("statusStore" + "()")
JOIN_PROFILE_CONF = re.escape("spark.sql.join." + "preferSortMergeJoin")
FLOAT_TOLERANCE = re.escape("math." + "isclose")
EXACT_ENV_READ = r"""(environ\.get\(|environ\[|getenv\()\s*["']EXACT["']"""
LOCAL_CHECKPOINT_CALL = re.escape(".local" + "Checkpoint(")
DUCKDB_VIEW = r"(?i)CREATE\s+(OR\s+REPLACE\s+)?VIEW\b"
TWIN_NAME = re.compile(r"(_DUCK|_SPARK|_DUCK_SQL|_SPARK_SQL)$")
DIALECT_BRANCH = r"""\bdialect\s*:\s*str\b|==\s*["'](duck|spark)["']"""
PACKAGE = os.path.join(ROOT, "sqlondataframesr_spark")
#: the one place a dialect spelling lives
DIALECT_MODULE = os.path.join("sqlondataframesr_spark", "functions", "dialect.py")
#: the paper's six tasks keep their ``Q<n>_SPARK_SQL`` names: the
#: benchmark times queries/reference.py as is
REFERENCE_TWINS = re.compile(
    re.escape(os.path.join("sqlondataframesr_spark", "queries", "reference.py")) + r":Q[1-6]_SPARK_SQL$"
)


def _py_files() -> list[str]:
    out = []
    for dirpath, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if not d.startswith((".", "__"))]
        out += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    return out


def _rel(path: str) -> str:
    return os.path.relpath(path, ROOT)


def _sites(needle: str, allowed) -> list[str]:
    sites = []
    for path in _py_files():
        rel = _rel(path)
        if rel.startswith("perfbench" + os.sep) or rel in allowed:
            continue
        with open(path, encoding="utf-8") as fh:
            if re.search(needle, fh.read()):
                sites.append(rel)
    return sites


def test_bench_and_scripts_compile():
    paths = [os.path.join(ROOT, "bench.py")]
    paths += sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py")))
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            compile(fh.read(), path, "exec")


def test_script_names_do_not_shadow_stdlib():
    # ``python scripts/X.py`` puts scripts/ first on sys.path, so a
    # scripts/profile.py would be imported by cProfile inside pyspark
    stems = {os.path.basename(p)[:-3] for p in glob.glob(os.path.join(ROOT, "scripts", "*.py"))}
    assert sorted(stems & set(sys.stdlib_module_names)) == []


def test_status_store_read_only_in_perfbench():
    assert _sites(STATUS_STORE_CALL, ()) == []


def test_join_conf_profiles_only_in_session():
    allowed = {os.path.join("sqlondataframesr_spark", "session.py")}
    assert _sites(JOIN_PROFILE_CONF, allowed) == []


def test_local_checkpoint_only_in_materialize():
    # materialize.truncate is the one lineage cut: it records the
    # checkpointed RDD so release_all can free its blocks
    allowed = {os.path.join("sqlondataframesr_spark", "materialize.py")}
    assert _sites(LOCAL_CHECKPOINT_CALL, allowed) == []


def test_no_second_float_rule():
    sites = _sites(FLOAT_TOLERANCE, ())
    assert [s for s in sites if s.startswith(("tests" + os.sep, "scripts" + os.sep))] == []
    assert _sites(EXACT_ENV_READ, ()) == []


def test_duckdb_views_only_in_check():
    # besides check.py, a view may read only one of the two fixtures that
    # are not the parquet star: the Stack-Exchange CSVs and the planted
    # embedding vectors
    fixture_reads = {
        os.path.join("tests", "test_stackexchange.py"): "read_csv_auto(",
        os.path.join("tests", "test_llm_ops.py"): "read_parquet('{pq}/",
    }
    sites = []
    for rel in _sites(DUCKDB_VIEW, {os.path.join("sqlondataframesr_spark", "check.py")}):
        fixture = fixture_reads.get(rel)
        with open(os.path.join(ROOT, rel), encoding="utf-8") as fh:
            for n, line in enumerate(fh, 1):
                if re.search(DUCKDB_VIEW, line) and not (fixture and fixture in line):
                    sites.append(f"{rel}:{n}")
    assert sites == []


def _package_modules() -> list[tuple[str, ast.Module]]:
    out = []
    for path in sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)):
        rel = _rel(path)
        if rel != DIALECT_MODULE:
            with open(path, encoding="utf-8") as fh:
                out.append((rel, ast.parse(fh.read(), path)))
    return out


def _is_private_sql(name: str) -> bool:
    # a private constant or SQL builder: _COS, _VEC_SQL, _kmeans_parts
    return name.startswith("_") and (name.isupper() or name.endswith(("_sql", "_parts", "_cte")))


def test_one_sql_source_per_query():
    """Outside functions/dialect.py no module keeps a DuckDB/Spark twin:
    no ``*_DUCK`` / ``*_SPARK`` / ``*_SPARK_SQL`` name (the six
    ``Q<n>_SPARK_SQL`` names of queries/reference.py aside), no string
    dialect switch, and no private SQL fragment shared across modules
    (a shared builder is public and takes the Dialect)."""
    twins, branches, imports = [], [], []
    for rel, tree in _package_modules():
        for node in tree.body:
            targets = node.targets if isinstance(node, ast.Assign) else (
                [node.target] if isinstance(node, ast.AnnAssign) else [])
            twins += [f"{rel}:{t.id}" for t in targets
                      if isinstance(t, ast.Name) and t.id != "SPARK_SQL" and TWIN_NAME.search(t.id)
                      and not REFERENCE_TWINS.match(f"{rel}:{t.id}")]
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and node.level > 0:
                imports += [f"{rel}:{a.name}" for a in node.names if _is_private_sql(a.name)]
        with open(os.path.join(ROOT, rel), encoding="utf-8") as fh:
            branches += [f"{rel}:{n}" for n, line in enumerate(fh, 1) if re.search(DIALECT_BRANCH, line)]
    assert twins == []
    assert branches == []
    assert imports == []


def test_bench_tracer_counts_jobs_run_under_another_group(spark):
    """A query's window owns jobs a helper thread runs under its own job
    group (Structured Streaming's micro-batches); nothing before the
    window counts."""
    spec = importlib.util.spec_from_file_location("bench", os.path.join(ROOT, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    tracer = bench.BenchTracer(spark, "t")
    sc = spark.sparkContext
    spark.range(10).count()

    def foreign():
        sc.setJobGroup("t:foreign", "t:foreign")
        spark.range(10).count()

    try:
        group = tracer.group("q", "x")
        spark.range(10).count()
        helper = threading.Thread(target=foreign)
        helper.start()
        helper.join()
        tracer.clear()
        own = sc.statusTracker().getJobIdsForGroup(group)
        other = sc.statusTracker().getJobIdsForGroup("t:foreign")
        assert own and other
        assert tracer.stage_stats(group)["jobs"] == len(own) + len(other)
    finally:
        tracer.close()
