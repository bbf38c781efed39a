"""One measurement path, one comparator and one SQL source per query:
the bench and the scripts must compile under names that shadow no
stdlib module, and the timing loop, the status-store reader, the conf
profiles, the lineage cut, the float rule, the DuckDB star views and
the DuckDB/Spark-SQL spellings must each live in one place (bench.py,
perfbench/, session.PROFILES, materialize.truncate, check.py and
functions/dialect.py), so a second copy cannot drift from what the
bench times, from what release_all frees, from what the driver's value
hash accepts, or from the oracle its dual is checked against. A
package module uses only another module's public names."""

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
TABLE_CACHE = r"\b" + re.escape("_table" + "_cache") + r"\b"
TIMER_CALL = re.escape("time.perf" + "_counter")
DUCKDB_VIEW = r"(?i)CREATE\s+(OR\s+REPLACE\s+)?VIEW\b"
TWIN_NAME = re.compile(r"(_DUCK|_SPARK|_DUCK_SQL|_SPARK_SQL)$")
DIALECT_BRANCH = r"""\bdialect\s*:\s*str\b|==\s*["'](duck|spark)["']"""
PACKAGE = os.path.join(ROOT, "sqlondataframesr_spark")
#: the one place a dialect spelling lives
DIALECT_MODULE = os.path.join("sqlondataframesr_spark", "functions", "dialect.py")
#: the one place that renders ``TEMPLATES`` into oracles and duals
REGISTRY_MODULE = os.path.join("sqlondataframesr_spark", "registry.py")
#: module-level names only the registry may build
RENDERED_DICTS = {"ORACLES", "SPARK_SQL", "NEUTRAL"}


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


def test_one_timing_loop():
    # bench.py's time_runs is the one timing loop; perfbench keeps its own
    assert _sites(TIMER_CALL, {"bench.py"}) == []


def test_local_checkpoint_only_in_materialize():
    # materialize.truncate is the one lineage cut: it records the
    # checkpointed RDD so release_all can free its blocks
    allowed = {os.path.join("sqlondataframesr_spark", "materialize.py")}
    assert _sites(LOCAL_CHECKPOINT_CALL, allowed) == []


def test_table_cache_only_in_catalog_and_the_planting_fixture():
    # tests plant frames through conftest's ``plant_tables``, which
    # removes them again; a direct write elsewhere could leak a planted
    # table into every later test that reads the same key
    allowed = {
        os.path.join("sqlondataframesr_spark", "catalog.py"),
        os.path.join("tests", "conftest.py"),
        os.path.join("scripts", "empty_sweep.py"),
    }
    assert sorted(_sites(TABLE_CACHE, allowed)) == []


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


def test_one_sql_source_per_query():
    """Outside functions/dialect.py no module keeps a DuckDB/Spark twin:
    no ``*_DUCK`` / ``*_SPARK`` / ``*_SPARK_SQL`` name and no string
    dialect switch (a shared SQL builder is public and takes the
    Dialect, test_no_private_import_across_modules)."""
    twins, branches = [], []
    for rel, tree in _package_modules():
        for node in tree.body:
            twins += [f"{rel}:{name}" for name in _assigned_names(node) if TWIN_NAME.search(name)]
        with open(os.path.join(ROOT, rel), encoding="utf-8") as fh:
            branches += [f"{rel}:{n}" for n, line in enumerate(fh, 1) if re.search(DIALECT_BRANCH, line)]
    assert twins == []
    assert branches == []


def _assigned_names(node: ast.stmt) -> list[str]:
    """The names a module-level statement binds or mutates: ``x =``,
    ``x: T =``, ``x |=``, ``x[k] =`` and tuple targets."""
    if isinstance(node, ast.Assign):
        targets = list(node.targets)
    elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
        targets = [node.target]
    else:
        return []
    names = []
    while targets:
        t = targets.pop()
        if isinstance(t, ast.Tuple):
            targets += t.elts
        elif isinstance(t, ast.Subscript):
            targets.append(t.value)
        elif isinstance(t, ast.Name):
            names.append(t.id)
    return names


def _import_time_calls(node: ast.AST, name: str) -> list[int]:
    """Lines where ``node`` calls ``name`` (as ``name(...)`` or
    ``x.name(...)``) outside any function, lambda or class body."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)):
        return []
    lines = []
    if isinstance(node, ast.Call):
        f = node.func
        if (isinstance(f, ast.Name) and f.id == name) or (isinstance(f, ast.Attribute) and f.attr == name):
            lines.append(node.lineno)
    for child in ast.iter_child_nodes(node):
        lines += _import_time_calls(child, name)
    return lines


def test_one_query_declaration():
    """A query module declares its SQL once, in ``TEMPLATES``, keyed like
    its ``QUERIES``; only the registry renders it (functions/dialect.py).
    No other module builds ``ORACLES`` / ``SPARK_SQL`` / ``NEUTRAL``,
    renders at import time, or resolves attributes lazily with a module
    ``__getattr__``."""
    sites = []
    for rel, tree in _package_modules():
        if rel == REGISTRY_MODULE:
            continue
        for node in tree.body:
            sites += [f"{rel}:{node.lineno}:{n}" for n in _assigned_names(node) if n in RENDERED_DICTS]
            sites += [f"{rel}:{n}:render" for n in _import_time_calls(node, "render")]
            if isinstance(node, ast.FunctionDef) and node.name == "__getattr__":
                sites.append(f"{rel}:{node.lineno}:__getattr__")
    assert sites == []

    mismatched = []
    for rel, _tree in _package_modules():
        mod = importlib.import_module(rel[:-3].replace(os.sep, ".").removesuffix(".__init__"))
        if hasattr(mod, "QUERIES") and set(getattr(mod, "TEMPLATES", {})) != set(mod.QUERIES):
            mismatched.append(rel)
    assert mismatched == []


def _is_private(name: str) -> bool:
    return name.startswith("_") and not name.startswith("__")


def test_no_private_import_across_modules():
    """No package module imports another's private name
    (``from .x import _y``) or reads one off a sibling module
    (``_alias._y``), so renaming a module's internals breaks no other
    module."""
    sites = []
    for path in sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), path)
        modules = set()
        for node in ast.walk(tree):
            if not (isinstance(node, ast.ImportFrom) and node.level > 0):
                continue
            base = os.path.dirname(path)
            for _ in range(node.level - 1):
                base = os.path.dirname(base)
            base = os.path.join(base, *(node.module or "").split("."))
            for a in node.names:
                if os.path.exists(os.path.join(base, a.name + ".py")) or os.path.isdir(os.path.join(base, a.name)):
                    modules.add(a.asname or a.name)
                elif _is_private(a.name):
                    sites.append(f"{_rel(path)}:{node.lineno}:{a.name}")
        sites += [f"{_rel(path)}:{node.lineno}:{node.value.id}.{node.attr}" for node in ast.walk(tree)
                  if isinstance(node, ast.Attribute) and _is_private(node.attr)
                  and isinstance(node.value, ast.Name) and node.value.id in modules]
    assert sites == []


def _bench():
    spec = importlib.util.spec_from_file_location("bench", os.path.join(ROOT, "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


def test_bench_rows_take_their_family_confs(monkeypatch):
    """Each row carries its family's conf profile, and building the table
    generates no Stack-Exchange fixture."""
    from sqlondataframesr_spark.queries import reference, stackexchange
    from sqlondataframesr_spark.session import PROFILES

    def no_fixture(*_a, **_k):
        raise AssertionError("rows() generated an SE fixture")

    monkeypatch.setattr(stackexchange, "fixture_dir", no_fixture)
    table = _bench().rows("/nonexistent/sf0.1")
    assert {n: table[n].confs for n in reference.QUERIES} == dict.fromkeys(reference.QUERIES, PROFILES["ref"])
    assert table["se100_task1_upvotes_per_year"].confs == PROFILES["se"]
    assert table["se1000_task1_upvotes_per_year"].confs == {}
    assert table["kmeans_train"].confs == {}
    assert list(table)[:6] == sorted(reference.QUERIES)


def test_profile_row_runs_under_the_row_confs(spark, sf_dir):
    """profile_row traces one q4 run under PROFILES["ref"], returns integer
    counts and a timed action, and leaves the session's confs as it
    found them."""
    from sqlondataframesr_spark.session import PROFILES

    bench = _bench()
    row = bench.rows(sf_dir)["q4_price_spread"]
    before = {k: spark.conf.get(k, None) for k in PROFILES["ref"]}
    seen = {}

    def build(s):
        seen.update({k: s.conf.get(k) for k in PROFILES["ref"]})
        return row.build(s)

    tracer = bench.BenchTracer(spark, "t")
    try:
        cols, _df = bench.profile_row(spark, tracer, row._replace(build=build))
    finally:
        tracer.close()
    assert seen == PROFILES["ref"]
    assert {k: spark.conf.get(k, None) for k in PROFILES["ref"]} == before
    assert all(type(cols[c]) is int for c in bench.COUNTS)
    assert cols["jobs"] >= 1 and cols["tasks"] >= cols["stages"] >= 1
    assert cols["action_ms"] > 0


def test_bench_tracer_counts_jobs_run_under_another_group(spark):
    """A query's window owns jobs a helper thread runs under its own job
    group (Structured Streaming's micro-batches); nothing before the
    window counts."""
    tracer = _bench().BenchTracer(spark, "t")
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


#: a copied block: this many consecutive code lines ...
COPY_WINDOW = 6
#: ... carrying at least this many characters without indentation
COPY_MIN_CHARS = 150


def _code_lines(path: str) -> list[tuple[int, str]]:
    """(line number, text) of each line that carries code: leading and
    trailing whitespace stripped, so a block pasted at another depth is
    still a copy; blank, comment-only and bracket/quote-only lines
    skipped."""
    with open(path, encoding="utf-8") as fh:
        numbered = list(enumerate(fh.read().splitlines(), 1))
    return [
        (no, text.strip()) for no, text in numbered
        if re.search(r"\w", text) and not text.lstrip().startswith("#")
    ]


def test_no_copied_blocks():
    """Every sub-plan two queries share is built by one function: no
    COPY_WINDOW-line window of package code (at least COPY_MIN_CHARS
    characters) appears twice, in one module or across two, so a fix
    to a shared CTE chain or fluent block cannot miss a copy."""
    seen: dict[str, list[str]] = {}
    for path in sorted(_py_files()):
        rel = _rel(path)
        if not rel.startswith("sqlondataframesr_spark" + os.sep):
            continue
        lines = _code_lines(path)
        for i in range(len(lines) - COPY_WINDOW + 1):
            window = lines[i:i + COPY_WINDOW]
            if sum(len(text) for _, text in window) >= COPY_MIN_CHARS:
                key = "\n".join(text for _, text in window)
                seen.setdefault(key, []).append(f"{rel}:{window[0][0]}")
    copies = sorted(sites for sites in seen.values() if len(sites) > 1)
    modules = sorted({site.rsplit(":", 1)[0] for sites in copies for site in sites})
    assert copies == [], f"{len(copies)} windows repeat across {len(modules)} modules: {copies}"
