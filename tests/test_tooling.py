"""One measurement path: the bench and the scripts must compile under
names that shadow no stdlib module, and the status-store reader and
the conf profiles must each live in one place (perfbench/ and
session.PROFILES), so a second copy cannot drift from what the bench
times."""

from __future__ import annotations

import glob
import importlib.util
import os
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: spelled in pieces so this file does not match its own search
STATUS_STORE_CALL = "statusStore" + "()"
JOIN_PROFILE_CONF = "spark.sql.join." + "preferSortMergeJoin"


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
            if needle in fh.read():
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
