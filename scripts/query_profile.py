"""Per-query profile: where one warm run of a registered query spends
its time, split the way perfbench's trace splits it.

    python scripts/query_profile.py --sf-dir DIR [--profile ref|se]
        [--conf k=v ...] [--plan] QUERY [QUERY ...]

QUERY is a registered name or its unique ``<prefix>_`` short form
(``q4`` -> ``q4_price_spread``). The session is ``get_spark``'s, with
the tables registered as views as perfbench's set-up does; ``--profile``
applies a ``session.PROFILES`` entry (the confs bench.py times that
family under) and each ``--conf`` is set after it, so two invocations
that differ in one ``--conf`` are the legs of an A/B. After WARMUPS
untimed runs, one run is traced under ``profile:<query>:<phase>`` job
groups with perfbench's ``Tracer``: plan build, the forced optimized and
physical plans, then ``toPandas``. One row per query:

    build_ms opt_ms plan_ms action_ms  build wall, Catalyst phases, action wall
    build_jobs                         jobs run eagerly while the plan is built
    jobs stages tasks                  of the action's job group
    stage_ms gap_ms                    union of stage spans; action wall minus it
    cpu_ms shuffle_mb                  executor CPU; shuffle read + write

``--plan`` prints ``explain("formatted")`` of the traced run's plan
after its row. ``--sf-dir`` defaults to ``$SPARK_GRAFT_SF_DIR``.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.tracer import Tracer, force_plan  # noqa: E402
from sqlondataframesr_spark import catalog, registry  # noqa: E402
from sqlondataframesr_spark.materialize import release_all  # noqa: E402
from sqlondataframesr_spark.plans.audit import explain_formatted  # noqa: E402
from sqlondataframesr_spark.session import PROFILES, get_spark  # noqa: E402

#: untimed runs before the traced one: JIT, parquet footer cache
WARMUPS = 3
COLUMNS = ("build_ms", "opt_ms", "plan_ms", "action_ms", "build_jobs", "jobs",
           "stages", "tasks", "stage_ms", "gap_ms", "cpu_ms", "shuffle_mb")
COUNTS = {"build_jobs", "jobs", "stages", "tasks"}


def resolve(arg: str, names) -> str:
    if arg in names:
        return arg
    hits = [n for n in names if n.startswith(f"{arg}_")]
    if len(hits) != 1:
        raise SystemExit(f"profile: {arg!r} matches {hits or 'no query'}")
    return hits[0]


def profile(spark, tracer: Tracer, name: str, build, sf_dir: str):
    """One traced run of ``name``: its row and its DataFrame."""
    def phase(ph, fn):
        tracer.group(name, ph)
        t = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t

    df, build_s = phase("build", lambda: build(spark, sf_dir))
    tracer.group(name, "plan")
    opt_s, plan_s = force_plan(df)
    _, action_s = phase("action", df.toPandas)
    tracer.clear()
    b = tracer.stage_stats(f"profile:{name}:build")
    a = tracer.stage_stats(f"profile:{name}:action")
    row = (build_s * 1e3, opt_s * 1e3, plan_s * 1e3, action_s * 1e3,
           b["jobs"], a["jobs"], a["stages"], a["tasks"], a["stage_wall_s"] * 1e3,
           (action_s - a["stage_wall_s"]) * 1e3, a["cpu_s"] * 1e3,
           a["shuffle_read_mb"] + a["shuffle_write_mb"])
    return row, df


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--profile", choices=sorted(PROFILES))
    ap.add_argument("--conf", action="append", default=[], metavar="K=V")
    ap.add_argument("--plan", action="store_true")
    args = ap.parse_args(argv)
    if not args.sf_dir:
        ap.error("--sf-dir or $SPARK_GRAFT_SF_DIR is required")
    builders = registry.queries()
    names = [resolve(q, builders) for q in args.queries]
    confs = dict(PROFILES[args.profile]) if args.profile else {}
    for kv in args.conf:
        k, sep, v = kv.partition("=")
        if not sep:
            ap.error(f"--conf wants K=V, got {kv!r}")
        confs[k] = v

    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    for k, v in confs.items():
        spark.conf.set(k, v)
    catalog.register_views(spark, args.sf_dir)
    tracer = Tracer(spark, "profile")
    print(f"# confs {confs or 'session defaults'}")
    print(f"{'query':44s}" + "".join(f"{c:>11s}" for c in COLUMNS))
    try:
        for name in names:
            for _ in range(WARMUPS):
                builders[name](spark, args.sf_dir).toPandas()
                release_all()
            row, df = profile(spark, tracer, name, builders[name], args.sf_dir)
            cells = (f"{v:11.0f}" if c in COUNTS else f"{v:11.1f}"
                     for c, v in zip(COLUMNS, row))
            print(f"{name[:44]:44s}" + "".join(cells), flush=True)
            if args.plan:
                print(explain_formatted(df))
            release_all()
    finally:
        tracer.close()
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
