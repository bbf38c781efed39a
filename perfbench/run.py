"""Benchmark driver: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The inputs are generated from the
seed before set-up starts (perfbench/inputs.py). The client then sets
the workload up ``SETUPS`` times -- session start, table registration
and one warm-up pass -- and runs passes over the workload's query list
for ``--seconds``, each query starting when the previous result is
fully materialized. Every result is verified outside the timed
spans: warm-up results against the DuckDB oracles with
``check.compare_rows`` (in a traced run, the ``spark.sql`` duals of a
fluent workload too), every later result against the verified one by
row count and an order-insensitive hash.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics as
per-pass sums (medians over traced passes); per-query rows go to
``.bench_build/perfbench/trace-<workload>-seed<n>.json``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import importlib.util
import itertools
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from tracer import Tracer, analysis_ms, force_plan  # noqa: E402
from workloads import (  # noqa: E402
    WORKLOADS, digest, duckdb_rows, pandas_rows, spark_rows,
)

#: set-ups per run; setup_s is their median
SETUPS = 3
#: noop actions timed at each end of the window, after FLOOR_WARMUP
#: untimed ones; the floor at each end is their minimum
FLOOR_SAMPLES = 10
FLOOR_WARMUP = 5

#: spans of the SQL front end, the oracle and the comparator, by metric
SQL_LAYERS = {"sql_build": "sql.build_s", "sql_action": "sql.action_s",
              "oracle": "oracle.duckdb_s", "compare": "check.compare_s"}

pc = time.perf_counter


def _isolate_scratch() -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Client:
    """One closed-loop client running one workload in this process."""

    def __init__(self, workload: str, star_dir: str, bounds: dict[str, float],
                 traced: bool):
        from sqlondataframesr_spark import registry

        self.name = workload
        self.w = WORKLOADS[workload]
        self.star = star_dir
        self.bounds = bounds
        self.traced = traced
        self.builders = registry.queries()
        self.oracles = registry.oracles()
        self.duals = registry.spark_sql()
        self.cpus = os.cpu_count() or 1
        self.spark = None
        self.con = None
        self.tracer = None
        self.expected: dict[str, tuple | None] = {}
        self.verify_spans = dict.fromkeys(SQL_LAYERS, 0.0)
        self.attempted = 0
        self.failures: Counter[str] = Counter()

    # -- set-up ---------------------------------------------------------
    def setup(self) -> dict[str, float]:
        from sqlondataframesr_spark import catalog, check
        from sqlondataframesr_spark.session import get_spark

        if self.con is None:
            self.con = check.duckdb_connect(self.star)
        t0 = pc()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(cpus=self.cpus)
        t1 = pc()
        catalog.register_views(self.spark, self.star)
        t2 = pc()
        results = self.run_pass()["results"]
        t3 = pc()
        self.verify(results, against_oracle=not self.expected)
        return {"session.start_s": t1 - t0, "catalog.load_s": t2 - t1,
                "warmup_s": t3 - t2, "setup_s": t3 - t0}

    def floor(self) -> list[float]:
        """Times of ``spark.range(1).toPandas()``, the scheduler floor."""
        out = []
        for i in range(FLOOR_WARMUP + FLOOR_SAMPLES):
            t = pc()
            self.spark.range(1).toPandas()
            if i >= FLOOR_WARMUP:
                out.append(pc() - t)
        return out

    # -- one pass -------------------------------------------------------
    def run_pass(self, traced: bool = False) -> dict:
        latencies, results, layers = [], {}, []
        if traced:
            self.tracer.new_ungrouped_stages()
        t0 = pc()
        for q in self.w.queries:
            self.attempted += 1
            try:
                lat, res, lay = self.run_query(q, traced)
            except Exception:  # noqa: BLE001 - a failed query is a counted outcome
                self.failures[q] += 1
                traceback.print_exc(file=sys.stderr)
                continue
            latencies.append(lat)
            results[q] = res
            if lay is not None:
                layers.append(lay)
        out = {"pass_s": pc() - t0, "latencies": latencies,
               "results": results, "layers": layers}
        if traced:
            out["ungrouped_stages"] = self.tracer.new_ungrouped_stages()
        return out

    def run_query(self, q: str, traced: bool):
        """Latency, result and (when traced) per-layer record of one query.

        The untraced path is exactly the user's: build, materialize,
        release. The traced path adds job groups, a forced physical
        plan and the tracer's reads, all outside the phase spans."""
        from sqlondataframesr_spark.check import compare_rows
        from sqlondataframesr_spark.materialize import release_all

        spark, build, diff = self.spark, self.builders[q], self.w.mode == "diff"
        tr = self.tracer if traced else None
        span: dict[str, float] = {}

        def phase(name, fn):
            if tr:
                tr.group(q, name)
            t = pc()
            out = fn()
            span[name] = pc() - t
            return out

        t_start = pc()
        if tr:
            tr.py4j.calls, tr.py4j.active = 0, True
        df = phase("build", lambda: build(spark, self.star))
        if tr:
            tr.py4j.active = False
            tr.group(q, "plan")
            span["optimize"], span["plan"] = force_plan(df)
        if diff:
            fluent = phase("action", lambda: spark_rows(df))
            sql_df = phase("sql_build", lambda: spark.sql(self.duals[q]))
            dual = phase("sql_action", lambda: spark_rows(sql_df))
            oracle = phase("oracle", lambda: duckdb_rows(self.con, self.oracles[q]))
            problems = phase("compare", lambda: compare_rows(*fluent, *oracle)
                             + compare_rows(*dual, *oracle))
            latency = pc() - t_start
            result = (digest(*fluent), digest(*dual), len(problems))
            rows = len(fluent[1])
        else:
            pdf = phase("action", df.toPandas)
            latency = pc() - t_start
            result, rows = pdf, len(pdf)
        cached = spark.sparkContext._jsc.getPersistentRDDs().size() if tr else 0
        phase("release", release_all)
        if not tr:
            return latency, result, None
        tr.clear()
        total = pc() - t_start
        return latency, result, self._layers(q, df, span, total, cached, rows,
                                             result[2] if diff else 0)

    def _layers(self, q, df, span, total, cached, rows, mismatches) -> dict:
        tr = self.tracer
        b = tr.stage_stats(f"{self.name}:{q}:build")
        a = tr.stage_stats(f"{self.name}:{q}:action")
        for group in ("plan", "sql_build", "sql_action"):
            tr.jobs_of(f"{self.name}:{q}:{group}")
        rec = {
            "query": q,
            "latency_s": total,
            "build.wall_s": span["build"],
            "build.self_s": span["build"] - b["stage_wall_s"],
            "build.py4j_calls": float(tr.py4j.calls),
            "build.jobs": b["jobs"],
            "build.stages": b["stages"],
            "plan.analysis_ms": analysis_ms(df),
            "plan.optimization_ms": span["optimize"] * 1e3,
            "plan.planning_ms": span["plan"] * 1e3,
            "exec.action_s": span["action"],
            "exec.driver_gap_s": span["action"] - a["stage_wall_s"],
            "collect.rows": float(rows),
            "materialize.cached_rdds": float(cached),
            "materialize.release_s": span["release"],
            "check.mismatches": float(mismatches),
            "unaccounted_s": total - sum(span.values()),
        }
        for k in ("jobs", "stages", "tasks", "stage_wall_s", "cpu_s", "run_s",
                  "input_mb", "shuffle_read_mb", "shuffle_write_mb",
                  "spill_mb", "failed_tasks"):
            rec[f"exec.{k}"] = a[k]
        for name, metric in SQL_LAYERS.items():
            rec[metric] = span.get(name, 0.0)
        if rec["unaccounted_s"] > self.bounds["latency_p50_s"] * total:
            print(f"# TRACE CHECK: {q}: phases cover {total - rec['unaccounted_s']:.4f}"
                  f" of {total:.4f} s", file=sys.stderr)
        return rec

    # -- verification ---------------------------------------------------
    def _oracle_check(self, q: str, cols: list[str], rows: list[tuple]) -> list[str]:
        """Compare a fluent result with the DuckDB oracle. A traced run
        also compares the query's ``spark.sql`` dual: on a fluent
        workload these are the only runs of the SQL front end, the oracle
        and the comparator, so their spans are kept as those layers'
        per-layer figures."""
        from sqlondataframesr_spark.check import compare_rows

        def timed(name, fn):
            t = pc()
            out = fn()
            self.verify_spans[name] += pc() - t
            return out

        oracle = timed("oracle", lambda: duckdb_rows(self.con, self.oracles[q]))
        problems = timed("compare", lambda: compare_rows(cols, rows, *oracle))
        if self.traced:
            sql_df = timed("sql_build", lambda: self.spark.sql(self.duals[q]))
            dual = timed("sql_action", lambda: spark_rows(sql_df))
            problems += timed("compare", lambda: compare_rows(*dual, *oracle))
        return problems

    def verify(self, results: dict, against_oracle: bool = False) -> None:
        """Check each result against the verified one; on the first
        warm-up, verify against the DuckDB oracle instead."""
        for q in self.w.queries:
            if q not in results:
                continue
            res = results[q]
            if self.w.mode == "diff":
                got = res[:2]
                ok = res[2] == 0
            else:
                cols, rows = pandas_rows(res)
                got = digest(cols, rows)
                ok = True
            if against_oracle:
                if self.w.mode == "fluent":
                    problems = self._oracle_check(q, cols, rows)
                    ok = not problems
                    for p in problems:
                        print(f"# MISMATCH {q}: {p[:300]}", file=sys.stderr)
                self.expected[q] = got if ok else None
            elif got != self.expected.get(q):
                ok = False
            if not ok:
                self.failures[q] += 1

    def close(self) -> None:
        from pyspark import SparkContext

        if self.tracer is not None:
            self.tracer.close()
        if self.con is not None:
            self.con.close()
        if self.spark is None:
            return
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _pass_sums(layers: list[dict], cpus: int) -> dict[str, float]:
    keys = [k for k in layers[0] if k not in ("query", "latency_s", "unaccounted_s")]
    sums = {k: sum(r[k] for r in layers) for k in keys}
    wall = sums["exec.stage_wall_s"] * cpus
    sums["exec.core_util"] = sums["exec.run_s"] / wall if wall else 0.0
    total = sum(r["latency_s"] for r in layers)
    sums["trace.unaccounted_frac"] = sum(r["unaccounted_s"] for r in layers) / total
    return sums


def measure(client: Client, seconds: float) -> dict:
    """Set up, time the window, and return every metric with details."""
    traced = client.traced
    setups = [client.setup() for _ in range(SETUPS)]
    if traced:
        client.tracer = Tracer(client.spark, client.name)
    floor_start = client.floor()
    plain, with_trace = [], []
    kinds = itertools.cycle([False, True] if traced else [False])
    t_end = pc() + seconds
    while pc() < t_end or (traced and len(with_trace) < len(plain)):
        kind = next(kinds)
        p = client.run_pass(traced=kind)
        client.verify(p["results"])
        (with_trace if kind else plain).append(p)
    floor_end = client.floor()
    hwm = _hwm_mb("self") + _hwm_mb(client.spark.sparkContext._gateway.proc.pid)

    latencies = [x for p in plain for x in p["latencies"]]
    m = {
        "setup_s": _median([s["setup_s"] for s in setups]),
        "pass_s": _median([p["pass_s"] for p in plain]),
        "latency_p50_s": _median(latencies),
        "latency_p90_s": (statistics.quantiles(latencies, n=10, method="inclusive")[8]
                          if len(latencies) > 1 else _median(latencies)),
        "mem_hwm_mb": hwm,
    }
    details = {
        "samples": {"setups": len(setups), "passes": len(plain),
                    "latencies": len(latencies), "traced_passes": len(with_trace)},
        "floor_start_s": min(floor_start),
        "floor_end_s": min(floor_end),
        "setups": setups,
        "pass_times": [p["pass_s"] for p in plain],
    }
    if traced:
        sums = [_pass_sums(p["layers"], client.cpus) for p in with_trace if p["layers"]]
        layer = {k: _median([s[k] for s in sums]) for k in sums[0]} if sums else {}
        for k in ("session.start_s", "catalog.load_s", "warmup_s"):
            layer[k] = _median([s[k] for s in setups])
        layer["floor.noop_s"] = (min(floor_start) + min(floor_end)) / 2
        layer["trace.overhead_frac"] = (
            _median([p["pass_s"] for p in with_trace]) / m["pass_s"] - 1.0)
        layer["trace.ungrouped_stages"] = float(
            sum(p["ungrouped_stages"] for p in with_trace))
        layer["failed_frac"] = sum(client.failures.values()) / client.attempted
        if client.w.mode == "fluent":
            for name, metric in SQL_LAYERS.items():
                layer[metric] = client.verify_spans[name]
        m.update(layer)
        details["queries"] = [r for p in with_trace for r in p["layers"]]
    return {"metrics": m, "details": details}


def _host_facts(seed: int) -> dict:
    import duckdb
    import pyspark

    return {"nproc": os.cpu_count(), "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__, "seed": seed}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("sqlondataframesr_spark") is None:
        print("perfbench: the engine package is not next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    _isolate_scratch()
    star_dir = inputs.prepare(os.path.join(STATE, "inputs"), args.seed)
    client = Client(args.workload, star_dir, bounds, bool(args.trace))
    try:
        out = measure(client, args.seconds)
    finally:
        client.close()

    m, d = out["metrics"], out["details"]
    facts = _host_facts(args.seed)
    print(f"# {args.workload} trace={args.trace} {json.dumps(facts)}")
    print(f"# samples {json.dumps(d['samples'])}")
    print("# setups " + json.dumps([{k: round(v, 3) for k, v in s.items()} for s in d["setups"]]))
    print("# passes " + json.dumps([round(x, 3) for x in d["pass_times"]]))
    drift = abs(d["floor_end_s"] / d["floor_start_s"] - 1.0)
    print(f"# floor.noop_s start {d['floor_start_s']:.4f} end {d['floor_end_s']:.4f}"
          + ("  CONTENDED HOST: floors disagree by more than the pass_s bound"
             if drift > bounds["pass_s"] else ""))
    for q, n in sorted(client.failures.items()):
        print(f"# FAILED {q}: {n}")
    if args.trace:
        detail_path = os.path.join(
            STATE, f"trace-{args.workload}-seed{args.seed}.json")
        with open(detail_path, "w") as fh:
            json.dump({"host": facts, **d, "metrics": m}, fh, indent=1)
        print(f"# per-query rows: {detail_path}")
    for name in wanted:
        print(f"# {name} = {m[name]:.6g} {units[name]}")
    failed = sum(client.failures.values())
    print(json.dumps({
        "correct": failed == 0,
        "attempted": client.attempted,
        "failed": failed,
        "metrics": {k: {"value": m[k], "unit": units[k]} for k in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
