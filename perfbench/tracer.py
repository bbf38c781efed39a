"""Per-layer tracing, taken from outside the engine.

Nothing here patches or imports engine internals: the tracer tags each
phase of a query with ``setJobGroup("<workload>:<query>:<phase>")``,
counts py4j round trips by wrapping the gateway client's
``send_command``, times Catalyst's phases on the returned DataFrame's
``QueryExecution`` (analysis from its tracker, optimization and
planning by forcing each plan) and reads job and stage metrics
from the application status store, attributed by job group rather than
by stage-id windows.
"""

from __future__ import annotations

import threading
import time

#: py4j memory commands (reference deletion on Python-side GC) are
#: housekeeping, not calls a plan builder makes.
_MEMORY_COMMAND = "m\n"


class Py4jCounter:
    """Counts py4j commands sent to the JVM while ``active`` is set."""

    def __init__(self, sc) -> None:
        self._client = sc._gateway._gateway_client
        self._send = self._client.send_command
        self._lock = threading.Lock()
        self.active = False
        self.calls = 0

        def send_command(command, *args, **kwargs):
            if self.active and not command.startswith(_MEMORY_COMMAND):
                with self._lock:
                    self.calls += 1
            return self._send(command, *args, **kwargs)

        self._client.send_command = send_command

    def close(self) -> None:
        self._client.send_command = self._send


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of [start, end] millisecond spans."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1000.0


class Tracer:
    """Attributes Spark jobs and stages to the phase that ran them."""

    def __init__(self, spark, workload: str) -> None:
        self.sc = spark.sparkContext
        self.workload = workload
        self.py4j = Py4jCounter(self.sc)
        self._status = self.sc.statusTracker()
        self._store = self.sc._jsc.sc().statusStore()
        self._seen_jobs: set[int] = set()
        self._ungrouped = set(self._status.getJobIdsForGroup(None))

    def close(self) -> None:
        self.py4j.close()

    def group(self, query: str, phase: str) -> str:
        group = f"{self.workload}:{query}:{phase}"
        self.sc.setJobGroup(group, group)
        return group

    def clear(self) -> None:
        self.sc._jsc.clearJobGroup()

    def new_ungrouped_stages(self) -> int:
        """Stages run by jobs without a job group since the last call."""
        now = set(self._status.getJobIdsForGroup(None))
        fresh = now - self._ungrouped
        self._ungrouped = now
        return sum(len(self._stage_ids(j)) for j in fresh)

    def _stage_ids(self, job_id: int) -> list[int]:
        info = self._status.getJobInfo(job_id)
        return list(info.stageIds) if info is not None else []

    def jobs_of(self, group: str) -> list[int]:
        """Job ids of ``group`` not attributed by an earlier call."""
        ids = [j for j in self._status.getJobIdsForGroup(group)
               if j not in self._seen_jobs]
        self._seen_jobs.update(ids)
        return sorted(ids)

    def stage_stats(self, group: str) -> dict[str, float]:
        """Job and completed-stage totals for the jobs of ``group``."""
        jobs = self.jobs_of(group)
        stage_ids = sorted({s for j in jobs for s in self._stage_ids(j)})
        out = dict.fromkeys(
            ("stages", "tasks", "failed_tasks", "run_s", "cpu_s", "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"),
            0.0,
        )
        out["jobs"] = float(len(jobs))
        spans = []
        for sid in stage_ids:
            try:
                s = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted or never submitted
                continue
            out["failed_tasks"] += s.numFailedTasks()
            if str(s.status()) != "COMPLETE":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["run_s"] += s.executorRunTime() / 1e3
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["input_mb"] += s.inputBytes() / 1e6
            out["shuffle_read_mb"] += s.shuffleReadBytes() / 1e6
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            out["spill_mb"] += s.diskBytesSpilled() / 1e6
            sub, comp = s.submissionTime(), s.completionTime()
            if sub.isDefined() and comp.isDefined():
                spans.append((sub.get().getTime(), comp.get().getTime()))
        out["stage_wall_s"] = _union_s(spans)
        return out


def analysis_ms(df) -> float:
    """Analysis time of ``df``'s QueryExecution, from its
    QueryPlanningTracker (analysis runs while the plan is built)."""
    summary = df._jdf.queryExecution().tracker().phases().get("analysis")
    return float(summary.get().durationMs()) if summary.isDefined() else 0.0


def force_plan(df) -> tuple[float, float]:
    """Force the optimized plan, then the physical plan, so both Catalyst
    phases are timed apart from the action; returns their wall seconds."""
    qe = df._jdf.queryExecution()
    t0 = time.perf_counter()
    qe.optimizedPlan()
    t1 = time.perf_counter()
    qe.executedPlan()
    return t1 - t0, time.perf_counter() - t1
