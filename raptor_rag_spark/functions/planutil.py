"""Driver-side plan inspection helpers (no jobs, no data)."""

from __future__ import annotations

from pyspark.sql import DataFrame

# optimized-plan nodes that run Python code per row or per batch
_PYTHON_OPERATORS = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
)


def plan_is_bare_scan(df: DataFrame) -> bool:
    """True when re-scanning ``df`` is cheap: its optimized plan is a
    bare materialized source (checkpoint RDD / file relation / local
    rows), possibly under projections/filters — nothing expensive to
    re-execute. Used to decide whether a multi-consumer input is worth
    pinning with a localCheckpoint (an already-materialized input must
    NOT be pinned again — that would double-store it). A Python UDF
    over a cheap source is not cheap: every re-scan re-runs it."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    if any(op in plan for op in _PYTHON_OPERATORS):
        return False
    lines = [ln.strip() for ln in plan.splitlines() if ln.strip()]
    cheap_leaf = ("LogicalRDD" in plan) or ("Relation" in plan) or (
        "LocalRelation" in plan
    )
    return cheap_leaf and len(lines) <= 3
