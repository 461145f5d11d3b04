"""Physical-plan inspection helpers.

The engine's performance contract is expressed as assertions over Catalyst
physical plans — filters reach the parquet scan, dims broadcast, top-k
never globally sorts, nothing silently degrades to a cartesian product.
``tests/test_plans.py`` enforces these on the operator catalog with the
helpers below.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Full formatted physical plan (untruncated scan details)."""
    jqe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jqe.explainString(mode)


def _tree_section(plan: str) -> str:
    """The operator TREE of the (final, if AQE-executed) plan.

    Formatted explain prints the tree, then (post-execution) the pre-
    adaptive "Initial Plan" tree, then numbered per-operator details for
    every id in BOTH trees — so operator counting must stay inside the
    one tree or everything double-counts."""
    if "== Final Plan ==" in plan:
        start = plan.find("== Final Plan ==")
        end = plan.find("== Initial Plan ==", start)
        return plan[start : end if end != -1 else len(plan)]
    m = re.search(r"^\(\d+\) ", plan, re.MULTILINE)
    return plan[: m.start()] if m else plan


def pushed_filters(df: DataFrame) -> list[str]:
    """Every ``PushedFilters: [...]`` group found in the plan's scans."""
    plan = physical_plan(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def read_schemas(df: DataFrame) -> list[str]:
    """Every scan's ``ReadSchema`` — checks column pruning."""
    plan = physical_plan(df)
    return re.findall(r"ReadSchema: ([^\n]*)", plan)


def join_kinds(df: DataFrame) -> list[str]:
    """Physical join operator names, one entry per join operator (counted
    in the final plan tree — see :func:`_tree_section`)."""
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)",
        _tree_section(physical_plan(df)),
    )


def has_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in physical_plan(df)


def shuffle_exchanges(df: DataFrame) -> list[str]:
    """One entry per shuffle exchange operator (final plan tree only;
    broadcast exchanges and AQE shuffle reads excluded)."""
    tree = _tree_section(physical_plan(df))
    return [
        ln.strip()
        for ln in tree.splitlines()
        if re.search(r"\bExchange\b", ln) and "Broadcast" not in ln
    ]
