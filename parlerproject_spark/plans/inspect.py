"""Helpers over Spark's explain output / executed plan."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The physical plan string (post-AQE initial plan)."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """`.explain('formatted')` as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (PushedFilters: [...])."""
    text = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        body = m.group(1).strip()
        if body:
            out.extend(s.strip() for s in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists actually read by each file scan (ReadSchema) —
    the column-pruning witness."""
    text = formatted_plan(df)
    scans = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        cols = [c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()]
        scans.append(cols)
    return scans


def join_strategies(df: DataFrame) -> list[str]:
    """Physical join operators in plan order (BroadcastHashJoin,
    SortMergeJoin, ShuffledHashJoin, BroadcastNestedLoopJoin...)."""
    text = executed_plan(df)
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)", text)


def final_plan(df: DataFrame) -> str:
    """Execute the frame and return the FINAL adaptive plan — AQE
    only materializes codegen spans and real exchange choices after
    execution (isFinalPlan=true)."""
    df.collect()
    text = df._jdf.queryExecution().executedPlan().toString()
    # AdaptiveSparkPlan prints "== Final Plan ==" then "== Initial
    # Plan ==" — keep only the final section or everything counts twice.
    return text.split("== Initial Plan ==")[0]


def codegen_stage_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans in the final plan — wider/
    fewer is better for a pipeline of narrow ops. Executes the frame."""
    # codegen stages print as `*(n) Operator` in the tree string
    return len(set(re.findall(r"\*\((\d+)\)", final_plan(df))))


def exchange_count(plan: str) -> int:
    """DISTINCT shuffle exchanges in a plan string (`executed_plan`
    for the exchanges a query schedules, `final_plan` for the ones
    AQE kept) — the number to minimize. Broadcast exchanges are not
    shuffles and are not counted.

    Distinct by plan_id, not raw line count: the plan string
    re-prints a shared subtree once per reference (and an
    InMemoryRelation re-prints its entire cached child plan at every
    cache reference), so a raw findall over a plan with persisted/
    shared frames multiply-counts the same physical exchange — the
    r6 corpus_refresh "160 shuffles" was ~19 real exchanges printed
    ~8x. A plan printed without plan ids falls back to the raw
    count."""
    ids = re.findall(r"Exchange (?:hashpartitioning|rangepartitioning|"
                     r"RoundRobinPartitioning|SinglePartition)"
                     r".*?\[plan_id=(\d+)\]", plan)
    return len(set(ids)) if ids else len(re.findall(r"\bExchange ", plan))
