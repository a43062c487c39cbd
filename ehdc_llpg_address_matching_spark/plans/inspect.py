"""Physical-plan inspection helpers — the engine's ".explain audit".

At 100 TB the physical plan IS the product: these helpers make plan
properties assertable in tests (tests/test_plans.py) and reportable
(tools/gen_plans_md.py -> PLANS.md) so regressions like a lost
broadcast, a duplicated Arrow UDF evaluation, or a filter that stopped
reaching the parquet scan fail CI instead of shipping.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The physical plan's text, the adaptive plan's final plan only
    (its current plan before it has run). An executed
    AdaptiveSparkPlan prints its final and its initial plan, which
    would count every node twice."""
    return final_plan(df._jdf.queryExecution().executedPlan())


def final_plan(jplan) -> str:
    """``physical_plan`` of a JVM SparkPlan, such as a streaming
    query's ``lastExecution().executedPlan()``."""
    if jplan.nodeName() == "AdaptiveSparkPlan":
        jplan = jplan.executedPlan()
    return jplan.toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def plan_report(df: DataFrame) -> dict:
    """Counts of the plan features that matter for scale."""
    p = physical_plan(df)
    return {
        "exchanges": len(re.findall(r"Exchange hashpartitioning", p)),
        "broadcast_exchanges": len(re.findall(r"BroadcastExchange", p)),
        "broadcast_hash_joins": len(re.findall(r"BroadcastHashJoin", p)),
        "sort_merge_joins": len(re.findall(r"SortMergeJoin", p)),
        "shuffled_hash_joins": len(re.findall(r"ShuffledHashJoin", p)),
        "nested_loop_joins": len(re.findall(r"NestedLoopJoin", p)),
        "arrow_evals": len(re.findall(r"ArrowEvalPython", p)),
        "windows": len(re.findall(r"\bWindow\b", p)),
        "sorts": len(re.findall(r"\bSort\b", p)),
        "hash_aggregates": len(re.findall(r"HashAggregate", p)),
        # AQE keeps the top plan adaptive; codegen spans show up as
        # "[codegen id : N]" annotations in the formatted plan
        "wholestage_codegen": len(set(re.findall(
            r"\[codegen id : (\d+)\]", formatted_plan(df)))),
        "pushed_filters": len(re.findall(r"PushedFilters: \[[^\]]", p)),
    }

