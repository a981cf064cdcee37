"""Whole-registry plan audit: one diagnostic row per registry query.

Where tests/test_plans.py pins SPECIFIC plan shapes, this module
surveys EVERY query and reports the properties that matter at 100 TB
— shuffle-exchange count, broadcast usage, cartesian/nested-loop
joins, whole-stage-codegen coverage, and Python-UDF presence — so a
regression anywhere in the registry is visible as a diff of the
committed report (PLANS_r{N}.md), not just at the handful of pinned
queries.
"""

from __future__ import annotations

import re

from mape_calculation_and_anonymization_spark.plans.audit import (
    count_exchanges,
    physical_plan,
)


def audit_query(df) -> dict:
    plan = physical_plan(df)
    return {
        "exchanges": count_exchanges(df),
        "broadcasts": plan.count("BroadcastExchange"),
        "cartesian": "CartesianProduct" in plan,
        "bnlj": "BroadcastNestedLoopJoin" in plan,
        # codegen stages render as "*(n)" node prefixes in the plan
        # text; count DISTINCT stage ids, not occurrences
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python_eval": (
            "ArrowEvalPython" in plan
            or "BatchEvalPython" in plan
            or "FlatMapGroupsInPandas" in plan
            or "MapInPandas" in plan
        ),
    }


def report(spark, sf_dir: str, queries: dict) -> list[tuple[str, dict]]:
    """Audit every registry query; returns (name, row) pairs. Queries
    that execute on construction (streaming into memory sinks,
    fixture builders) are audited on their RESULT frame — the batch
    plan a consumer of the query actually pays for.

    Runs with AQE disabled for the audit ONLY: under AQE the
    pre-execution plan is an AdaptiveSparkPlan placeholder without
    codegen annotations, so the static Catalyst plan is the only
    inspectable-without-executing form. Exchange/broadcast counts are
    the static choices; AQE can only improve on them at runtime
    (coalescing partitions, converting to broadcast)."""
    rows = []
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name, fn in queries.items():
            try:
                rows.append((name, audit_query(fn(spark, sf_dir))))
            except Exception as exc:  # pragma: no cover — report, keep going
                rows.append((name, {"error": str(exc)[:100]}))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    return rows
