"""Physical-plan audit helpers.

The scale posture of this engine is enforced, not just asserted in
docstrings: tests/test_plans.py uses these to pin the plan shapes that
matter at 100 TB — column-pruned scans, bounded exchange counts,
broadcast joins for dimensions, top-k instead of full sorts. If a
refactor regresses a plan (an extra shuffle, a lost pushdown), the
suite fails before the benchmark does.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Final physical plan as text (AQE initial plan — the shape
    Catalyst chose; AQE may still coalesce partitions at runtime)."""
    return df._jdf.queryExecution().executedPlan().toString()


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange nodes (hashpartitioning,
    rangepartitioning, SinglePartition, RoundRobinPartitioning, ...),
    at any depth of the tree, including under a ``:``-prefixed join
    branch. Line-anchored on the tree-drawing prefix, so a
    BroadcastExchange is excluded and a ReusedExchange node's inline
    reprint of its referenced exchange ("ReusedExchange [...],
    Exchange hashpartitioning(...)") is not counted again: a reused
    shuffle is paid once."""
    return len(re.findall(r"^[\s+:|-]*Exchange \w+", physical_plan(df), re.M))


def count_nodes(df: DataFrame, node: str) -> int:
    """Occurrences of a physical operator by NODE NAME at a tree
    position (e.g. ``Window``, ``Generate``, ``SortMergeJoin``) —
    robust to argument-rendering changes across Spark upgrades, unlike
    raw substring pins on the full node line (ADVICE r17)."""
    plan = physical_plan(df)
    pat = rf"^[\s+:\-]*(?:\*\(\d+\) )?{re.escape(node)}\b"
    return len(re.findall(pat, plan, re.M))


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df) or "BroadcastNestedLoopJoin" in physical_plan(df)


def read_schema_columns(df: DataFrame, table_substring: str) -> list[str]:
    """Columns actually read from the parquet scan whose path contains
    ``table_substring`` — i.e. what survived column pruning."""
    plan = physical_plan(df)
    for m in re.finditer(r"FileScan parquet \[([^\]]*)\][^\n]*", plan):
        if table_substring in m.group(0):
            cols = [c.split("#")[0].strip() for c in m.group(1).split(",")]
            return [c for c in cols if c]
    return []
