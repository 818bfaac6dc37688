"""Helpers to read a DataFrame's physical plan and assert
scale-critical properties. Used by tests/test_plans.py and the
plan-audit pass (tools/plan_audit.py) — there is deliberately no
custom planning here (SURVEY §4: zero Catalyst forks; we *verify* the
optimizer, we don't replace it)."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def formatted_plan(df: DataFrame) -> str:
    return explain_str(df, "formatted")


def node_count(df: DataFrame, operator: str) -> int:
    """Number of physical operators whose name starts with ``operator``.

    Counts the numbered node sections (``(5) Exchange``) of the
    formatted plan — a plain substring count would double-count each
    node (tree line + detail header) and match inside argument lists.
    """
    return len(re.findall(rf"^\(\d+\) {operator}", formatted_plan(df), re.M))


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column sets actually read from parquet (one entry per scan) —
    the column-pruning check."""
    out = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            out.append(line.removeprefix("ReadSchema:").strip())
    return out


def shuffle_count(df: DataFrame) -> int:
    return node_count(df, "Exchange")
