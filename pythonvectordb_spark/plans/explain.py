"""Physical-plan introspection: assert the plans we *want*, not just the
results (SURVEY.md §4 — everything the reference hand-codes is a built-in
Catalyst behavior, and these helpers prove it fires).

Used by the plan advisor and tests/test_plans.py to pin:
  * predicate pushdown into parquet scans (PushedFilters),
  * column pruning (ReadSchema carries only referenced columns),
  * broadcast joins for dimension tables.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (Spark only prints it)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if a parquet scan pushes a filter mentioning ``fragment``."""
    txt = explain_str(df)
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", txt):
        if fragment in m.group(1):
            return True
    return False


def scan_schema(df: DataFrame) -> list[str]:
    """Column names appearing in parquet ReadSchema entries (pruning proof)."""
    txt = explain_str(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", txt):
        for part in m.group(1).split(","):
            name = part.split(":")[0].strip()
            if name:
                cols.append(name)
    return cols


def pruned_columns(df: DataFrame, table_cols: list[str]) -> set[str]:
    """Columns of ``table_cols`` that the scan does NOT read."""
    return set(table_cols) - set(scan_schema(df))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df) or "BroadcastNestedLoopJoin" in explain_str(df)
