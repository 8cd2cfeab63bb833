"""Physical-plan audit utilities.

The 100 TB design rests on properties that are invisible in results but
decisive at scale: filters reaching the parquet scan, scans reading only
projected columns, small dimensions broadcasting, operators staying inside
whole-stage codegen. These helpers make those properties assertable in
tests, so a regression that silently de-optimizes a plan fails CI, not the
cluster bill.
"""

from __future__ import annotations

import collections
import re

from pyspark.sql import DataFrame

# The physical nodes a plan shape counts: shuffles, every join strategy,
# aggregates, windows and their top-k pruning, generators, and (as one
# ``python`` count) the Python exec nodes that hop to a worker process.
SHAPE_NODES = (
    "Exchange",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "HashAggregate",
    "Window",
    "WindowGroupLimit",
    "TakeOrderedAndProject",
    "Generate",
    "Expand",
)
# MapInPandas, BatchEvalPythonUDTF, ArrowEvalPython, FlatMapGroupsInPandas,
# MapInArrow, ...: every exec node that runs Python names one of these
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (what .explain() prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def plan_shape(df: DataFrame) -> dict[str, int]:
    """Node census of the pre-execution plan: one count per numbered
    detail block of the formatted explain for each of ``SHAPE_NODES``,
    plus ``python``, the number of Python exec nodes. Under AQE the
    initial plan is fixed before any stage runs, so the census is a
    deterministic, machine-checkable summary of what the query will do
    (PLAN_SHAPES.json holds it for every registered query)."""
    seen = collections.Counter(
        re.findall(r"^\(\d+\) (\w+)", explain_str(df), re.M)
    )
    shape = {n: seen[n] for n in SHAPE_NODES}
    shape["python"] = sum(c for n, c in seen.items() if _PYTHON_NODE.search(n))
    return shape


def plan_has(df: DataFrame, *needles: str, mode: str = "formatted") -> bool:
    """True if every needle appears in the plan text."""
    plan = explain_str(df, mode)
    return all(n in plan for n in needles)


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names read by parquet scans (ReadSchema entries) — the
    column-pruning audit: a 2-column projection must not read 6 columns.

    Parses the struct body with bracket counting, NOT a [^>]* regex: a
    nested type like array<float> contains both '>' and ','; the naive
    regex stops at the inner '>' and silently drops every column after
    the nested one, letting pruning regressions pass the audit. The
    field split tracks '(' / ')' depth as well as '<' / '>': parametric
    types like decimal(12,2) carry a comma inside parens, and an
    angle-only split would emit a bogus '2)' column."""
    plan = explain_str(df, "formatted")
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<(.*)", plan):
        body, depth = "", 1
        for ch in m.group(1):
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
                if depth == 0:
                    break
            body += ch
        depth = 0
        field = ""
        for ch in body + ",":
            if ch in "<(":
                depth += 1
            elif ch in ">)":
                depth -= 1
            if ch == "," and depth == 0:
                name = field.split(":")[0].strip()
                if name:
                    cols.append(name)
                field = ""
            else:
                field += ch
    return cols
