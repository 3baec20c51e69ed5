"""Plan-audit helpers: make physical-plan quality *testable*.

The engine's performance contract (SURVEY.md §4.3) is structural: one
shuffle per grouping, partial+final aggregation, no Python evaluation in
hot paths, filters pushed to the scan. These helpers read the executed
plan so tests can assert those properties instead of hoping for them.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

__all__ = [
    "physical_plan",
    "count_exchanges",
    "has_python_eval",
    "has_partial_aggregation",
    "pushed_filters",
    "file_scans",
    "assert_single_shuffle_agg",
]


def physical_plan(df: DataFrame) -> str:
    """The (non-AQE-finalized) executed plan as a string."""
    return df._jdf.queryExecution().executedPlan().toString()


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchange nodes in the plan, each counted once
    whatever its tree prefix (``+-``, ``:-``, ``:  +-``). Broadcast
    exchanges are excluded — those are the cheap kind — and so are
    ``ReusedExchange`` lines, which shuffle nothing. After an action
    only AQE's final plan is read, as in :func:`file_scans`."""
    final = physical_plan(df).split("== Initial Plan ==")[0]
    return len(re.findall(r"^[\s:+\-]*Exchange ", final, re.M))


def has_python_eval(df: DataFrame) -> bool:
    plan = physical_plan(df)
    return "BatchEvalPython" in plan or "ArrowEvalPython" in plan


def has_partial_aggregation(df: DataFrame) -> bool:
    """True when the aggregate runs map-side partials (partial_sum/...)."""
    return "partial_" in physical_plan(df)


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every parquet scan in the plan."""
    plan = physical_plan(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def file_scans(df: DataFrame) -> list[str]:
    """The location of every file scan in ``df``'s plan, one entry per
    scan node. Call it after an action: AQE's final plan then shows a
    reused exchange as one line, so a table appears twice only when it
    is really read twice."""
    final = physical_plan(df).split("== Initial Plan ==")[0]
    return re.findall(r"FileScan .*?Location: [^\[]*\[([^\]]*)\]", final)


def assert_single_shuffle_agg(df: DataFrame) -> None:
    """Assert the canonical weighted-agg shape: partial aggregation and at
    most one hash-partitioning exchange (plus whatever AQE adds for the
    final ordering, which reads from the same shuffle)."""
    plan = physical_plan(df)
    if "partial_" not in plan:
        raise AssertionError("no map-side partial aggregation in plan:\n" + plan)
    hash_exchanges = plan.count("Exchange hashpartitioning")
    if hash_exchanges > 1:
        raise AssertionError(
            f"{hash_exchanges} hash exchanges (want ≤1):\n" + plan
        )
