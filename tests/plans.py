"""Physical-plan inspection + assertion helpers for tests/test_plans.py.

The engine's plan-shape claims (column pruning so payload ``bytes``
never leave the scan, map-side-only flagship pipeline, Arrow-only
Python islands) are testable properties of the optimized plan: these
helpers turn ``df.explain(...)`` into assertions so regressions in plan
shape fail the same way wrong values would (SURVEY.md §4).

Matching is deliberately substring-loose so Spark-version formatting
drift doesn't break the suite.
"""
from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges)."""
    simple = physical_plan(df, "simple")
    return len(re.findall(
        r"Exchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)",
        simple))


def python_eval_count(df: DataFrame) -> int:
    """ArrowEvalPython / BatchEvalPython operators in the plan — the
    Python islands.  BatchEvalPython (row-at-a-time) should be ZERO
    everywhere in this engine."""
    plan = physical_plan(df, "simple")
    return plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")


def _fail(msg: str, df: DataFrame) -> None:
    raise AssertionError(msg + "\n--- plan ---\n" + physical_plan(df, "simple"))


def assert_column_pruned(df: DataFrame, absent_cols: list[str]) -> None:
    """Every file scan's ReadSchema must omit ``absent_cols``."""
    schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", physical_plan(df))
    if not schemas:
        _fail("no file scans found in plan", df)
    for s in schemas:
        for c in absent_cols:
            if re.search(rf"\b{re.escape(c)}:", s):
                _fail(f"column '{c}' not pruned from scan: {s}", df)


def assert_no_shuffle(df: DataFrame) -> None:
    simple = physical_plan(df, "simple")
    for marker in ("Exchange hashpartitioning", "Exchange rangepartitioning",
                   "Exchange RoundRobin", "Exchange SinglePartition"):
        if marker in simple:
            _fail("plan contains a shuffle exchange", df)
