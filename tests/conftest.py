from __future__ import annotations

import re

import pytest


@pytest.fixture(scope="session")
def spark():
    from sketchlib.spark.session import get_spark

    s = get_spark(app="sketchlib-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


def _top_level_args(call: str) -> list[str]:
    """``call``'s comma-separated arguments, split outside parentheses."""
    args, depth, start = [], 0, 0
    for i, c in enumerate(call):
        depth += {"(": 1, ")": -1}.get(c, 0)
        if c == "," and depth == 0:
            args.append(call[start:i].strip())
            start = i + 1
    return args + [call[start:].strip()]


@pytest.fixture(scope="session")
def arrow_udf_inputs():
    """``inputs(df)`` → ``(plan, args)``: ``df``'s executed plan string and,
    per ArrowEvalPython node, the argument expressions its UDF receives, as
    printed (the only values that node ships to the Python worker)."""

    def inputs(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        calls = re.findall(r"ArrowEvalPython \[\w+\((.*)\)#\d+\], \[", plan)
        return plan, [_top_level_args(c) for c in calls]

    return inputs
