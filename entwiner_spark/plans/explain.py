"""Physical-plan inspection helpers (the PLANS.md audit tooling).

``plan_summary`` condenses ``explain("formatted")`` to the lines that
matter for scale review: scans (with pushed filters + read schema),
exchanges, join strategies, top-k operators, and codegen spans.
``assert_pushed_filters`` turns the "is the filter reaching parquet?"
check into a testable invariant.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

_KEY_MARKERS = (
    "Scan parquet",
    "PushedFilters",
    "ReadSchema",
    "Exchange",
    "BroadcastExchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "HashAggregate(keys",
    "TakeOrderedAndProject",
    "WholeStageCodegen",
    "Window",
    # scale red flags: all-pairs joins and Python execution nodes must
    # be visible to the audit, not silently filtered out
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
)


def _formatted_plan(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def plan_summary(df: DataFrame, width: int = 160) -> list[str]:
    """Key physical-plan lines, in plan order."""
    out = []
    for line in _formatted_plan(df).splitlines():
        ls = line.strip()
        if any(m in ls for m in _KEY_MARKERS):
            out.append(ls[:width])
    return out


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges)."""
    return sum(
        1
        for line in plan_summary(df)
        if line.startswith("Exchange") or line.startswith("+- Exchange")
        or ") Exchange" in line
    )


def optimized_plan(df: DataFrame) -> str:
    """The Catalyst optimized logical plan as a string, untruncated
    enough for expression-level auditing.  The field cap goes to
    ``treeString`` as an argument (verbose, no suffix, 100000 fields,
    no operator ids, no output columns), so the session's
    ``spark.sql.debug.maxToStringFields`` is never touched."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.treeString(True, False, 100000, False, False)


# Expensive per-row producers that must never be re-evaluated inside a
# higher-order-function lambda: Catalyst does NOT common-subexpression-
# eliminate across lambda boundaries, so `transform(split(text), ...)`
# style expressions re-run the producer PER ELEMENT — the O(n^2)/row
# pathology let_bound (functions/expr.py) exists to prevent.  Measured
# r8: winnowing 27.2 s -> 2.0 s at sf0.1 from staging exactly this.
_HOF_PRODUCERS = ("split(", "sentences(", "regexp_extract_all(")


def _lambda_spans(plan: str) -> list[tuple[int, int]]:
    spans = []
    for m in re.finditer(r"lambdafunction\(", plan):
        i, depth = m.end(), 1
        while i < len(plan) and depth:
            if plan[i] == "(":
                depth += 1
            elif plan[i] == ")":
                depth -= 1
            i += 1
        spans.append((m.start(), i))
    return spans


def hof_reeval_violations(df: DataFrame) -> list[str]:
    """Occurrences of an expensive producer applied to a NON-lambda
    input inside a lambda body in the optimized plan — each one is a
    per-element re-evaluation Catalyst will not deduplicate.  A
    producer over the lambda variable itself (``split(lambda x...)``)
    is element-wise work, not re-evaluation, and is not flagged."""
    plan = optimized_plan(df)
    spans = _lambda_spans(plan)
    out = []
    for p in _HOF_PRODUCERS:
        for m in re.finditer(re.escape(p), plan):
            if any(a <= m.start() < b for a, b in spans):
                # full argument span to the matching close paren: a
                # producer whose arguments reference the lambda
                # variable ANYWHERE (split(upper(lambda x...)), not
                # just as the literal first token) is element-wise
                # work — its result varies per element, so there is
                # nothing for CSE to hoist
                i, depth = m.end(), 1
                while i < len(plan) and depth:
                    if plan[i] == "(":
                        depth += 1
                    elif plan[i] == ")":
                        depth -= 1
                    i += 1
                arg = plan[m.end():i]
                if "lambda " not in arg:
                    out.append(f"{p}{arg[:40]}...")
    return out


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Raise AssertionError unless every fragment appears in some
    PushedFilters line — i.e. the predicate reached the parquet scan."""
    pushed = [l for l in plan_summary(df) if "PushedFilters" in l]
    joined = " ".join(pushed)
    missing = [f for f in fragments if f not in joined]
    if missing:
        raise AssertionError(
            f"filters not pushed to scan: {missing}; pushed lines: {pushed}"
        )
