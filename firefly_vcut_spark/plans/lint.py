"""Physical-plan linter: the anti-pattern checks this repo's plan
gates assert one-by-one, packaged as a reusable tool (run it on any
DataFrame before promoting a pipeline to the cluster).

Heuristics operate on the executed-plan string — the same surface
`tests/test_plans.py` gates — so what CI enforces for the registry,
a user can ask interactively for their own composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# severity: (code, human message)
_CHECKS = [
    (
        "CartesianProduct",
        "cartesian-product",
        "non-broadcast cartesian join: |left|x|right| rows shuffle-free is "
        "a scale cliff — broadcast one side or add an equi-key",
    ),
    (
        "BatchEvalPython",
        "row-python-udf",
        "row-at-a-time Python UDF in the plan: 10-100x slower than Arrow — "
        "use pandas_udf / mapInPandas or a built-in Column expression",
    ),
    (
        "SortMergeJoin",
        "sort-merge-join",
        "sort-merge join: fine for two big tables, but if one side is "
        "dim-sized broadcast it; if the join repeats on this key, bucket "
        "both sides to delete the exchange",
    ),
]


def _reused_plan(df: DataFrame):
    """The physical plan as it will run, with shared exchanges reused.

    Before execution, AQE's current plan gives every consumer of a
    shared subtree its own exchange copy; AQE reuses them at run time
    (its stage cache). Applying Spark's own reuse rule up front turns
    the copies into the ReusedExchange pointers the run will use."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.execution.reuse.ReuseExchangeAndSubquery.apply(plan)


def lint_plan(df: DataFrame, max_exchanges: int = 6) -> list[str]:
    """Return a list of 'code: message' findings for the DataFrame's
    executed plan (empty list = no anti-pattern detected)."""
    plan = _reused_plan(df).toString()
    findings = []
    for marker, code, msg in _CHECKS:
        if marker in plan:
            findings.append(f"{code}: {msg}")
    # count DISTINCT exchange nodes: the plan string reprints a cached
    # (InMemoryRelation) subtree under every reference, so the same
    # physical exchange — one [plan_id=N] — can appear many times while
    # executing once. ReusedExchange nodes are pointers, not exchanges:
    # a subtree shared by several consumers of one plan runs once.
    import re

    ex_nodes = set()
    for ln in plan.splitlines():
        if "ReusedExchange" in ln:
            continue
        m = re.search(r"\b(?:Broadcast)?Exchange ", ln)
        if m:
            # slice from the node name: the tree-drawing prefix differs
            # per reference depth while [plan_id=N] identifies the node
            ex_nodes.add(ln[m.start() :])
    n_ex = len(ex_nodes)
    if n_ex > max_exchanges:
        findings.append(
            f"exchange-count: {n_ex} exchanges (> {max_exchanges}) — look for "
            "a reusable partitioning (repartition once, derive the rest) or "
            "aggregates that could fold into one pass"
        )
    # unpushed scan-side filter: a Filter sitting directly on a FileScan
    # whose PushedFilters is empty usually means a cast/expression is
    # blocking pushdown
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "FileScan" in line and "PushedFilters: []" in line:
            above = lines[i - 1] if i else ""
            if "+- Filter " in above or "Filter (" in above:
                findings.append(
                    "unpushed-filter: filter evaluates above a scan with no "
                    "pushed predicates — check for casts/UDFs wrapping the "
                    "filtered column"
                )
                break
    return findings
