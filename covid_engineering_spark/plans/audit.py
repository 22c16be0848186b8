"""Physical-plan audit: programmatic assertions over ``explain``
output so scale properties are *tested*, not eyeballed.

At 100 TB the difference between a pushed filter and a post-scan
filter, or a broadcast join and a shuffled one, is the whole job. The
reference cannot express any of this (pandas always scans everything,
SURVEY.md §4); this module turns the Spark-side guarantees into
assertions the test suite runs on every change:

* ``pushed_filters(df)`` — predicates that reached the Parquet reader;
* ``read_schema(df)`` — columns the scan actually decodes (pruning);
* ``broadcast_join_count(df)`` — dimension joins must not shuffle the
  fact side;
* ``has_cartesian(df)`` — a join that degenerated to a cross product;
* ``codegen_stage_count(df)`` — whole-stage-codegen spans (0 means the
  plan fell out of Tungsten, e.g. an expression tree too big for
  janino — exactly the regression fixed in operators/wrangling.py);
* ``shuffle_count(df)`` — exchanges in the plan; the audit for "did I
  add an accidental extra shuffle".
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The ``explain('formatted')`` text of the *executed* plan
    (post-AQE initial plan; string form, no stdout capture games).
    """
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "simple"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Non-empty PushedFilters bodies, one raw string per scan."""
    return [
        m.group(1).strip()
        for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))
        if m.group(1).strip()
    ]


def partition_filters(df: DataFrame) -> list[str]:
    """Non-empty PartitionFilters bodies — predicates resolved against
    the directory layout, i.e. files never opened at all."""
    return [
        m.group(1).strip()
        for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", formatted_plan(df))
        if m.group(1).strip()
    ]


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema struct bodies for each scan — the pruning audit."""
    return [
        m.group(1)
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", formatted_plan(df))
    ]


def broadcast_join_count(df: DataFrame) -> int:
    return len(re.findall(r"BroadcastHashJoin", simple_plan(df)))


def has_cartesian(df: DataFrame) -> bool:
    """A true cross product (both sides materialized against each
    other). BroadcastNestedLoopJoin is deliberately NOT counted: over a
    tiny broadcast build side it is the correct physical shape for
    non-equi banding joins (see relational.q_j5_range_join).
    """
    return bool(re.search(r"CartesianProduct", simple_plan(df)))


def has_broadcast_nested_loop(df: DataFrame) -> bool:
    return bool(re.search(r"BroadcastNestedLoopJoin", simple_plan(df)))


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct WholeStageCodegen spans in the *final* (post-AQE)
    executed plan. Executes the query via the noop sink first — under
    AQE the final plan (and whether janino actually compiled each
    stage, vs. falling back to interpreted mode on an oversized
    expression tree) only exists after execution.
    """
    df.collect()  # a write would spawn its own QueryExecution; collect
    # executes *this* plan, so AQE's final plan lands on df itself.
    text = df._jdf.queryExecution().executedPlan().toString()
    return len(set(re.findall(r"\*\((\d+)\)", text)))


def shuffle_count(df: DataFrame) -> int:
    """DISTINCT Exchange operators (shuffles) in the physical plan.
    AQE may later coalesce partitions but cannot remove a planned
    exchange. Deduplicated by ``plan_id``: the explain text reprints a
    cached (InMemoryRelation) build subtree under every branch that
    reads it, but those exchanges execute once at cache population —
    counting each reprint would charge a reused frame N times.
    """
    seen: set[str] = set()
    n = 0
    for m in re.finditer(
        r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)[^\n]*",
        simple_plan(df),
    ):
        pid = re.search(r"plan_id=(\d+)", m.group(0))
        key = pid.group(1) if pid else f"pos:{m.start()}"
        if key not in seen:
            seen.add(key)
            n += 1
    return n


def sort_merge_join_count(df: DataFrame) -> int:
    return len(re.findall(r"SortMergeJoin", simple_plan(df)))

