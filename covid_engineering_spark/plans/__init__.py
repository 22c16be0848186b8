"""Physical-plan introspection & audit (see plans/audit.py)."""

from covid_engineering_spark.plans.audit import (  # noqa: F401
    broadcast_join_count,
    codegen_stage_count,
    formatted_plan,
    has_broadcast_nested_loop,
    has_cartesian,
    partition_filters,
    pushed_filters,
    read_schemas,
    shuffle_count,
    simple_plan,
    sort_merge_join_count,
)
