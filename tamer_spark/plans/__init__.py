from tamer_spark.plans.inspect import (
    explain_str,
    plan_shape,
    pushed_filters,
    read_schema_columns,
)

__all__ = [
    "explain_str",
    "plan_shape",
    "pushed_filters",
    "read_schema_columns",
]
